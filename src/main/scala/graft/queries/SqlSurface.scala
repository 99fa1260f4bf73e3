package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.queries.Num._

/** The reference's "delegated SQL surface" (SURVEY.md §2.3): Arthur
  * ships arbitrary SELECTs to Redshift
  * (/root/reference/python/etl/relation.py:279-293,
  * python/etl/dialect/redshift.py:218-229). Here Catalyst plays
  * Redshift's role: each query is declared with the DataFrame API and
  * the optimizer picks pushdown, join strategy, and aggregation mode.
  *
  * Scale stance (100 TB): filters sit directly on scans so parquet
  * row-group pruning + column pruning apply; dimension tables
  * (region/nation/supplier/customer at warehouse scale-ratios) are
  * broadcast; fact-fact joins shuffle on their join key and rely on
  * AQE for skew; aggregations use map-side partial agg (automatic for
  * groupBy.agg); window functions partition on high-cardinality keys
  * so no single partition exceeds executor memory.
  */
object SqlSurface {

  private def ts(s: String): Column = to_timestamp(lit(s))

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1-style pricing summary. 4 groups → tiny shuffle; map-side
    * partial agg does nearly all work. Linear in input, no join. */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "lineitem")
      .filter($"l_shipdate" <= ts("1998-09-02 00:00:00"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  ${davgSql("l_extendedprice")} AS avg_price,
       |  ${davgSql("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q2
  /** Multi-join revenue per nation (TPC-H Q5 shape). `nation` is tiny
    * → broadcast; customer⋈orders and orders⋈lineitem shuffle on their
    * keys (both sides large at 100 TB). Filter on o_orderdate is
    * pushed to the orders scan before the join. */
  def q2JoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.load(spark, sfDir, "customer")
    val orders = Tables.load(spark, sfDir, "orders")
      .filter($"o_orderdate" >= ts("1995-01-01 00:00:00") &&
        $"o_orderdate" < ts("1996-01-01 00:00:00"))
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val nation = Tables.load(spark, sfDir, "nation")
    lineitem
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q2JoinAggSql: String =
    s"""SELECT n_name,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q3
  /** Top-k by aggregate (TPC-H Q3 shape). The global top-10 after a
    * grouped agg: Spark plans TakeOrderedAndProject — each partition
    * keeps 10 rows, driver merges → no full sort at scale. */
  def q3TopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, sfDir, "orders")
    // orders broadcasts, so join + 150k-group decimal partial-agg all
    // rode the ONE lineitem scan split (measured 1.4 s single-task);
    // spread is a no-op once the scan splits ≥ cores
    val lineitem = Tables.spread(Tables.load(spark, sfDir, "lineitem"))
    lineitem
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(10)
      .select($"o_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
        $"o_orderpriority", $"revenue")
  }

  val q3TopKSql: String =
    s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority, revenue
       |FROM (
       |  SELECT o_orderkey, o_orderdate, o_orderpriority,
       |    ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY o_orderkey, o_orderdate, o_orderpriority
       |) ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q4
  /** Window functions: per-supplier shipment ranking + running totals.
    * Partitioned by l_suppkey (high cardinality at scale → even
    * distribution); running sum accumulates in DECIMAL so the result
    * is order-exact regardless of the engine's frame evaluation. */
  def q4Window(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, sfDir, "lineitem")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_qty",
        sum($"l_quantity".cast(DecimalType(18, 6))).over(running).cast(DoubleType))
      .withColumn("prev_qty", lag($"l_quantity", 1).over(w))
      .filter($"rn" <= 3)
      .select($"l_suppkey", $"rn", $"l_orderkey", $"l_linenumber",
        $"l_quantity", $"running_qty", $"prev_qty")
      .orderBy($"l_suppkey", $"rn")
  }

  val q4WindowSql: String =
    """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_quantity, running_qty, prev_qty
      |FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
      |    row_number() OVER w AS rn,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
      |    lag(l_quantity, 1) OVER w AS prev_qty
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
      |) WHERE rn <= 3
      |ORDER BY l_suppkey, rn""".stripMargin

  // ---------------------------------------------------------------- q5
  /** Set operations: INTERSECT / EXCEPT / UNION ALL over customer key
    * sets (buyers in 1995 vs 1996). Set ops shuffle on the full row —
    * at scale, project to the key column FIRST (done here) so the
    * shuffle payload is minimal. */
  def q5SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, sfDir, "orders")
    def buyersIn(year: Int): DataFrame = orders
      .filter($"o_orderdate" >= ts(s"$year-01-01 00:00:00") &&
        $"o_orderdate" < ts(s"${year + 1}-01-01 00:00:00"))
      .select($"o_custkey")
    val both = buyersIn(1995).intersect(buyersIn(1996))
      .select(lit("both").as("tag"), $"o_custkey")
    val only94 = buyersIn(1995).except(buyersIn(1996))
      .select(lit("only_1995").as("tag"), $"o_custkey")
    both.unionAll(only94).orderBy($"tag", $"o_custkey")
  }

  val q5SetOpsSql: String =
    """WITH b94 AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
      |     b95 AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
      |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM b94 INTERSECT SELECT o_custkey FROM b95)
      |UNION ALL
      |SELECT 'only_1995' AS tag, o_custkey FROM (SELECT o_custkey FROM b94 EXCEPT SELECT o_custkey FROM b95)
      |ORDER BY tag, o_custkey""".stripMargin

  // ---------------------------------------------------------------- q6
  /** TPC-H Q6: highly selective scan-aggregate, no join, no groupBy —
    * the canonical predicate-pushdown check (`PushedFilters` must show
    * all three range predicates at the parquet scan). */
  def q6Filter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "lineitem")
      .filter($"l_shipdate" >= ts("1996-01-01 00:00:00") &&
        $"l_shipdate" < ts("1997-01-01 00:00:00") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6FilterSql: String =
    s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue, COUNT(*) AS n_rows
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- q7
  /** Semi/anti joins (EXISTS / NOT EXISTS). Spark's left_semi/left_anti
    * avoid materializing the probe side's payload; at scale the orders
    * side is pre-projected to the join key only. */
  def q7SemiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.load(spark, sfDir, "customer")
    val orderCust = Tables.load(spark, sfDir, "orders").select($"o_custkey")
    val withOrders = customer.join(orderCust, $"c_custkey" === $"o_custkey", "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("with_orders").as("tag"), $"n")
    val noOrders = customer.join(orderCust, $"c_custkey" === $"o_custkey", "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("no_orders").as("tag"), $"n")
    withOrders.unionAll(noOrders).orderBy($"tag")
  }

  val q7SemiAntiSql: String =
    """SELECT 'with_orders' AS tag, COUNT(*) AS n FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT 'no_orders' AS tag, COUNT(*) AS n FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY tag""".stripMargin

  // ---------------------------------------------------------------- q8
  /** DISTINCT aggregates. Exact distinct counts require a per-group
    * dedup shuffle; Spark expands multi-distinct into a single
    * two-phase plan. (approx_count_distinct is the scale path but has
    * no cross-engine oracle.) */
  def q8Distinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        countDistinct($"o_custkey").as("n_custs"),
        countDistinct(date_format($"o_orderdate", "yyyy-MM").as("m")).as("n_months"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val q8DistinctSql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_custs,
      |  COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q9
  /** ROLLUP (grouping sets) over region→nation customer stats; the
    * multi-level aggregate is one shuffle (Expand + partial agg). */
  def q9Rollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.load(spark, sfDir, "customer")
    val nation = Tables.load(spark, sfDir, "nation")
    val region = Tables.load(spark, sfDir, "region")
    customer
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_custs"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  val q9RollupSql: String =
    s"""SELECT r_name, n_name, COUNT(*) AS n_custs, ${dsumSql("c_acctbal")} AS sum_bal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q10
  /** GROUP BY + HAVING: frequent buyers. HAVING is a post-agg filter —
    * Catalyst runs it after partial+final agg, before the sort. */
  def q10Having(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total_spent"))
      .filter($"n_orders" >= 15)
      .orderBy($"o_custkey")
  }

  val q10HavingSql: String =
    s"""SELECT o_custkey, COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS total_spent
       |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Decorrelated subquery: parts priced ≥ 1.03× their type's average.
    * Expressed as agg + re-join (what Catalyst decorrelates a
    * correlated subquery into); the per-type averages are tiny →
    * broadcast back. */
  def q11Subquery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.load(spark, sfDir, "part")
    val avgByType = part.groupBy($"p_type".as("t"))
      .agg(davg($"p_retailprice").as("avg_price"))
    part.join(broadcast(avgByType), $"p_type" === $"t")
      .filter($"p_retailprice" >= $"avg_price" * 1.03)
      .select($"p_partkey", $"p_type", $"p_retailprice", $"avg_price")
      .orderBy($"p_partkey")
  }

  val q11SubquerySql: String =
    s"""SELECT p_partkey, p_type, p_retailprice, avg_price
       |FROM part JOIN (
       |  SELECT p_type AS t, ${davgSql("p_retailprice")} AS avg_price
       |  FROM part GROUP BY p_type
       |) ON p_type = t
       |WHERE p_retailprice >= avg_price * 1.03
       |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Conditional (CASE) aggregation — pivot-style counters in one
    * pass, no extra shuffle vs a plain aggregate. */
  def q12Case(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        sum(when($"o_totalprice" > 200000.0, 1L).otherwise(0L)).as("n_big"),
        sum(when($"o_totalprice" <= 200000.0 && $"o_orderstatus" === "F", 1L).otherwise(0L)).as("n_small_f"),
        dsum(when($"o_orderstatus" === "O", $"o_totalprice").otherwise(lit(0.0))).as("open_value"))
      .orderBy($"o_orderpriority")
  }

  val q12CaseSql: String =
    s"""SELECT o_orderpriority,
       |  CAST(SUM(CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       |  CAST(SUM(CASE WHEN o_totalprice <= 200000.0 AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_small_f,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END")} AS open_value
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q13
  /** CTE / two-level aggregation (TPC-H Q13 custdist shape): orders
    * per customer, then distribution of that count. Second agg's input
    * is already small (one row per customer). */
  def q13Cte(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .groupBy($"o_custkey").agg(count(lit(1)).as("c_count"))
      .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q13CteSql: String =
    """WITH per_cust AS (SELECT o_custkey, COUNT(*) AS c_count FROM orders GROUP BY o_custkey)
      |SELECT c_count, COUNT(*) AS custdist FROM per_cust
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Time-bucketed event analytics (hourly tumbling window as a batch
    * groupBy). Buckets formatted as strings for engine-neutral
    * output. */
  def q14EventsHourly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "events")
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:00").as("hour"),
        $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"hour", $"event_type")
  }

  val q14EventsHourlySql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
       |  COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Sessionization: split each user's event stream on >30 min gaps
    * (lag + cumulative flag sum), then per-session stats. Windows
    * partition by user_id → even distribution at scale. */
  def q15EventsSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sess = Tables.load(spark, sfDir, "events")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          (unix_micros($"ts") - unix_micros($"prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy($"user_id", $"sess_id")
      .agg(count(lit(1)).as("n_events"),
        ((max(unix_micros($"ts")) - min(unix_micros($"ts"))) / 1000000L).cast("long").as("duration_s"))
      .groupBy($"user_id")
      .agg(max($"sess_id").as("n_sessions"),
        max($"n_events").as("max_events_per_session"),
        max($"duration_s").as("max_duration_s"))
      .orderBy($"user_id")
  }

  /** The NATIVE session-window form of q15 — `session_window` runs in
    * batch too, turning the two-window lag/cumsum composition into
    * one gap-merge aggregation (no per-user ordering pass; the
    * aggregate merges windows). Session merge is INCLUSIVE of the
    * window end (an event at exactly `prev + gap` continues the
    * session), which is precisely q15's strict-greater split — the
    * boundary spec pins it. Window end is `last event + gap`, hence
    * duration = end − start − gap. Same oracle as q15. */
  def q15cSessionsNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 1800L * 1000000L
    val sess = Tables.load(spark, sfDir, "events")
      .groupBy($"user_id",
        session_window($"ts", s"$gapUs microseconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"n_events",
        expr(s"(unix_micros(w.end) - unix_micros(w.start) - ${gapUs}L) div 1000000")
          .as("duration_s"))
    sess.groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max($"n_events").as("max_events_per_session"),
        max($"duration_s").as("max_duration_s"))
      .orderBy($"user_id")
  }

  val q15EventsSessionsSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts, 1) OVER w IS NULL
      |           OR (epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM flagged
      |), per_sess AS (
      |  SELECT user_id, sess_id, COUNT(*) AS n_events,
      |    CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS BIGINT) AS duration_s
      |  FROM sessions GROUP BY user_id, sess_id
      |)
      |SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, MAX(n_events) AS max_events_per_session,
      |  MAX(duration_s) AS max_duration_s
      |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q15b
  /** Native `session_window` sessionization — Spark's own gap-window
    * operator pinned against the from-first-principles oracle (q15 is
    * the lag+flag-sum derivation; this is the one-aggregation form a
    * Spark user should write). Boundary semantics differ from q15 by design:
    * `session_window` is half-open, so a gap of EXACTLY 30 min starts
    * a new session (q15's strict `>` keeps it) — the oracle encodes
    * `>=`. The window's end is last-event + gap, so duration is
    * `end − start − gap`. One shuffle on (user, session assignment);
    * no per-user global window anywhere. */
  def q15bSessionsWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sess = Tables.load(spark, sfDir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"n_events",
        ((unix_micros($"sw.end") - unix_micros($"sw.start")
          - lit(1800L * 1000000L)) / lit(1000000L)).cast("long")
          .as("duration_s"))
    sess.groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max($"n_events").as("max_events_per_session"),
        max($"duration_s").as("max_duration_s"))
      .orderBy($"user_id")
  }

  val q15bSessionsWindowSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts, 1) OVER w IS NULL
      |           OR (epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)) >= 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM flagged
      |), per_sess AS (
      |  SELECT user_id, sess_id, COUNT(*) AS n_events,
      |    CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS BIGINT) AS duration_s
      |  FROM sessions GROUP BY user_id, sess_id
      |)
      |SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_events_per_session,
      |  MAX(duration_s) AS max_duration_s
      |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q16
  /** PIVOT: status columns from row values. Spark's
    * `groupBy().pivot(col, values)` with explicit values compiles to
    * a single-pass CASE-aggregate (no extra shuffle vs a plain
    * groupBy, no values-discovery job); the oracle is the equivalent
    * conditional aggregation. */
  def q16Pivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum($"o_totalprice"))
      .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o", "P" -> "total_p"))
      .orderBy($"o_orderpriority")
  }

  val q16PivotSql: String =
    s"""SELECT o_orderpriority,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS total_f,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS total_o,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS total_p
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q17
  /** GROUPING SETS beyond ROLLUP (q9): disjoint grouping combinations
    * in one pass — Spark expands to a single Expand + one aggregate
    * (one shuffle), not one scan per set. `grouping()` flags
    * disambiguate the NULLs of a set from real NULLs. */
  def q17GroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("gs_orders")
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
         |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
         |  COUNT(*) AS n, ${Num.dsumSql("o_totalprice")} AS total
         |FROM gs_orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
  }

  val q17GroupingSetsSql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
       |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
       |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Latest-record-per-key — the change-data/dedup staple: one row
    * per customer, their most recent order. row_number over a
    * high-cardinality partition key (one shuffle, no global window);
    * ties broken by key for determinism. */
  def q18LatestPerKey(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    Tables.load(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .orderBy($"o_custkey")
  }

  val q18LatestPerKeySql: String =
    s"""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
       |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |  FROM orders)
       |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q19
  /** As-of join — for each purchase event, the latest click by the
    * same user at or before it. Spark has no native ASOF JOIN; the
    * scalable composition is the UNION-WINDOW shape: tag both
    * streams, union them, and carry the latest click forward with
    * `last(_, ignoreNulls)` over a per-user ordered frame — ONE
    * shuffle + sort on the (high-cardinality) user key, state bounded
    * by a row. The naive alternative (range join on `c.ts <= p.ts`
    * then max-per-pair) materializes every click×purchase pair per
    * user before pruning — quadratic per key, a scale-killer. The
    * oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the two engines
    * compute the same semantics by entirely independent plans.
    * (Events carry no duplicate (user_id, ts), so ordering by ts
    * alone is total per user and tie-handling never diverges.) */
  def q19AsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"),
        lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("long").as("click_id"),
        $"event_id".as("purchase_id"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"purchase_id".asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_id",
        last($"click_id", ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when($"click_id".isNotNull, $"ts"), ignoreNulls = true).over(w))
      .filter($"purchase_id".isNotNull)
      // timestamp_ntz output: the oracle's timestamps are naive —
      // Spark's default TimestampType would parquet-annotate
      // isAdjustedToUTC and fail the arrow type compare
      .select($"purchase_id", $"user_id",
        $"ts".cast("timestamp_ntz").as("purchase_ts"),
        $"last_click_id",
        $"last_click_ts".cast("timestamp_ntz").as("last_click_ts"))
      .orderBy($"purchase_id")
  }

  val q19AsofJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
      |  c.event_id AS last_click_id, c.ts AS last_click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin

  /** The SAME as-of semantics through the NATIVE custom operator
    * ([[graft.plans.AsofJoin]]: logical node → strategy → sort-merge
    * exec) instead of q19's union-window composition, hash-checked
    * against the identical DuckDB ASOF LEFT JOIN oracle — the custom
    * plan must agree with both the composition and the oracle. */
  def q19bAsofNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id".as("purchase_id"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"),
        $"event_id".as("last_click_id"))
    graft.plans.AsofJoin.asof(purchases, clicks,
        "user_id", "c_user", "ts", "c_ts", "last_click_id")
      .select($"purchase_id", $"user_id",
        $"ts".cast("timestamp_ntz").as("purchase_ts"),
        $"last_click_id",
        $"c_ts".cast("timestamp_ntz").as("last_click_ts"))
      .orderBy($"purchase_id")
  }

  /** q19c — the SAME as-of enrichment through the skew-resistant
    * time-bucketed form ([[graft.plans.AsofJoin.asofBucketed]], 1-day
    * buckets): the hot-key mitigation must agree with the identical
    * DuckDB ASOF oracle, proving the bucket split + boundary
    * carry-over reproduces the unbucketed answer exactly. */
  def q19cAsofBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id".as("purchase_id"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"),
        $"event_id".as("last_click_id"))
    graft.plans.AsofJoin.asofBucketed(purchases, clicks,
        "user_id", "c_user", "ts", "c_ts", "last_click_id",
        bucketWidth = 86400L * 1000000L)   // 1-day buckets, micros
      .select($"purchase_id", $"user_id",
        $"ts".cast("timestamp_ntz").as("purchase_ts"),
        $"last_click_id",
        $"c_ts".cast("timestamp_ntz").as("last_click_ts"))
      .orderBy($"purchase_id")
  }

  // ---------------------------------------------------------------- q20
  /** Exact discrete quantiles per group (SQL-standard
    * PERCENTILE_DISC): distribution stats for quality scoring —
    * median/p90/p99 of event values per type. Discrete (not
    * interpolated) quantiles return actual data values, so the
    * cross-engine hash is exact by construction — no float
    * arithmetic to diverge. The oracle computes the standard
    * definition (smallest value with cume_dist ≥ p) from first
    * principles, independently checking Spark's implementation.
    * Scale note: exact percentile aggregates buffer each group's
    * values; at 100 TB the production path is approx_percentile
    * (bounded mergeable sketch state, map-side combinable) — exact
    * disc quantiles are the verification contract, not the
    * billion-row-per-group plan. */
  def q20Quantiles(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "events").createOrReplaceTempView("qt_events")
    spark.sql(
      """SELECT event_type, COUNT(*) AS n,
        |  MIN(value) AS min_v,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
        |  percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90,
        |  percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99,
        |  MAX(value) AS max_v
        |FROM qt_events GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val q20QuantilesSql: String =
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
      |  FROM events
      |)
      |SELECT event_type, COUNT(*) AS n,
      |  MIN(value) AS min_v,
      |  MIN(CASE WHEN cd >= 0.5 THEN value END) AS p50,
      |  MIN(CASE WHEN cd >= 0.9 THEN value END) AS p90,
      |  MIN(CASE WHEN cd >= 0.99 THEN value END) AS p99,
      |  MAX(value) AS max_v
      |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q41
  /** SUPER/PartiQL navigation (Redshift's semi-structured tier) over
    * json-varchar data — the reference flattens `json`/`hstore`
    * sources to varchar (config/default_settings.yaml:97-118) and
    * modern Redshift transform SQL walks such payloads with dot
    * paths, array indexes, and UNNEST. The dialect shim rewrites the
    * PartiQL forms to `get_json_object` + an in-place `LATERAL
    * explode(from_json(...))`; DuckDB answers the same question with its
    * native json path operators and lateral `unnest`, sharing none of
    * the shim's machinery. */
  def q41SuperPaths(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "customer").createOrReplaceTempView("rs_customer")
    val redshiftSql =
      """WITH src AS (
        |  SELECT c_custkey AS id,
        |    '{"user":{"name":"' || c_name || '","key":' ||
        |      CAST(c_custkey AS STRING) || '},"tags":["t' ||
        |      CAST(c_custkey % 3 AS STRING) || '","t' ||
        |      CAST(c_custkey % 5 AS STRING) || '"]}' AS payload
        |  FROM rs_customer WHERE c_custkey <= 200
        |)
        |SELECT s.id, s.payload.user.name AS uname,
        |  CAST(s.payload.user.key AS BIGINT) AS ukey,
        |  s.payload.tags[0] AS tag1,
        |  t AS tag
        |FROM src s, UNNEST(s.payload.tags) AS t
        |ORDER BY s.id, tag""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q41SuperPathsSql: String =
    """WITH src AS (
      |  SELECT c_custkey AS id,
      |    '{"user":{"name":"' || c_name || '","key":' ||
      |      CAST(c_custkey AS VARCHAR) || '},"tags":["t' ||
      |      CAST(c_custkey % 3 AS VARCHAR) || '","t' ||
      |      CAST(c_custkey % 5 AS VARCHAR) || '"]}' AS payload
      |  FROM customer WHERE c_custkey <= 200
      |)
      |SELECT s.id, json_extract_string(s.payload, '$.user.name') AS uname,
      |  CAST(json_extract_string(s.payload, '$.user.key') AS BIGINT) AS ukey,
      |  json_extract_string(s.payload, '$.tags[0]') AS tag1,
      |  t.tag AS tag
      |FROM src s, unnest(CAST(s.payload -> '$.tags' AS VARCHAR[])) AS t(tag)
      |ORDER BY s.id, tag""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Redshift's NATIVE PartiQL iteration spelling — the SUPER array
    * as a comma-listed FROM item over an earlier alias, with an `AT`
    * ordinal: `FROM src s, s.doc.lines AS ln AT i`. (q41 covers the
    * Athena/Trino `UNNEST` spelling; migrating Redshift SUPER queries
    * use this form.) Object elements arrive as json text, so element
    * field refs compose (`ln.p`); `AT` ordinals are 0-based on both
    * engines. DuckDB answers with a correlated `generate_series` over
    * the array — none of the shim's machinery. */
  def q42PartiqlIterate(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rs_orders")
    val redshiftSql =
      """WITH src AS (
        |  SELECT o_orderkey AS id,
        |    '{"lines":[{"p":"a' || CAST(o_orderkey % 7 AS STRING) ||
        |      '","n":' || CAST(o_orderkey % 3 AS STRING) ||
        |      '},{"p":"a' || CAST(o_orderkey % 11 AS STRING) ||
        |      '","n":' || CAST(o_orderkey % 5 AS STRING) || '}]}' AS doc
        |  FROM rs_orders WHERE o_orderkey <= 400
        |)
        |SELECT s.id, CAST(i AS BIGINT) AS ord, ln.p AS part_code,
        |  CAST(ln.n AS BIGINT) AS n
        |FROM src s, s.doc.lines AS ln AT i
        |WHERE CAST(ln.n AS BIGINT) <> 1
        |ORDER BY s.id, ord""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q42PartiqlIterateSql: String =
    """WITH src AS (
      |  SELECT o_orderkey AS id,
      |    '{"lines":[{"p":"a' || CAST(o_orderkey % 7 AS VARCHAR) ||
      |      '","n":' || CAST(o_orderkey % 3 AS VARCHAR) ||
      |      '},{"p":"a' || CAST(o_orderkey % 11 AS VARCHAR) ||
      |      '","n":' || CAST(o_orderkey % 5 AS VARCHAR) || '}]}' AS doc
      |  FROM orders WHERE o_orderkey <= 400
      |),
      |arrs AS (
      |  SELECT id, CAST(doc -> '$.lines' AS VARCHAR[]) AS arr FROM src
      |)
      |SELECT a.id, CAST(g.i - 1 AS BIGINT) AS ord,
      |  json_extract_string(a.arr[g.i], '$.p') AS part_code,
      |  CAST(json_extract_string(a.arr[g.i], '$.n') AS BIGINT) AS n
      |FROM arrs a, unnest(range(1, len(a.arr) + 1)) AS g(i)
      |WHERE CAST(json_extract_string(a.arr[g.i], '$.n') AS BIGINT) <> 1
      |ORDER BY a.id, ord""".stripMargin

  // ---------------------------------------------------------------- q43
  /** One step past q42: NESTED-object navigation on the iteration
    * alias itself. Real SUPER queries rarely stop at scalar element
    * fields — each array element is an object holding objects
    * (`ln.meta.tag`), and the query aggregates GROUPED BY such a
    * nested path. Exercises the composition the r16 review called
    * untested: comma-iteration (`FROM s, s.doc.lines AS ln`, no AT)
    * × multi-level dot path on the element alias × the same path in
    * GROUP BY. Elements arrive as json TEXT from the
    * `from_json(..., 'array<string>')` rewrite, so nested paths ride
    * `get_json_object(ln, '$.meta.tag')`; DuckDB re-derives from its
    * native lateral unnest over a VARCHAR[] cast — no shared
    * machinery. */
  def q43PartiqlNested(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rs_orders")
    val redshiftSql =
      """WITH src AS (
        |  SELECT o_orderkey AS id,
        |    '{"lines":[{"meta":{"tag":"g' || CAST(o_orderkey % 4 AS STRING) ||
        |      '","w":' || CAST(o_orderkey % 3 AS STRING) ||
        |      '},"q":' || CAST(o_orderkey % 5 AS STRING) ||
        |      '},{"meta":{"tag":"g' || CAST(o_orderkey % 6 AS STRING) ||
        |      '","w":' || CAST(o_orderkey % 2 AS STRING) ||
        |      '},"q":' || CAST(o_orderkey % 7 AS STRING) || '}]}' AS doc
        |  FROM rs_orders WHERE o_orderkey <= 400
        |)
        |SELECT ln.meta.tag AS tag, COUNT(*) AS n,
        |  SUM(CAST(ln.q AS BIGINT)) AS total_q,
        |  SUM(CAST(ln.meta.w AS BIGINT)) AS total_w
        |FROM src s, s.doc.lines AS ln
        |GROUP BY ln.meta.tag
        |ORDER BY tag""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q43PartiqlNestedSql: String =
    """WITH src AS (
      |  SELECT o_orderkey AS id,
      |    '{"lines":[{"meta":{"tag":"g' || CAST(o_orderkey % 4 AS VARCHAR) ||
      |      '","w":' || CAST(o_orderkey % 3 AS VARCHAR) ||
      |      '},"q":' || CAST(o_orderkey % 5 AS VARCHAR) ||
      |      '},{"meta":{"tag":"g' || CAST(o_orderkey % 6 AS VARCHAR) ||
      |      '","w":' || CAST(o_orderkey % 2 AS VARCHAR) ||
      |      '},"q":' || CAST(o_orderkey % 7 AS VARCHAR) || '}]}' AS doc
      |  FROM orders WHERE o_orderkey <= 400
      |),
      |lines AS (
      |  SELECT u.ln
      |  FROM (SELECT CAST(doc -> '$.lines' AS VARCHAR[]) AS arr FROM src) a,
      |    unnest(a.arr) AS u(ln)
      |)
      |SELECT json_extract_string(ln, '$.meta.tag') AS tag,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(ln, '$.q') AS BIGINT)) AS BIGINT)
      |    AS total_q,
      |  CAST(SUM(CAST(json_extract_string(ln, '$.meta.w') AS BIGINT)) AS BIGINT)
      |    AS total_w
      |FROM lines
      |GROUP BY 1 ORDER BY tag""".stripMargin

  // ---------------------------------------------------------------- q44
  /** One step past q43: the `[*]` WILDCARD array step inside a filter
    * predicate — `WHERE s.doc.lines[*].q > 3` — the PartiQL path form
    * Redshift SUPER accepts where the wildcard-valued path in a
    * predicate holds when ANY array element matches (SQL/JSON
    * path-exists semantics). The shim rewrites it to a codegen'd
    * `exists()` higher-order function over the parsed array — a
    * per-row predicate, NO lateral explode, so the filter cannot
    * change the query's cardinality the way FROM-iteration does. The
    * same query also keeps an INDEXED path in the SELECT list to pin
    * the coexistence of the wildcard pass with the scalar path pass.
    * DuckDB answers with a correlated EXISTS over its native lateral
    * unnest — none of the shim's machinery. */
  def q44WildcardFilter(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rs_orders")
    val redshiftSql =
      """WITH src AS (
        |  SELECT o_orderkey AS id,
        |    '{"lines":[{"q":' || CAST(o_orderkey % 5 AS STRING) ||
        |      ',"tag":"t' || CAST(o_orderkey % 3 AS STRING) ||
        |      '"},{"q":' || CAST(o_orderkey % 7 AS STRING) ||
        |      ',"tag":"t' || CAST(o_orderkey % 4 AS STRING) || '"}]}' AS doc
        |  FROM rs_orders WHERE o_orderkey <= 400
        |)
        |SELECT s.id, s.doc.lines[0].tag AS first_tag
        |FROM src s
        |WHERE s.doc.lines[*].q > 3
        |ORDER BY s.id""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q44WildcardFilterSql: String =
    """WITH src AS (
      |  SELECT o_orderkey AS id,
      |    '{"lines":[{"q":' || CAST(o_orderkey % 5 AS VARCHAR) ||
      |      ',"tag":"t' || CAST(o_orderkey % 3 AS VARCHAR) ||
      |      '"},{"q":' || CAST(o_orderkey % 7 AS VARCHAR) ||
      |      ',"tag":"t' || CAST(o_orderkey % 4 AS VARCHAR) || '"}]}' AS doc
      |  FROM orders WHERE o_orderkey <= 400
      |)
      |SELECT s.id, json_extract_string(s.doc, '$.lines[0].tag') AS first_tag
      |FROM src s
      |WHERE EXISTS (
      |  SELECT 1
      |  FROM unnest(CAST(s.doc -> '$.lines' AS VARCHAR[])) AS u(ln)
      |  WHERE CAST(json_extract_string(u.ln, '$.q') AS BIGINT) > 3
      |)
      |ORDER BY s.id""".stripMargin

  // ---------------------------------------------------------------- q45
  /** SUPER OBJECT-attribute iteration — Redshift's PartiQL `UNPIVOT
    * expr AS value AT key` FROM item, the dual of array
    * comma-iteration (q42): one row per object ATTRIBUTE, key and
    * value as columns. The shim rewrites it to an explode over
    * `from_json(..., 'map<string,string>')` — per-row, no join. The
    * query walks a per-order metrics object whose attribute SET
    * varies by row (sparse attributes are the reason this form exists
    * — a fixed-column UNPIVOT can't express them), aggregating per
    * attribute name. DuckDB re-derives via `json_keys` + lateral
    * unnest + path extraction — none of the shim's machinery. */
  def q45SuperUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rs_orders")
    val redshiftSql =
      """WITH src AS (
        |  SELECT o_orderkey AS id,
        |    '{"m' || CAST(o_orderkey % 3 AS STRING) || '":' ||
        |      CAST(o_orderkey % 7 AS STRING) ||
        |      ',"m' || CAST(3 + o_orderkey % 4 AS STRING) || '":' ||
        |      CAST(o_orderkey % 5 AS STRING) || '}' AS doc
        |  FROM rs_orders WHERE o_orderkey <= 400
        |)
        |SELECT k AS attr, COUNT(*) AS n, SUM(CAST(v AS BIGINT)) AS total
        |FROM src s, UNPIVOT s.doc AS v AT k
        |GROUP BY k
        |ORDER BY attr""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q45SuperUnpivotSql: String =
    """WITH src AS (
      |  SELECT o_orderkey AS id,
      |    '{"m' || CAST(o_orderkey % 3 AS VARCHAR) || '":' ||
      |      CAST(o_orderkey % 7 AS VARCHAR) ||
      |      ',"m' || CAST(3 + o_orderkey % 4 AS VARCHAR) || '":' ||
      |      CAST(o_orderkey % 5 AS VARCHAR) || '}' AS doc
      |  FROM orders WHERE o_orderkey <= 400
      |),
      |kv AS (
      |  SELECT u.k AS attr,
      |    CAST(json_extract_string(s.doc, '$.' || u.k) AS BIGINT) AS val
      |  FROM src s, unnest(json_keys(s.doc)) AS u(k)
      |)
      |SELECT attr, COUNT(*) AS n, CAST(SUM(val) AS BIGINT) AS total
      |FROM kv GROUP BY 1 ORDER BY attr""".stripMargin

  // ---------------------------------------------------------------- q21
  /** A query written in REDSHIFT dialect — `LISTAGG ... WITHIN GROUP`,
    * `DATEADD(days, ...)`, boundary-crossing `DATEDIFF(day, ...)` —
    * run through [[graft.etl.DialectShims.rewriteRedshiftSql]] into
    * Catalyst. This is the reference's .sql-file compatibility path
    * (relation.py:279-293 ships user SQL verbatim to the warehouse),
    * exercised under the oracle hash rather than test-only: the shim's
    * rewrite, the unit-alias mapping, and the datediff boundary
    * semantics must all agree with DuckDB's native equivalents. */
  def q21RedshiftDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("rs_nation")
    Tables.load(spark, sfDir, "region").createOrReplaceTempView("rs_region")
    val redshiftSql =
      """SELECT r_name,
        |  LISTAGG(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
        |  COUNT(*) AS n_nations,
        |  CAST(DATEADD(days, 30, TIMESTAMP '1995-01-01 00:00:00') AS VARCHAR(32)) AS plus_30d,
        |  DATEDIFF(day, TIMESTAMP '1995-01-01 00:00:00', TIMESTAMP '1995-03-01 12:00:00') AS diff_days
        |FROM rs_nation JOIN rs_region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  /** `SELECT TOP n` (Redshift's LIMIT spelling) through the dialect
    * shim, in BOTH positions the scope logic distinguishes: a nested
    * block's TOP lands inside its own parens (top-3 customers per
    * scan of the subquery), the outer TOP limits the final result.
    * Oracle spells the same query with LIMIT. */
  def q35TopDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "customer").createOrReplaceTempView("top_customer")
    val redshiftSql =
      """SELECT TOP 2 c_custkey, c_acctbal FROM (
        |  SELECT TOP 5 c_custkey, c_acctbal
        |  FROM top_customer ORDER BY c_acctbal DESC, c_custkey
        |) t ORDER BY c_custkey""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q35TopDialectSql: String =
    """SELECT c_custkey, c_acctbal FROM (
      |  SELECT c_custkey, c_acctbal
      |  FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 5
      |) t ORDER BY c_custkey LIMIT 2""".stripMargin

  /** Bag-semantics set operations — INTERSECT ALL / EXCEPT ALL keep
    * multiplicities (min / difference of per-key counts), which the
    * DISTINCT forms in q5 collapse. Aggregated per key so the result
    * is compact and order-free. */
  def q36SetopsAll(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, sfDir, "lineitem")
    val a = li.filter($"l_returnflag" === "A").select($"l_suppkey")
    val r = li.filter($"l_returnflag" === "R").select($"l_suppkey")
    val common = a.intersectAll(r).groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n")).select(lit("common").as("tag"), $"l_suppkey", $"n")
    val onlyA = a.exceptAll(r).groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n")).select(lit("only_A").as("tag"), $"l_suppkey", $"n")
    common.unionAll(onlyA).orderBy($"tag", $"l_suppkey")
  }

  val q36SetopsAllSql: String =
    """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'),
      |r AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
      |common AS (
      |  SELECT 'common' AS tag, l_suppkey, COUNT(*) AS n
      |  FROM (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM r)
      |  GROUP BY l_suppkey),
      |only_a AS (
      |  SELECT 'only_A' AS tag, l_suppkey, COUNT(*) AS n
      |  FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM r)
      |  GROUP BY l_suppkey)
      |SELECT * FROM common UNION ALL SELECT * FROM only_a
      |ORDER BY tag, l_suppkey""".stripMargin

  /** Correlated EXISTS / NOT EXISTS — the subquery form q11's scalar
    * subquery doesn't cover. Catalyst decorrelates both into
    * semi/anti joins (the plan gate proves no nested-loop shape
    * survives). */
  def q37Exists(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "customer").createOrReplaceTempView("ex_customer")
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("ex_orders")
    spark.sql(
      """SELECT c_custkey, c_name FROM ex_customer c
        |WHERE EXISTS (SELECT 1 FROM ex_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM ex_orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }

  val q37ExistsSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 150000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Time-series gap fill with LINEAR INTERPOLATION — the timeseries
    * operator q23's calendar rollup stops short of: per event type,
    * every day between first and last observation gets a value,
    * missing days interpolated between the surrounding knots
    * (`locf + lead` IGNORE NULLS windows partitioned by type — never
    * global). Daily sums are decimal-accumulated (order-free), and
    * the interpolation arithmetic is the SAME IEEE expression tree on
    * both engines, so the hash compare stays bit-exact. */
  def q38Interpolate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, sfDir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(Num.dsum($"value").as("v"))
    val cal = daily.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"event_type",
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"day")
    val joined = cal.join(daily, Seq("event_type", "day"), "left")
      .withColumn("pv", last($"v", ignoreNulls = true)
        .over(byType.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("pd", last(when($"v".isNotNull, $"day"), ignoreNulls = true)
        .over(byType.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nv", first($"v", ignoreNulls = true)
        .over(byType.rowsBetween(0, Window.unboundedFollowing)))
      .withColumn("nd", first(when($"v".isNotNull, $"day"), ignoreNulls = true)
        .over(byType.rowsBetween(0, Window.unboundedFollowing)))
    joined.select($"event_type", $"day",
      when($"v".isNotNull, $"v")
        .when($"pv".isNull || $"nv".isNull, lit(null).cast("double"))
        .otherwise($"pv" + ($"nv" - $"pv") *
          (datediff($"day", $"pd").cast("double") /
            datediff($"nd", $"pd").cast("double")))
        .as("v_filled"))
      .orderBy($"event_type", $"day")
  }

  val q38InterpolateSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    ${Num.dsumSql("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |cal AS (
       |  SELECT event_type,
       |    CAST(unnest(generate_series(CAST(MIN(day) AS TIMESTAMP),
       |      CAST(MAX(day) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM daily GROUP BY event_type),
       |j AS (
       |  SELECT c.event_type, c.day, d.v,
       |    last_value(d.v IGNORE NULLS) OVER wp AS pv,
       |    last_value(CASE WHEN d.v IS NOT NULL THEN c.day END IGNORE NULLS)
       |      OVER wp AS pd,
       |    first_value(d.v IGNORE NULLS) OVER wn AS nv,
       |    first_value(CASE WHEN d.v IS NOT NULL THEN c.day END IGNORE NULLS)
       |      OVER wn AS nd
       |  FROM cal c LEFT JOIN daily d
       |    ON c.event_type = d.event_type AND c.day = d.day
       |  WINDOW
       |    wp AS (PARTITION BY c.event_type ORDER BY c.day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wn AS (PARTITION BY c.event_type ORDER BY c.day
       |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT event_type, day,
       |  CASE WHEN v IS NOT NULL THEN v
       |       WHEN pv IS NULL OR nv IS NULL THEN NULL
       |       ELSE pv + (nv - pv) *
       |         (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
       |  END AS v_filled
       |FROM j ORDER BY event_type, day""".stripMargin

  val q21RedshiftDialectSql: String =
    """SELECT r_name,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  COUNT(*) AS n_nations,
      |  CAST(TIMESTAMP '1995-01-01 00:00:00' + INTERVAL 30 DAY AS VARCHAR) AS plus_30d,
      |  date_diff('day', TIMESTAMP '1995-01-01 00:00:00', TIMESTAMP '1995-03-01 12:00:00') AS diff_days
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------- q22
  /** The OTHER half of the Redshift-dialect surface under the oracle
    * hash: `SIMILAR TO` (bracket classes + `%`, whole-string
    * anchoring — translated to RLIKE by the shim's masked rewrite),
    * `NVL`, `SPLIT_PART`, and Oracle-style `DECODE` — against
    * DuckDB's NATIVE `SIMILAR TO` and `split_part`, so the pattern
    * translation itself is hash-checked, not just unit-tested
    * (DialectShimsSpec covers the edge semantics; this proves the
    * common path end-to-end on real data). */
  def q22SimilarTo(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "customer").createOrReplaceTempView("rs_customer")
    val redshiftSql =
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CASE WHEN c_name SIMILAR TO 'Customer#0000000[0-9][0-9]' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_id,
        |  NVL(MIN(CASE WHEN c_acctbal > 9999999 THEN c_name END), 'none') AS rich_customer,
        |  MIN(SPLIT_PART(c_name, '#', 2)) AS min_suffix,
        |  CAST(DECODE(c_mktsegment, 'BUILDING', 1, 0) AS INT) AS is_building
        |FROM rs_customer
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q22SimilarToSql: String =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CASE WHEN c_name SIMILAR TO 'Customer#0000000[0-9][0-9]' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_id,
      |  COALESCE(MIN(CASE WHEN c_acctbal > 9999999 THEN c_name END), 'none') AS rich_customer,
      |  MIN(split_part(c_name, '#', 2)) AS min_suffix,
      |  CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS INT) AS is_building
      |FROM customer
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q23
  /** RECURSIVE CTE (Spark 4's WITH RECURSIVE — the last major ANSI
    * construct in the delegated surface): generate the month calendar
    * spanning the orders table by recursion (the warehouse
    * calendar-dimension pattern; carrying `hi` through the recursion
    * keeps the step subquery-free), then LEFT JOIN a monthly rollup of
    * only the rare 'P' status so empty months must be FILLED with
    * zero rows — the part a plain GROUP BY cannot produce. Scale
    * shape: the recursion materializes a few dozen calendar rows
    * (driver-trivial), the corpus side is one map-side-partial
    * groupBy, and the calendar joins it broadcast. */
  def q23RecursiveCte(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rc_orders")
    spark.sql(
      """WITH RECURSIVE months(m, hi) AS (
        |  SELECT date_trunc('MONTH', MIN(o_orderdate)),
        |         date_trunc('MONTH', MAX(o_orderdate)) FROM rc_orders
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi
        |),
        |agg AS (
        |  SELECT date_trunc('MONTH', o_orderdate) AS m, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS s
        |  FROM rc_orders WHERE o_orderstatus = 'P' AND o_totalprice > 480000 GROUP BY 1
        |)
        |SELECT date_format(months.m, 'yyyy-MM') AS order_month,
        |  CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_open,
        |  COALESCE(agg.s, 0.0) AS sum_open_price
        |FROM months LEFT JOIN agg ON months.m = agg.m
        |ORDER BY order_month""".stripMargin)
  }

  val q23RecursiveCteSql: String =
    """WITH RECURSIVE months(m, hi) AS (
      |  SELECT date_trunc('month', MIN(o_orderdate)),
      |         date_trunc('month', MAX(o_orderdate)) FROM orders
      |  UNION ALL
      |  SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi
      |),
      |agg AS (
      |  SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS s
      |  FROM orders WHERE o_orderstatus = 'P' AND o_totalprice > 480000 GROUP BY 1
      |)
      |SELECT strftime(months.m, '%Y-%m') AS order_month,
      |  CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_open,
      |  COALESCE(agg.s, 0.0) AS sum_open_price
      |FROM months LEFT JOIN agg ON months.m = agg.m
      |ORDER BY order_month""".stripMargin

  // ---------------------------------------------------------------- q24
  /** The ANALYTIC third of the Redshift-dialect surface:
    * `WIDTH_BUCKET` histogram binning, `MEDIAN` (interpolated), and
    * `RATIO_TO_REPORT ... OVER` (rewritten by the shim to the
    * explicit x/SUM-over-window form — redshift.py ships user SQL
    * verbatim, so the name must parse), plus `NVL2`. Float-hash
    * safety is by exact arithmetic, not tolerance: bucket bounds
    * (0, 64, 8) make every division a power-of-two scale (exact in
    * IEEE whatever order each engine multiplies), quantities are
    * integer-valued doubles so the even-count median interpolation
    * `(a+b)/2` is exact, and the ratio divides exactly-represented
    * integers — both engines produce bit-identical doubles. Scale
    * shape: one map-side-partial groupBy over lineitem; the window
    * runs on the few-dozen-row aggregate, partitioned by flag (never
    * global). */
  def q24AnalyticDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "lineitem").createOrReplaceTempView("rs_lineitem")
    val redshiftSql =
      """WITH g AS (
        |  SELECT l_returnflag AS flag,
        |    WIDTH_BUCKET(l_quantity, 0, 64, 8) AS qty_bucket,
        |    MEDIAN(l_quantity) AS med_qty,
        |    CAST(COUNT(*) AS BIGINT) AS n_items
        |  FROM rs_lineitem
        |  GROUP BY 1, 2
        |)
        |SELECT flag, qty_bucket, med_qty, n_items,
        |  RATIO_TO_REPORT(n_items) OVER (PARTITION BY flag) AS bucket_share,
        |  NVL2(NULLIF(qty_bucket, 1), 'multi', 'first') AS bucket_tag
        |FROM g
        |ORDER BY flag, qty_bucket""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  /** DuckDB has neither WIDTH_BUCKET, RATIO_TO_REPORT, nor NVL2: the
    * oracle derives all three from first principles (bucket formula
    * `1 + floor(v/8)` with the under/overflow arms, explicit
    * x/sum-over, CASE), independently checking both Spark's native
    * `width_bucket`/`median`/`nvl2` and the shim's rewrite. */
  val q24AnalyticDialectSql: String =
    """WITH g AS (
      |  SELECT l_returnflag AS flag,
      |    CASE WHEN l_quantity < 0 THEN 0
      |         WHEN l_quantity >= 64 THEN 9
      |         ELSE 1 + CAST(floor(l_quantity / 8.0) AS BIGINT) END AS qty_bucket,
      |    median(l_quantity) AS med_qty,
      |    CAST(COUNT(*) AS BIGINT) AS n_items
      |  FROM lineitem
      |  GROUP BY 1, 2
      |)
      |SELECT flag, qty_bucket, med_qty, n_items,
      |  CAST(n_items AS DOUBLE) / CAST(SUM(n_items) OVER (PARTITION BY flag) AS DOUBLE) AS bucket_share,
      |  CASE WHEN NULLIF(qty_bucket, 1) IS NOT NULL THEN 'multi' ELSE 'first' END AS bucket_tag
      |FROM g
      |ORDER BY flag, qty_bucket""".stripMargin

  // ---------------------------------------------------------------- q25
  /** The TIME third of the Redshift-dialect surface: `TO_CHAR`
    * datetime formats (the shim translates each PG token to a
    * `date_format` piece, case-wrapping name tokens individually so
    * mixed-case formats render right), `CONVERT_TIMEZONE` in both
    * arities (2-arg source is UTC BY DEFINITION in Redshift — not
    * the session zone), and parenless `SYSDATE` (exercised in a
    * tautological predicate so the query stays deterministic while
    * the rewrite still must parse and run). Fixed-OFFSET zones keep
    * the oracle derivable from first principles (interval shifts) —
    * DuckDB's named-zone support needs the ICU extension, which an
    * offline container may lack; named zones are DialectShimsSpec's
    * job. Orders timestamps are midnight-exact, so the VARCHAR cast
    * of the shifted wall time agrees byte-for-byte across engines.
    * Scale shape: pure per-row projection over one scan, top-k by
    * key — zero data movement beyond the TakeOrdered. */
  def q25TimeDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rs_orders")
    val redshiftSql =
      """SELECT o_orderkey,
        |  TO_CHAR(o_orderdate, 'YYYY-MON-DD') AS d_mon,
        |  TO_CHAR(o_orderdate, 'Dy, DD Month YYYY') AS d_pretty,
        |  TO_CHAR(o_orderdate, 'Q') AS d_quarter,
        |  CAST(CONVERT_TIMEZONE('+05:30', o_orderdate) AS VARCHAR(32)) AS ist_wall,
        |  CAST(CONVERT_TIMEZONE('+02:00', '-03:00', o_orderdate) AS VARCHAR(32)) AS cross_wall
        |FROM rs_orders
        |WHERE SYSDATE >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY o_orderkey LIMIT 200""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  /** DuckDB has no TO_CHAR/CONVERT_TIMEZONE/SYSDATE either: strftime
    * pieces (upper() only around the month token, rpad-9 around the
    * full month name — the engine must reproduce the shim's
    * per-token case wrapping AND PG's blank padding), interval
    * arithmetic for the zone shifts (+05:30; +02:00 → -03:00 nets
    * -5h through the UTC pivot), and a now()-based tautology. */
  val q25TimeDialectSql: String =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y-') || upper(strftime(o_orderdate, '%b')) || strftime(o_orderdate, '-%d') AS d_mon,
      |  strftime(o_orderdate, '%a, %d ') || rpad(strftime(o_orderdate, '%B'), 9, ' ') || strftime(o_orderdate, ' %Y') AS d_pretty,
      |  CAST(quarter(o_orderdate) AS VARCHAR) AS d_quarter,
      |  strftime(o_orderdate + INTERVAL '5 hours 30 minutes', '%Y-%m-%d %H:%M:%S') AS ist_wall,
      |  strftime(o_orderdate - INTERVAL '5 hours', '%Y-%m-%d %H:%M:%S') AS cross_wall
      |FROM orders
      |WHERE now() >= TIMESTAMP '2000-01-01 00:00:00'
      |ORDER BY o_orderkey LIMIT 200""".stripMargin

  // ---------------------------------------------------------------- q26
  /** The PARSE half of the datetime dialect under the oracle hash:
    * `TO_DATE`/`TO_TIMESTAMP` with PG format patterns, exercised as
    * ROUND-TRIPS through the TO_CHAR shim (format → reparse), so the
    * format translation and the parse translation must agree with
    * each other AND with DuckDB's strftime/strptime doing the same
    * round-trip. Nested-call composition is load-bearing here: the
    * TO_CHAR inside TO_DATE's first argument rewrites first, then
    * the outer parse rewrites around it. */
  def q26ParseDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rs_orders")
    val redshiftSql =
      """SELECT o_orderkey,
        |  CAST(TO_DATE(TO_CHAR(o_orderdate, 'MM/DD/YYYY'), 'MM/DD/YYYY') AS VARCHAR(32)) AS rt_date,
        |  CAST(TO_TIMESTAMP(TO_CHAR(o_orderdate, 'YYYY-MM-DD HH24:MI:SS'), 'YYYY-MM-DD HH24:MI:SS') AS VARCHAR(32)) AS rt_ts
        |FROM rs_orders
        |ORDER BY o_orderkey LIMIT 100""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q26ParseDialectSql: String =
    """SELECT o_orderkey,
      |  strftime(strptime(strftime(o_orderdate, '%m/%d/%Y'), '%m/%d/%Y'), '%Y-%m-%d') AS rt_date,
      |  strftime(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS rt_ts
      |FROM orders
      |ORDER BY o_orderkey LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q27
  /** TIME-RANGE rolling window — `RANGE BETWEEN INTERVAL 90 DAYS
    * PRECEDING` — the trailing-window analytic (rolling spend, rate
    * limits, retention) that ROWS frames cannot express when event
    * spacing is irregular. The frame is VALUE-based, so rows sharing
    * a timestamp are peers and the result is deterministic without
    * any tiebreak ordering; decimal accumulation keeps the double
    * bit-stable. Per-customer partitions bound the window's state —
    * no global sort anywhere. */
  def q27RollingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("w_orders")
    spark.sql(
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS rolling_90d
        |FROM w_orders ORDER BY o_orderkey LIMIT 500""".stripMargin)
  }

  val q27RollingWindowSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS rolling_90d
      |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Redshift/Snowflake `QUALIFY` through the shim — filter on a
    * window expression without writing the subquery — checked
    * against DuckDB's NATIVE QUALIFY, so the rewrite's semantics
    * (predicate after windowing, ORDER BY/LIMIT after the filter)
    * are hash-verified, not just unit-tested. Latest-order-per-
    * customer, the canonical QUALIFY use. */
  def q28Qualify(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rs_orders")
    val redshiftSql =
      """SELECT o_custkey, o_orderkey
        |FROM rs_orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey LIMIT 200""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q28QualifySql: String =
    """SELECT o_custkey, o_orderkey
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
      |ORDER BY o_custkey LIMIT 200""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Redshift JSON accessors through the shim — the
    * `JSON_EXTRACT_PATH_TEXT` family every event-props transform in a
    * real warehouse uses — against DuckDB's native JSON functions.
    * Sums an extracted numeric field per event type (cast through
    * BIGINT so both engines parse the text identically). */
  def q29JsonDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "events").createOrReplaceTempView("rs_events")
    val redshiftSql =
      """SELECT event_type,
        |  COUNT(JSON_EXTRACT_PATH_TEXT(props, 'k', true)) AS n_with_k,
        |  SUM(CAST(JSON_EXTRACT_PATH_TEXT(props, 'k') AS BIGINT)) AS sum_k,
        |  COUNT(JSON_EXTRACT_PATH_TEXT(props, 'missing', true)) AS n_missing
        |FROM rs_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q29JsonDialectSql: String =
    """SELECT event_type,
      |  COUNT(json_extract_string(props, '$.k')) AS n_with_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(json_extract_string(props, '$.missing')) AS n_missing
      |FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q20b
  /** INTERPOLATED percentiles — `percentile_cont WITHIN GROUP` — the
    * continuous complement of q20's discrete quantiles (Redshift ships
    * both; load.py's query surface passes them through verbatim).
    * Float-hash safety is arithmetic, not tolerance: l_quantity holds
    * integer-valued doubles and the fractions are quarters, so the
    * interpolation position `(n-1)·q` has a fraction in {0, ¼, ½, ¾}
    * and every algebraically-equivalent evaluation of
    * `a + (b-a)·f` / `(1-f)·a + f·b` yields the same exactly-
    * representable rational `((4-4f)·a + 4f·b)/4` — both engines
    * produce bit-identical doubles regardless of their formula. Scale
    * note mirrors q20: exact percentiles buffer per-group values; the
    * 100 TB path is approx_percentile / the histogram rollup
    * ([[DimOps.valueHistogram]]). */
  def q20bQuantilesCont(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "lineitem").createOrReplaceTempView("qc_lineitem")
    spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
        |  percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50,
        |  percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75
        |FROM qc_lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  val q20bQuantilesContSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5)  AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q30
  /** `IGNORE NULLS` window analytics — the FORWARD-FILL (LOCF) idiom
    * every event-stream warehouse query uses (carry the last observed
    * reading over gap rows), plus the rest of the null-aware window
    * family: `lead ... IGNORE NULLS` (next non-null observation),
    * `nth_value`, `percent_rank`, `cume_dist`. Spark spells the
    * modifier after the call (`last_value(x) IGNORE NULLS`), DuckDB
    * inside it (`last_value(x IGNORE NULLS)`) — the oracle pins the
    * SEMANTICS across both spellings. Determinism: (ts, event_id) and
    * (value, event_id) orderings are unique, frames are explicit ROWS,
    * and percent_rank/cume_dist are single divisions of small exact
    * integers (correctly-rounded identical doubles on both engines).
    * Scale shape: per-user partitions bound every window — no global
    * sort; the presentation TakeOrdered is the only total order. */
  def q30WindowDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "events").createOrReplaceTempView("wd_events")
    spark.sql(
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'click' THEN value END) IGNORE NULLS
        |    OVER w AS locf_click,
        |  lead(CASE WHEN event_type = 'click' THEN value END) IGNORE NULLS
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_click,
        |  nth_value(value, 3) OVER w AS third_value,
        |  percent_rank() OVER v AS pr,
        |  cume_dist() OVER v AS cd
        |FROM wd_events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       v AS (PARTITION BY user_id ORDER BY value, event_id)
        |ORDER BY event_id LIMIT 1000""".stripMargin)
  }

  val q30WindowDialectSql: String =
    """SELECT event_id, user_id,
      |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |    OVER w AS locf_click,
      |  lead(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_click,
      |  nth_value(value, 3) OVER w AS third_value,
      |  percent_rank() OVER v AS pr,
      |  cume_dist() OVER v AS cd
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |       v AS (PARTITION BY user_id ORDER BY value, event_id)
      |ORDER BY event_id LIMIT 1000""".stripMargin

  // ---------------------------------------------------------------- q31
  /** `UNPIVOT` — q16's inverse (wide measure columns → long rows), the
    * standard relational reshape before a measures table join or a
    * generic quality-metric sink. Runs on a small aggregate (3 rows ×
    * 3 measures) so the relational op itself is what's under test;
    * decimal sums cast to double AFTER aggregation keep the hash
    * order-independent. Both engines bind the measure NAME from the
    * column identifier, so names and values must agree byte-for-byte. */
  def q31Unpivot(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "lineitem").createOrReplaceTempView("up_lineitem")
    spark.sql(
      """WITH g AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS disc,
        |    CAST(SUM(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) AS tax
        |  FROM up_lineitem GROUP BY 1
        |)
        |SELECT flag, measure, amount
        |FROM g UNPIVOT (amount FOR measure IN (qty, disc, tax))
        |ORDER BY flag, measure""".stripMargin)
  }

  val q31UnpivotSql: String =
    """WITH g AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS disc,
      |    CAST(SUM(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) AS tax
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT flag, measure, amount
      |FROM g UNPIVOT (amount FOR measure IN (qty, disc, tax))
      |ORDER BY flag, measure""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Correlated LATERAL join — top-N-per-row as the SQL standard
    * spells it (each outer row re-runs the subquery; the planner
    * decorrelates it into a ranked window, so the declarative form
    * costs what the window form costs). Deterministic by the
    * (price DESC, orderkey) tiebreak inside the subquery and the
    * outer presentation sort. Both engines support the same
    * `CROSS JOIN LATERAL (...)` spelling — the oracle is literally
    * the same query. */
  def q32Lateral(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "customer").createOrReplaceTempView("lt_customer")
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("lt_orders")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM lt_customer c
        |CROSS JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM lt_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) t
        |WHERE c.c_custkey <= 200
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
  }

  val q32LateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c
      |CROSS JOIN LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
      |) t
      |WHERE c.c_custkey <= 200
      |ORDER BY c.c_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q33
  /** The string/scalar tail of the Redshift dialect: `CHARINDEX`
    * (REVERSED argument order vs Spark's instr — the shim flips it),
    * `LEN`, `STRTOL` (base-N string parse → conv), `SPLIT_PART`, and
    * `DATE_PART` — against DuckDB's native strpos/length/hex-cast/
    * date_part, so each translation's semantics (1-based positions,
    * 0 for absent, character not byte length, leading-zero parses)
    * are hash-checked. Pure per-row projection, one scan, TakeOrdered
    * presentation. */
  def q33StringDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "customer").createOrReplaceTempView("rs_customer")
    val redshiftSql =
      """SELECT c_custkey,
        |  CAST(CHARINDEX('9', c_name) AS BIGINT) AS pos9,
        |  CAST(CHARINDEX('zz', c_name) AS BIGINT) AS pos_absent,
        |  CAST(LEN(c_name) AS BIGINT) AS name_len,
        |  STRTOL(SPLIT_PART(c_name, '#', 2), 16) AS id_hex,
        |  CAST(DATE_PART('year', TIMESTAMP '1995-07-16 12:30:00') AS BIGINT) AS yr
        |FROM rs_customer ORDER BY c_custkey LIMIT 300""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q33StringDialectSql: String =
    """SELECT c_custkey,
      |  CAST(strpos(c_name, '9') AS BIGINT) AS pos9,
      |  CAST(strpos(c_name, 'zz') AS BIGINT) AS pos_absent,
      |  CAST(length(c_name) AS BIGINT) AS name_len,
      |  CAST(('0x' || split_part(c_name, '#', 2)) AS BIGINT) AS id_hex,
      |  CAST(date_part('year', TIMESTAMP '1995-07-16 12:30:00') AS BIGINT) AS yr
      |FROM customer ORDER BY c_custkey LIMIT 300""".stripMargin

  // ---------------------------------------------------------------- q39
  /** The REGEX/NUMBER tail of the Redshift dialect (the next thing a
    * migrating warehouse hits after TO_CHAR): `REGEXP_SUBSTR` with
    * position/occurrence/'i' arguments, `REGEXP_COUNT` with position,
    * `REGEXP_INSTR` with occurrence and the end-position option,
    * `REGEXP_REPLACE`'s 2-arg delete form and position argument,
    * `TO_NUMBER`, and datepart `TRUNC(date, 'month')` — all through
    * [[graft.etl.DialectShims.rewriteRedshiftSql]], hash-checked
    * against DuckDB's native regexp/list functions (which share none
    * of the translation machinery). Pure per-row projection — every
    * emitted expression is a codegen'd builtin (regexp_extract_all /
    * split / aggregate collection forms), one scan, TakeOrdered
    * presentation. */
  def q39RegexDialect(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "documents").createOrReplaceTempView("rs_documents")
    val redshiftSql =
      """SELECT doc_id,
        |  REGEXP_SUBSTR(text, '[a-z]+', 3, 2) AS w2,
        |  REGEXP_SUBSTR(text, 'TABLE', 1, 2, 'i') AS tab_i,
        |  CAST(REGEXP_COUNT(text, '[aeiou][a-z]', 5) AS BIGINT) AS vow,
        |  CAST(REGEXP_INSTR(text, '[st][a-z]+', 1, 3) AS BIGINT) AS pos3,
        |  CAST(REGEXP_INSTR(text, '[a-z]+', 4, 5, 1) AS BIGINT) AS end5,
        |  REGEXP_REPLACE(text, '[^a-z]') AS letters,
        |  REGEXP_REPLACE(text, '[aeiou]', '*', 12) AS starred,
        |  CAST(TO_NUMBER(CAST(n_chars AS VARCHAR(10)), '9999999') AS BIGINT) AS nc,
        |  CAST(TRUNC(DATEADD(day, CAST(doc_id % 900 AS INT),
        |    TIMESTAMP '1994-01-01 00:00:00'), 'month') AS VARCHAR(16)) AS dmonth
        |FROM rs_documents ORDER BY doc_id LIMIT 500""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q39RegexDialectSql: String =
    """SELECT doc_id,
      |  coalesce(regexp_extract_all(substring(text, 3), '[a-z]+')[2], '') AS w2,
      |  coalesce(regexp_extract_all(text, '(?i)TABLE')[2], '') AS tab_i,
      |  CAST(len(regexp_extract_all(substring(text, 5), '[aeiou][a-z]')) AS BIGINT) AS vow,
      |  CAST(CASE WHEN len(regexp_extract_all(text, '[st][a-z]+')) < 3 THEN 0
      |    ELSE list_sum(list_transform(str_split_regex(text, '[st][a-z]+')[1:3], x -> length(x)))
      |       + list_sum(list_transform(regexp_extract_all(text, '[st][a-z]+')[1:2], x -> length(x)))
      |       + 1 END AS BIGINT) AS pos3,
      |  CAST(CASE WHEN len(regexp_extract_all(substring(text, 4), '[a-z]+')) < 5 THEN 0
      |    ELSE list_sum(list_transform(str_split_regex(substring(text, 4), '[a-z]+')[1:5], x -> length(x)))
      |       + list_sum(list_transform(regexp_extract_all(substring(text, 4), '[a-z]+')[1:4], x -> length(x)))
      |       + 1 + length(regexp_extract_all(substring(text, 4), '[a-z]+')[5])
      |       + 4 - 1 END AS BIGINT) AS end5,
      |  regexp_replace(text, '[^a-z]', '', 'g') AS letters,
      |  substring(text, 1, 11) ||
      |    regexp_replace(substring(text, 12), '[aeiou]', '*', 'g') AS starred,
      |  CAST(n_chars AS BIGINT) AS nc,
      |  CAST(CAST(date_trunc('month', TIMESTAMP '1994-01-01 00:00:00'
      |    + INTERVAL (doc_id % 900) DAY) AS DATE) AS VARCHAR) AS dmonth
      |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Numeric-mode TO_CHAR — `TO_CHAR(number, '$S999,999.00')` — the
    * other half of the TO_CHAR/TO_NUMBER pair (report SQL formats
    * money and counts constantly). Grouping, zero padding, explicit
    * sign, the default single sign slot, dollar prefix, half-up
    * decimal rounding, and the all-'#' overflow marker — each against
    * a DuckDB derivation built from `format('{:,}')`/lpad/CASE, none
    * of which shares the shim's machinery. Per-row projection. */
  def q40ToCharNumber(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("rs_orders")
    val redshiftSql =
      """SELECT o_orderkey,
        |  TO_CHAR(o_orderkey, 'FM999,999,999') AS grouped,
        |  TO_CHAR(o_orderkey % 1000, 'FM0000') AS zeropad,
        |  TO_CHAR(o_orderkey % 7 - 3, 'S99') AS signed,
        |  TO_CHAR(o_totalprice, 'FM$9,999,999.00') AS money,
        |  TO_CHAR(o_orderkey, 'FM99') AS overflowed,
        |  TO_CHAR(o_orderkey % 5, '9') AS signslot
        |FROM rs_orders ORDER BY o_orderkey LIMIT 500""".stripMargin
    graft.etl.DialectShims.sql(spark, redshiftSql)
  }

  val q40ToCharNumberSql: String =
    """SELECT o_orderkey,
      |  format('{:,}', o_orderkey) AS grouped,
      |  lpad(CAST(o_orderkey % 1000 AS VARCHAR), 4, '0') AS zeropad,
      |  (CASE WHEN o_orderkey % 7 - 3 < 0 THEN '-' ELSE '+' END ||
      |    CAST(abs(o_orderkey % 7 - 3) AS VARCHAR)) AS signed,
      |  ('$' || format('{:,}', CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT))
      |    || '.' || lpad(CAST(CAST((CAST(o_totalprice AS DECIMAL(18,2))
      |      - floor(CAST(o_totalprice AS DECIMAL(18,2)))) * 100 AS BIGINT) AS VARCHAR), 2, '0')) AS money,
      |  (CASE WHEN length(CAST(o_orderkey AS VARCHAR)) > 2 THEN '##'
      |    ELSE CAST(o_orderkey AS VARCHAR) END) AS overflowed,
      |  (' ' || CAST(o_orderkey % 5 AS VARCHAR)) AS signslot
      |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin

  // ---------------------------------------------------------------- q34
  /** FUNNEL analysis — ordered-sequence conversion (view → click
    * within 7 days of the first view → purchase within 7 days of that
    * click), the canonical product-analytics query a warehouse serves
    * daily. The scalable shape is three chained per-user MIN
    * aggregates, each joined back on user_id (key-partitioned
    * shuffles, no per-user window over raw events, no sequence UDF);
    * each stage's earliest-qualifying timestamp is an actual data
    * value, so the cross-engine hash is exact. The result also pins
    * per-stage user counts AND the stage timestamps for a sample of
    * users, so both the aggregate funnel and the row-level stage
    * assignment are verified. */
  def q34Funnel(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "events").createOrReplaceTempView("fn_events")
    spark.sql(
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM fn_events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM fn_events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 7 DAY
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM fn_events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 7 DAY
        |  GROUP BY e.user_id
        |)
        |SELECT v.user_id,
        |  CAST(v.t_view AS TIMESTAMP_NTZ) AS t_view,
        |  CAST(c.t_click AS TIMESTAMP_NTZ) AS t_click,
        |  CAST(p.t_purchase AS TIMESTAMP_NTZ) AS t_purchase,
        |  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
        |            WHEN c.user_id IS NOT NULL THEN 2
        |            ELSE 1 END AS BIGINT) AS stage
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin)
  }

  val q34FunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |    AND e.ts <= v.t_view + INTERVAL 7 DAY
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |    AND e.ts <= c.t_click + INTERVAL 7 DAY
      |  GROUP BY e.user_id
      |)
      |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
      |  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
      |            WHEN c.user_id IS NOT NULL THEN 2
      |            ELSE 1 END AS BIGINT) AS stage
      |FROM v
      |LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Registry fragment for this module. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_lateral" -> (q32Lateral _),
    "q41_super_paths" -> (q41SuperPaths _),
    "q42_partiql_iterate" -> (q42PartiqlIterate _),
    "q43_partiql_nested" -> (q43PartiqlNested _),
    "q44_wildcard_filter" -> (q44WildcardFilter _),
    "q45_super_unpivot" -> (q45SuperUnpivot _),
    "q33_string_dialect" -> (q33StringDialect _),
    "q39_regex_dialect" -> (q39RegexDialect _),
    "q40_tochar_number" -> (q40ToCharNumber _),
    "q34_funnel" -> (q34Funnel _),
    "q20b_quantiles_cont" -> (q20bQuantilesCont _),
    "q30_window_dialect" -> (q30WindowDialect _),
    "q31_unpivot" -> (q31Unpivot _),
    "q26_parse_dialect" -> (q26ParseDialect _),
    "q27_rolling_window" -> (q27RollingWindow _),
    "q28_qualify" -> (q28Qualify _),
    "q29_json_dialect" -> (q29JsonDialect _),
    "q25_time_dialect" -> (q25TimeDialect _),
    "q24_analytic_dialect" -> (q24AnalyticDialect _),
    "q23_recursive_cte" -> (q23RecursiveCte _),
    "q22_similar_to" -> (q22SimilarTo _),
    "q19b_asof_native" -> (q19bAsofNative _),
    "q19c_asof_bucketed" -> (q19cAsofBucketed _),
    "q17_grouping_sets" -> (q17GroupingSets _),
    "q18_latest_per_key" -> (q18LatestPerKey _),
    "q19_asof_join" -> (q19AsofJoin _),
    "q20_quantiles" -> (q20Quantiles _),
    "q21_redshift_dialect" -> (q21RedshiftDialect _),
    "q16_pivot" -> (q16Pivot _),
    "q1_agg" -> (q1Agg _),
    "q2_join_agg" -> (q2JoinAgg _),
    "q3_topk" -> (q3TopK _),
    "q4_window" -> (q4Window _),
    "q5_setops" -> (q5SetOps _),
    "q6_filter" -> (q6Filter _),
    "q7_semi_anti" -> (q7SemiAnti _),
    "q8_distinct" -> (q8Distinct _),
    "q9_rollup" -> (q9Rollup _),
    "q10_having" -> (q10Having _),
    "q11_subquery" -> (q11Subquery _),
    "q12_case" -> (q12Case _),
    "q13_cte" -> (q13Cte _),
    "q14_events_hourly" -> (q14EventsHourly _),
    "q15_events_sessions" -> (q15EventsSessions _),
    "q15b_sessions_window" -> (q15bSessionsWindow _),
    "q15c_sessions_native" -> (q15cSessionsNative _),
    "q35_top_dialect" -> (q35TopDialect _),
    "q36_setops_all" -> (q36SetopsAll _),
    "q37_exists" -> (q37Exists _),
    "q38_interpolate" -> (q38Interpolate _))

  val oracles: Map[String, String] = Map(
    "q32_lateral" -> q32LateralSql,
    "q41_super_paths" -> q41SuperPathsSql,
    "q42_partiql_iterate" -> q42PartiqlIterateSql,
    "q43_partiql_nested" -> q43PartiqlNestedSql,
    "q44_wildcard_filter" -> q44WildcardFilterSql,
    "q45_super_unpivot" -> q45SuperUnpivotSql,
    "q33_string_dialect" -> q33StringDialectSql,
    "q39_regex_dialect" -> q39RegexDialectSql,
    "q40_tochar_number" -> q40ToCharNumberSql,
    "q34_funnel" -> q34FunnelSql,
    "q20b_quantiles_cont" -> q20bQuantilesContSql,
    "q30_window_dialect" -> q30WindowDialectSql,
    "q31_unpivot" -> q31UnpivotSql,
    "q26_parse_dialect" -> q26ParseDialectSql,
    "q27_rolling_window" -> q27RollingWindowSql,
    "q28_qualify" -> q28QualifySql,
    "q29_json_dialect" -> q29JsonDialectSql,
    "q25_time_dialect" -> q25TimeDialectSql,
    "q24_analytic_dialect" -> q24AnalyticDialectSql,
    "q23_recursive_cte" -> q23RecursiveCteSql,
    "q22_similar_to" -> q22SimilarToSql,
    "q19b_asof_native" -> q19AsofJoinSql,
    "q19c_asof_bucketed" -> q19AsofJoinSql,
    "q17_grouping_sets" -> q17GroupingSetsSql,
    "q18_latest_per_key" -> q18LatestPerKeySql,
    "q19_asof_join" -> q19AsofJoinSql,
    "q20_quantiles" -> q20QuantilesSql,
    "q21_redshift_dialect" -> q21RedshiftDialectSql,
    "q16_pivot" -> q16PivotSql,
    "q1_agg" -> q1AggSql,
    "q2_join_agg" -> q2JoinAggSql,
    "q3_topk" -> q3TopKSql,
    "q4_window" -> q4WindowSql,
    "q5_setops" -> q5SetOpsSql,
    "q6_filter" -> q6FilterSql,
    "q7_semi_anti" -> q7SemiAntiSql,
    "q8_distinct" -> q8DistinctSql,
    "q9_rollup" -> q9RollupSql,
    "q10_having" -> q10HavingSql,
    "q11_subquery" -> q11SubquerySql,
    "q12_case" -> q12CaseSql,
    "q13_cte" -> q13CteSql,
    "q14_events_hourly" -> q14EventsHourlySql,
    "q15_events_sessions" -> q15EventsSessionsSql,
    "q15b_sessions_window" -> q15bSessionsWindowSql,
    "q15c_sessions_native" -> q15EventsSessionsSql,
    "q35_top_dialect" -> q35TopDialectSql,
    "q36_setops_all" -> q36SetopsAllSql,
    "q37_exists" -> q37ExistsSql,
    "q38_interpolate" -> q38InterpolateSql)
}
