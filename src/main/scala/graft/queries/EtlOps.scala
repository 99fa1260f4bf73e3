package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.queries.Num._

/** Arthur's OWN operator set, re-expressed Spark-first (SURVEY.md
  * §2.2, §2.4, §2.5): the constraint checker, row-count audit,
  * identity/surrogate-key materialization, the missing-dimension NA
  * row, extract sampling, and extract-time cast projections.
  */
object EtlOps {

  // ---------------------------------------------------------------- C1
  /** Constraint check / duplicate detection
    * (/root/reference/python/etl/load.py:564-634): for a declared key,
    * `GROUP BY key HAVING COUNT(*) > 1 LIMIT 5` — non-empty ⇒ the
    * constraint failed; the 5 sample groups go into the error.
    * Demonstrated on a (deliberately weak) candidate natural key of
    * `orders` so violations are actually found. The reference's LIMIT
    * is arbitrary; here it is made deterministic by ordering on the
    * key. One shuffle on the key; partial agg prunes unique keys
    * map-side, so at 100 TB the shuffle carries only repeated keys. */
  def c1ConstraintDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(count(lit(1)).as("n_dups"))
      .filter($"n_dups" > 1)
      .orderBy($"o_custkey", $"o_orderdate")
      .limit(5)
      .select($"o_custkey", date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"), $"n_dups")
  }

  val c1ConstraintDupSql: String =
    """SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, n_dups
      |FROM (
      |  SELECT o_custkey, o_orderdate, COUNT(*) AS n_dups
      |  FROM orders GROUP BY o_custkey, o_orderdate HAVING COUNT(*) > 1
      |) ORDER BY o_custkey, o_orderdate LIMIT 5""".stripMargin

  /** C1 on a real primary key (o_orderkey) — must come back EMPTY;
    * the engine treats non-empty as FailedConstraintError. */
  def c1PkClean(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .groupBy($"o_orderkey").agg(count(lit(1)).as("n_dups"))
      .filter($"n_dups" > 1).orderBy($"o_orderkey").limit(5)
  }

  val c1PkCleanSql: String =
    """SELECT o_orderkey, COUNT(*) AS n_dups
      |FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
      |ORDER BY o_orderkey LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- C2
  /** Row-count audit (/root/reference/python/etl/load.py:733-744):
    * `SELECT COUNT(*)` per relation after load, emitted as one audit
    * relation. Parquet count(*) is metadata-only → no scan. */
  def c2RowcountAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.all.map { t =>
      Tables.load(spark, sfDir, t).agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("relation"), $"n_rows")
    }.reduce(_ unionAll _).orderBy($"relation")
  }

  val c2RowcountAuditSql: String = Tables.all
    .map(t => s"SELECT '$t' AS relation, COUNT(*) AS n_rows FROM $t")
    .mkString("", "\nUNION ALL\n", "\nORDER BY relation")

  // ---------------------------------------------------------------- T2
  /** Identity / surrogate-key CTAS
    * (/root/reference/python/etl/load.py:529-551, dialect/redshift.py:44-76):
    * Redshift's IDENTITY(1,1) assigns arbitrary ids; for a
    * deterministic, testable engine we number over the natural-key
    * total order. Numbering is the distributed two-phase plan in
    * [[graft.etl.Identity]] (range partition → per-partition
    * row_number + offsets) — NOT a single-partition global window.
    * Money lands as DOUBLE via the Num convention (decimal-rounded per
    * row) so the hash matches across engines. */
  def t2IdentityCtas(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, sfDir, "orders")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val fact = lineitem.join(orders, $"l_orderkey" === $"o_orderkey")
      .filter($"o_orderdate" >= to_timestamp(lit("2001-01-01 00:00:00")))
      .select($"o_orderkey", $"l_linenumber",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast(DecimalType(18, 6)).cast("double").as("gross_revenue"),
        date_format($"l_shipdate", "yyyy-MM-dd").as("ship_date"))
    graft.etl.Identity
      .withSurrogateKey(fact, "order_line_key", Seq($"o_orderkey", $"l_linenumber"))
      .select($"order_line_key", $"o_orderkey", $"l_linenumber", $"gross_revenue", $"ship_date")
      .orderBy($"order_line_key")
  }

  val t2IdentityCtasSql: String =
    """SELECT CAST(row_number() OVER (ORDER BY o_orderkey, l_linenumber) AS BIGINT) AS order_line_key,
      |  o_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS DOUBLE) AS gross_revenue,
      |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
      |ORDER BY order_line_key""".stripMargin

  // ---------------------------------------------------------------- T3
  /** Missing-dimension NA row
    * (/root/reference/python/etl/load.py:506-526): every `dim_*` table
    * gets one default row (key 0 / 'N/A' / 0 values) appended with
    * UNION ALL so facts with no dimension match join to it. */
  def t3NaDimRow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey".as("customer_key"), $"c_name", $"c_nationkey",
        $"c_acctbal", $"c_mktsegment")
    val naRow = customer.sparkSession.range(1).select(
      lit(0L).as("customer_key"), lit("N/A").as("c_name"),
      lit(0).as("c_nationkey"), lit(0.0).as("c_acctbal"),
      lit("N/A").as("c_mktsegment"))
    customer.unionByName(naRow).orderBy($"customer_key")
  }

  val t3NaDimRowSql: String =
    """SELECT c_custkey AS customer_key, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
      |UNION ALL
      |SELECT 0, 'N/A', 0, 0.0, 'N/A'
      |ORDER BY customer_key""".stripMargin

  // ---------------------------------------------------------------- S6
  /** Sampling extract
    * (/root/reference/python/etl/extract/database_extractor.py:38-53,141-152):
    * tables >100MB with --use-sampling keep rows where
    * `("key" % 10) = 1` — an exact, reproducible 10% sample (not
    * df.sample, which is seed-dependent). The modulo predicate pushes
    * into the JDBC source query at extract time. */
  def s6SamplingExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .filter(pmod($"o_orderkey", lit(10)) === 1)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_sampled"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  val s6SamplingExtractSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_sampled, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders WHERE (o_orderkey % 10) = 1
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- P2
  /** Extract-time cast projection
    * (/root/reference/python/etl/relation.py:378-392 +
    * design/__init__.py:79-120): each design column is `expression AS
    * name` — the type-map casts applied in the source SELECT. Shown
    * here: decimal money cast, temporal→date-string, string transform. */
  def p2CastProjection(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .filter($"o_orderkey" <= 1000)
      .select(
        $"o_orderkey",
        $"o_totalprice".cast(DecimalType(12, 2)).cast("double").as("total_price_dec"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
        upper($"o_orderstatus").as("status_uc"),
        substring($"o_orderpriority", 1, 1).as("priority_code"))
      .orderBy($"o_orderkey")
  }

  val p2CastProjectionSql: String =
    """SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price_dec,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  UPPER(o_orderstatus) AS status_uc,
      |  SUBSTRING(o_orderpriority, 1, 1) AS priority_code
      |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- P4
  /** Row LIMIT (run_query, /root/reference/python/etl/load.py:1373-1404)
    * — deterministic: ordered before limiting, planned as
    * TakeOrderedAndProject (per-partition top-k, no global sort). */
  def p4Limit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders")
      .orderBy($"o_orderdate".desc, $"o_orderkey")
      .limit(20)
      .select($"o_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"), $"o_totalprice")
  }

  val p4LimitSql: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice
      |FROM orders ORDER BY o_orderdate DESC, o_orderkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- S12/S13
  /** Unload → reload round-trip, oracle-checked: export a slice of
    * orders as the reference's CSV format (gzip, quoted, `\N` nulls,
    * columns.yaml; /root/reference/python/etl/dialect/redshift.py:548-581),
    * read it back through the static-source path, and emit the rows.
    * A lossy format or schema drift breaks the hash. */
  def s12UnloadRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{Artifact, ColumnDef, TableDesign, TableName}
    val dest = java.nio.file.Files.createTempDirectory("graft_unload_q_")
      .toString + "/orders_csv"
    val design = TableDesign(TableName.parse("unload.orders_slice"), "src", Seq(
      ColumnDef("o_orderkey", "long", notNull = true),
      ColumnDef("o_orderstatus", "string"),
      ColumnDef("o_totalprice", "double"),
      ColumnDef("o_orderdate", "timestamp")))
    val slice = Tables.load(spark, sfDir, "orders")
      .filter($"o_orderkey" <= 500)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"o_orderdate")
    Artifact.write(slice, design, dest)
    Artifact.reload(spark, dest)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("o_ts"))
      .orderBy($"o_orderkey")
  }

  val s12UnloadRoundtripSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_ts
      |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- S10
  /** COPY format parity, end to end: `Cli extract` lands the
    * reference's gzip-CSV artifact (quoted, `\N` nulls, COPY manifest,
    * columns.yaml; /root/reference/python/etl/extract/extractor.py:203-260),
    * and the WAREHOUSE load path ingests that artifact — not the
    * parquet stand-in — exactly as the reference's
    * `COPY ... FROM manifest` does (dialect/redshift.py:297-369).
    * The emitted rows are the loaded table's: any format drift between
    * the engine's own extract and its own COPY breaks the hash. */
  def s10CopyCsv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{Relation, TableDesign, Warehouse}
    val design = TableDesign.load(
      """name: copysrc.supplier
        |source_name: copysrc
        |columns:
        |  - name: s_suppkey
        |    type: long
        |    not_null: true
        |  - name: s_name
        |    type: string
        |  - name: s_nationkey
        |    type: int
        |  - name: s_acctbal
        |    type: double
        |constraints:
        |  - primary_key: [s_suppkey]
        |""".stripMargin)
    val out = java.nio.file.Files.createTempDirectory("graft_copy_q_").toString
    graft.Cli.run(spark, "extract", Map(
      "designs" -> writeDesignDir(design), "data" -> sfDir, "out" -> out))
    val whDir = java.nio.file.Files.createTempDirectory("graft_copy_wh_").toString
    new Warehouse(spark, whDir, out).buildOneRelation(Relation(design))
    spark.table("`copysrc`.`supplier`").orderBy($"s_suppkey")
  }

  /** Partitioned-table lifecycle end-to-end (beyond-reference; Spark
    * mapping of the 100 TB time/source-sliced layout): build `events`
    * partitioned by `event_type` (hive-style directories) in a
    * throwaway warehouse, then answer a partition-key-filtered
    * aggregate THROUGH the registered table — the scan prunes to the
    * matching directories (PartitionFilters, gated in WarehouseSpec),
    * and the values hash-match DuckDB computing over the raw rows. */
  def t8bPartitionedBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{Relation, TableDesign, Warehouse}
    val design = TableDesign.load(
      """name: partsrc.events
        |source_name: partsrc
        |attributes:
        |  partition_by: [event_type]
        |columns:
        |  - name: event_id
        |    type: long
        |    not_null: true
        |  - name: user_id
        |    type: long
        |  - name: value
        |    type: double
        |  - name: event_type
        |    type: string
        |""".stripMargin)
    val whDir = java.nio.file.Files.createTempDirectory("graft_part_wh_").toString
    new Warehouse(spark, whDir, sfDir).buildOneRelation(Relation(design))
    spark.table("`partsrc`.`events`")
      .filter($"event_type".isin("click", "purchase"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"user_id").as("sum_user"))
      .orderBy($"event_type")
  }

  val t8bPartitionedBuildSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_user
      |FROM events WHERE event_type IN ('click', 'purchase')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** INTERLEAVED SORTKEY lifecycle end-to-end (table_design
    * .schema:206, dialect/redshift.py:136-137): build `events` with
    * `interleaved_sort: [user_id, value]` — the Z-order clustered
    * write — in a throwaway warehouse, then answer a both-dimensions
    * box filter THROUGH the registered table. The physical clustering
    * (tight per-file min/max on BOTH columns, multi-dimensional
    * pruning) is proven in WarehouseSpec; this entry pins that the
    * clustered write is still exactly the same ROWS, hash-matched
    * against DuckDB computing over the raw events. */
  def t8cZorderBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{Relation, TableDesign, Warehouse}
    val design = TableDesign.load(
      """name: zsrc.events
        |source_name: zsrc
        |attributes:
        |  interleaved_sort: [user_id, value]
        |columns:
        |  - name: event_id
        |    type: long
        |    not_null: true
        |  - name: user_id
        |    type: long
        |  - name: value
        |    type: double
        |  - name: event_type
        |    type: string
        |""".stripMargin)
    val whDir = java.nio.file.Files.createTempDirectory("graft_z_wh_").toString
    new Warehouse(spark, whDir, sfDir).buildOneRelation(Relation(design))
    spark.table("`zsrc`.`events`")
      .filter($"user_id" < 20 && $"value" >= 5.0 && $"value" < 50.0)
      .select($"event_id", $"user_id", $"value")
      .orderBy($"event_id")
  }

  val t8cZorderBuildSql: String =
    """SELECT event_id, user_id, value
      |FROM events
      |WHERE user_id < 20 AND value >= 5.0 AND value < 50.0
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------ skip index
  /** File-level min/max data-skipping end-to-end (the explicit form
    * of the Redshift zone maps the reference's `sortkey` designs
    * exist to feed, table_design.schema:196-210): cluster `orders`
    * by date into a multi-file build, index per-file min/max via
    * [[graft.etl.FileSkipIndex]], then answer a half-year range
    * query THROUGH the pruned scan — only files whose [min,max]
    * intersects the predicate are opened. The pruning ratio (files
    * actually read << files total) is pinned in FileSkipIndexSpec;
    * this entry pins that a pruned scan returns exactly the same
    * rows as DuckDB's full scan of the raw table. */
  def skipIndexScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{FileSkipIndex, TableName, Warehouse}
    val whDir = java.nio.file.Files.createTempDirectory("graft_skip_wh_").toString
    val wh = new Warehouse(spark, whDir, sfDir)
    val t = TableName.parse("skip.orders_by_date")
    wh.writeTable(t, Tables.load(spark, sfDir, "orders")
      .repartitionByRange(8, $"o_orderdate")
      .sortWithinPartitions($"o_orderdate"))
    FileSkipIndex.build(wh, t, Seq("o_orderdate", "o_totalprice"))
    val pruned = FileSkipIndex.prunedScan(spark, t, "o_orderdate",
      to_timestamp(lit("1996-01-01 00:00:00")),
      to_timestamp(lit("1996-06-30 23:59:59")))
    pruned.df
      .groupBy(date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM")
        .as("month"))
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"month")
  }

  val skipIndexScanSql: String =
    s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <= TIMESTAMP '1996-06-30 23:59:59'
       |GROUP BY 1 ORDER BY month""".stripMargin

  /** BLOOM file skipping under the oracle hash: the table is
    * deliberately laid out AGAINST the probe column (hash-partitioned
    * by event_type, so every file spans the whole event_id domain and
    * the min/max zone map prunes nothing) — the per-file bloom is what
    * cuts the point-lookup read set to ~|probe| files. The pruned
    * read must still return exactly the plain `IN` filter's rows;
    * FileSkipIndexSpec owns the pruning-ratio and staleness
    * assertions. */
  def skipIndexBloom(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{FileSkipIndex, TableName, Warehouse}
    val whDir = java.nio.file.Files.createTempDirectory("graft_bloom_wh_").toString
    val wh = new Warehouse(spark, whDir, sfDir)
    val t = TableName.parse("skip.events_by_type")
    wh.writeTable(t, Tables.load(spark, sfDir, "events")
      .repartition(8, $"event_type"))
    FileSkipIndex.buildBloom(wh, t, "event_id", expectedItems = 65536L)
    val probes = Seq(17L, 4242L, 7311L)
    FileSkipIndex.prunedScanIn(spark, t, "event_id", probes).df
      .select($"event_id", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  val skipIndexBloomSql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_id IN (17, 4242, 7311)
      |ORDER BY event_id""".stripMargin

  /** A one-relation designs dir in the reference layout, so the entry
    * exercises the REAL `Cli extract` command, not a shortcut. */
  private def writeDesignDir(design: graft.etl.TableDesign): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_copy_designs_")
    val schemaDir = root.resolve("schemas").resolve(design.name.schema)
    java.nio.file.Files.createDirectories(schemaDir)
    java.nio.file.Files.write(
      schemaDir.resolve(s"${design.name.table}.yaml"),
      graft.etl.TableDesign.toYaml(design)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    root.toString
  }

  val s10CopyCsvSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** COPY with MAXERROR under the oracle hash (S10 depth;
    * dialect/redshift.py:297-369's MAXERROR + stl_load_errors shape):
    * the artifact deliberately carries FOUR malformed records — two
    * type-corrupt ids, two arity-corrupt rows — alongside the good
    * slice. The load must quarantine exactly those four (the pinned
    * `n_quarantined` literal in the DuckDB oracle breaks the hash on
    * any drift: a silently-dropped good row, a malformed row landing,
    * or a quarantine miscount) and land the good rows byte-equal to
    * the parquet truth. */
  def s10bCopyMaxerror(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{Artifact, Extract, TableDesign, Warehouse}
    val design = TableDesign.load(
      """name: copyq.supplier
        |source_name: copyq
        |columns:
        |  - name: s_suppkey
        |    type: long
        |    not_null: true
        |  - name: s_name
        |    type: string
        |  - name: s_nationkey
        |    type: int
        |""".stripMargin)
    val srcRoot = java.nio.file.Files.createTempDirectory("graft_copyq_q_")
    val dir = srcRoot.resolve("copyq.supplier")
    Tables.load(spark, sfDir, "supplier")
      .filter($"s_suppkey" <= 100)
      .select($"s_suppkey", $"s_name", $"s_nationkey")
      .coalesce(1)
      .write.option("header", "false").csv(dir.toString)
    java.nio.file.Files.write(dir.resolve("part-99999-corrupt.csv"),
      ("notanumber,bad-id-row,0\n" +
        "alsobad,second-bad-id,1\n" +
        "7,arity-overflow,2,extra,cols\n" +
        "8,arity-overflow-too,3,spill\n").getBytes("UTF-8"))
    Artifact.writeManifest(dir.toString)
    val whDir = java.nio.file.Files.createTempDirectory("graft_copyq_wh_").toString
    val wh = new Warehouse(spark, whDir, srcRoot.toString)
    val out = Extract.copyWithMaxError(wh, srcRoot.toString, design, maxError = 10)
    spark.table("`copyq`.`supplier`")
      .select($"s_suppkey", $"s_name", $"s_nationkey")
      .withColumn("n_quarantined", lit(out.quarantined))
      .orderBy($"s_suppkey")
  }

  val s10bCopyMaxerrorSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, CAST(4 AS BIGINT) AS n_quarantined
      |FROM supplier WHERE s_suppkey <= 100 ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- skew
  /** Salted two-phase aggregation under the oracle hash: the explicit
    * skew-mitigation pattern for hot aggregation keys (AQE splits
    * skewed JOIN partitions at runtime, but a hot GROUP BY key still
    * lands on one reducer without salting). Phase 1 aggregates on
    * (key, salt) — the hot key spreads over `factor` reducers; phase 2
    * merges ≤ factor rows per key. The summed column is decimal, so
    * the salt-dependent addition order cannot perturb the result —
    * the salted plan is bit-equal to the plain GROUP BY oracle. */
  def skewSaltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select($"event_type", $"value".cast(DecimalType(18, 6)).as("v"))
    graft.etl.Skew.saltedCountSum(ev, Seq("event_type"), Some("v"), factor = 8)
      .select($"event_type", $"n",
        $"sum".cast("double").as("sum_value"))
      .orderBy($"event_type")
  }

  val skewSaltedAggSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Salted JOIN under the oracle hash: the known-hot-key mitigation
    * for a skew-heavy fact joining a relation too big to broadcast —
    * the fact side gets a salt, the other side replicates across the
    * `factor` salt values, and the key becomes (key, salt) so one hot
    * key spreads over `factor` reducers ([[graft.etl.Skew.saltedJoin]]).
    * The aggregate over the joined rows (decimal sums, so addition
    * order cannot perturb it) must be bit-equal to the plain-join
    * oracle: salting rearranges WHERE rows meet, never WHICH rows. */
  def skewSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, sfDir, "orders")
      .select($"o_custkey", $"o_totalprice".cast(DecimalType(18, 6)).as("p"))
    val cust = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    graft.etl.Skew.saltedJoin(orders, cust, "o_custkey", factor = 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum($"p").cast("double").as("sum_total"))
      .orderBy($"c_mktsegment")
  }

  val skewSaltedJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** MERGE INTO end-to-end through the warehouse lifecycle
    * (Redshift's MERGE statement — the upsert form a warehouse uses
    * where the reference rebuilds from scratch): seed a customer
    * dimension as a real table, merge a source carrying balance
    * bumps, segment flips, AND brand-new members, and read the
    * published result back. The oracle derives MERGE from first
    * principles (NOT EXISTS survivors + source union — DuckDB 1.0
    * has no MERGE). Exercises [[graft.etl.Warehouse.mergeInto]]'s
    * anti-join + versioned-rewrite + pointer-swap path under the
    * hash, not just in specs. */
  def mergeIntoUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{TableName, Warehouse}
    val cust = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
    val whDir = java.nio.file.Files.createTempDirectory("graft_mrg_wh_").toString
    val wh = new Warehouse(spark, whDir, sfDir)
    val t = TableName.parse("mrg.customer_dim")
    wh.writeTable(t, cust)
    val source = cust
      .filter(pmod($"c_custkey", lit(7)) === 3 || pmod($"c_custkey", lit(11)) === 5)
      .select($"c_custkey", $"c_name",
        when(pmod($"c_custkey", lit(7)) === 3, $"c_acctbal" + lit(100.0))
          .otherwise($"c_acctbal").as("c_acctbal"),
        when(pmod($"c_custkey", lit(11)) === 5, lit("MACHINERY"))
          .otherwise($"c_mktsegment").as("c_mktsegment"))
      .unionByName(cust.filter(pmod($"c_custkey", lit(13)) === 0)
        .select(($"c_custkey" + lit(1000000L)).as("c_custkey"), $"c_name",
          lit(50.0).as("c_acctbal"), lit("BUILDING").as("c_mktsegment")))
    wh.mergeInto(t, source, Seq("c_custkey"))
    spark.table(t.quoted).orderBy($"c_custkey")
  }

  val mergeIntoUpsertSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
      |), src AS (
      |  SELECT c_custkey, c_name,
      |    CASE WHEN c_custkey % 7 = 3 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
      |    CASE WHEN c_custkey % 11 = 5 THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment
      |  FROM cust WHERE c_custkey % 7 = 3 OR c_custkey % 11 = 5
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, 50.0, 'BUILDING'
      |  FROM cust WHERE c_custkey % 13 = 0
      |)
      |SELECT * FROM (
      |  SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment FROM cust c
      |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = c.c_custkey)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM src
      |) ORDER BY c_custkey""".stripMargin

  /** One-pass table profile — the data-quality report a warehouse
    * runs after every load (the reference's closest surfaces are the
    * per-relation rowcount audit, load.py:733-744, and the LIMIT-5
    * constraint samples, load.py:596; a real profile unifies them):
    * per column, null count, exact distinct count, and min/max
    * rendered to strings for a uniform long-format report.
    *
    * Scale shape: ONE scan; count/min/max are plain map-side-partial
    * aggregates, and the distincts run as Spark's single multi-
    * count_distinct Expand aggregate (rows × #profiled columns
    * intermediate, each partial-aggregated before the shuffle). At
    * 100 TB swap exact distincts for approx_count_distinct / the HLL
    * day-sketch rollup — same plan minus the Expand; the EXACT form
    * is what the cross-engine oracle can hash. */
  def profileDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val agg = docs.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_distinct"),
          min(col(c)).cast("string").as(s"${c}_min"),
          max(col(c)).cast("string").as(s"${c}_max"))
      }: _*)
    val rows = cols.map(c => struct(
      lit(c).as("column_name"), $"n_rows".as("n_rows"),
      col(s"${c}_nulls").as("n_nulls"), col(s"${c}_distinct").as("n_distinct"),
      col(s"${c}_min").as("min_value"), col(s"${c}_max").as("max_value")))
    agg.select(explode(array(rows: _*)).as("r"))
      .select($"r.*").orderBy($"column_name")
  }

  val profileDocumentsSql: String = {
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    cols.map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY column_name"
  }

  // ------------------------------------------------- robust scaling
  /** Winsorization + robust (median/MAD) scaling per group — the
    * standard outlier-proof feature normalization before any model
    * step (the same P01/P99 clamp the Z-order normalizer uses
    * internally, surfaced as an operator). Cutoffs, median, and MAD
    * are per-group AGGREGATES (percentile_disc — one row per
    * event_type, broadcast back), so the corpus is touched by two
    * scans and zero windows: no group ever funnels through one task.
    * Every output is either an actual data value (disc percentiles,
    * clamp) or a single subtract/divide of two exactly-agreed doubles
    * — both engines produce identical bits. MAD uses the
    * median-of-absolute-deviations with the same disc definition, and
    * the scaled value divides by NULLIF(mad, 0) so a constant group
    * degrades to NULL, not infinity. */
  def winsorizeEvents(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "events").createOrReplaceTempView("wz_events")
    spark.sql(
      """WITH cuts AS (
        |  SELECT event_type,
        |    percentile_disc(0.01) WITHIN GROUP (ORDER BY value) AS lo,
        |    percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS hi,
        |    percentile_disc(0.5)  WITHIN GROUP (ORDER BY value) AS med
        |  FROM wz_events GROUP BY event_type
        |), mads AS (
        |  SELECT e.event_type,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(e.value - c.med)) AS mad
        |  FROM wz_events e JOIN cuts c ON e.event_type = c.event_type
        |  GROUP BY e.event_type
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN e.value < c.lo THEN c.lo
        |       WHEN e.value > c.hi THEN c.hi
        |       ELSE e.value END AS clipped,
        |  (e.value - c.med) / NULLIF(m.mad, 0) AS robust_z
        |FROM wz_events e
        |JOIN cuts c ON e.event_type = c.event_type
        |JOIN mads m ON e.event_type = m.event_type
        |ORDER BY e.event_id LIMIT 2000""".stripMargin)
  }

  val winsorizeEventsSql: String =
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
      |  FROM events
      |), cuts AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cd >= 0.01 THEN value END) AS lo,
      |    MIN(CASE WHEN cd >= 0.99 THEN value END) AS hi,
      |    MIN(CASE WHEN cd >= 0.5 THEN value END) AS med
      |  FROM ranked GROUP BY event_type
      |), dev AS (
      |  SELECT e.event_type, abs(e.value - c.med) AS d
      |  FROM events e JOIN cuts c ON e.event_type = c.event_type
      |), devranked AS (
      |  SELECT event_type, d,
      |    cume_dist() OVER (PARTITION BY event_type ORDER BY d) AS cd
      |  FROM dev
      |), mads AS (
      |  SELECT event_type, MIN(CASE WHEN cd >= 0.5 THEN d END) AS mad
      |  FROM devranked GROUP BY event_type
      |)
      |SELECT e.event_id, e.event_type, e.value,
      |  CASE WHEN e.value < c.lo THEN c.lo
      |       WHEN e.value > c.hi THEN c.hi
      |       ELSE e.value END AS clipped,
      |  (e.value - c.med) / NULLIF(m.mad, 0) AS robust_z
      |FROM events e
      |JOIN cuts c ON e.event_type = c.event_type
      |JOIN mads m ON e.event_type = m.event_type
      |ORDER BY e.event_id LIMIT 2000""".stripMargin

  /** Partition-scoped backfill end-to-end under the oracle hash: a
    * partitioned build lands with one partition's rows CORRUPTED (the
    * purchase slice loaded with user_id nulled — a bad upstream
    * extract), then [[graft.etl.Warehouse.rebuildPartitions]] repairs
    * exactly that partition from the good rows. The served aggregate
    * must equal DuckDB's recompute over the pristine raw events —
    * green only if the backfill fixed the bad partition AND left
    * every other partition alone. */
  def t6bBackfillPartition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.etl.{TableName, TableDesign, Warehouse}
    val design = TableDesign.load(
      """name: bfsrc.events
        |source_name: bfsrc
        |attributes:
        |  partition_by: [event_type]
        |columns:
        |  - name: event_id
        |    type: long
        |    not_null: true
        |  - name: user_id
        |    type: long
        |  - name: event_type
        |    type: string
        |""".stripMargin)
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_bf_wh_").toString, sfDir)
    val t = TableName.parse("bfsrc.events")
    val raw = Tables.load(spark, sfDir, "events")
      .select($"event_id", $"user_id", $"event_type")
    val corrupted = raw.withColumn("user_id",
      when($"event_type" === "purchase", lit(null).cast("long"))
        .otherwise($"user_id"))
    wh.writeTable(t, corrupted, Some(design))
    wh.rebuildPartitions(t, raw.filter($"event_type" === "purchase"),
      expect = Some(Set("event_type=purchase")))
    spark.table(t.quoted)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"user_id").as("sum_user"))
      .orderBy($"event_type")
  }

  val t6bBackfillPartitionSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_user
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Result cache under the oracle hash: the same aggregate looked up
    * twice through [[graft.etl.ResultCache]]; the second lookup MUST
    * hit (required in the entry) and the frame the driver hashes is
    * the cache-SERVED one — green certifies the cached bytes equal
    * DuckDB's recompute. */
  def rcResultCache(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rc = new graft.etl.ResultCache(spark,
      java.nio.file.Files.createTempDirectory("graft_rc_q_").toString)
    def q = Tables.load(spark, sfDir, "orders")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), sum($"o_custkey").as("sum_cust"))
      .orderBy($"o_orderstatus")
    val (_, hit1) = rc.lookup(q)
    val (served, hit2) = rc.lookup(q)
    require(!hit1 && hit2, s"expected miss-then-hit, got $hit1/$hit2")
    served.orderBy($"o_orderstatus")
  }

  val rcResultCacheSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t6b_backfill_partition" -> (t6bBackfillPartition _),
    "rc_result_cache" -> (rcResultCache _),
    "winsorize_events" -> (winsorizeEvents _),
    "profile_documents" -> (profileDocuments _),
    "merge_into_upsert" -> (mergeIntoUpsert _),
    "skew_salted_agg" -> (skewSaltedAgg _),
    "skew_salted_join" -> (skewSaltedJoin _),
    "s10_copy_csv" -> (s10CopyCsv _),
    "s10b_copy_maxerror" -> (s10bCopyMaxerror _),
    "s12_unload_roundtrip" -> (s12UnloadRoundtrip _),
    "c1_constraint_dup" -> (c1ConstraintDup _),
    "c1_pk_clean" -> (c1PkClean _),
    "c2_rowcount_audit" -> (c2RowcountAudit _),
    "t2_identity_ctas" -> (t2IdentityCtas _),
    "t3_na_dim_row" -> (t3NaDimRow _),
    "t8b_partitioned_build" -> (t8bPartitionedBuild _),
    "t8c_zorder_build" -> (t8cZorderBuild _),
    "s6_sampling_extract" -> (s6SamplingExtract _),
    "p2_cast_projection" -> (p2CastProjection _),
    "p4_limit" -> (p4Limit _),
    "skip_index_scan" -> (skipIndexScan _),
    "skip_index_bloom" -> (skipIndexBloom _))

  val oracles: Map[String, String] = Map(
    "t6b_backfill_partition" -> t6bBackfillPartitionSql,
    "rc_result_cache" -> rcResultCacheSql,
    "winsorize_events" -> winsorizeEventsSql,
    "profile_documents" -> profileDocumentsSql,
    "merge_into_upsert" -> mergeIntoUpsertSql,
    "skew_salted_agg" -> skewSaltedAggSql,
    "skew_salted_join" -> skewSaltedJoinSql,
    "s10_copy_csv" -> s10CopyCsvSql,
    "s10b_copy_maxerror" -> s10bCopyMaxerrorSql,
    "s12_unload_roundtrip" -> s12UnloadRoundtripSql,
    "c1_constraint_dup" -> c1ConstraintDupSql,
    "c1_pk_clean" -> c1PkCleanSql,
    "c2_rowcount_audit" -> c2RowcountAuditSql,
    "t2_identity_ctas" -> t2IdentityCtasSql,
    "t3_na_dim_row" -> t3NaDimRowSql,
    "t8b_partitioned_build" -> t8bPartitionedBuildSql,
    "t8c_zorder_build" -> t8cZorderBuildSql,
    "s6_sampling_extract" -> s6SamplingExtractSql,
    "p2_cast_projection" -> p2CastProjectionSql,
    "p4_limit" -> p4LimitSql,
    "skip_index_scan" -> skipIndexScanSql,
    "skip_index_bloom" -> skipIndexBloomSql)
}
