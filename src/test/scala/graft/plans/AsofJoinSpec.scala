package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native as-of join: hand-computed edge cases, a differential
  * test against the union-window composition (q19's shape) on random
  * data, and plan-shape assertions (co-partitioning exchanges + per-
  * side sorts, i.e. the sort-merge-join physical contract). */
class AsofJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(s: String) = Timestamp.valueOf(s)

  test("edge cases: no prior match, exact-ts inclusion, tie-break, null keys") {
    val s = spark
    import s.implicits._
    val purchases = Seq(
      (Option(1L), ts("2024-01-01 10:00:00"), 100L),  // click at 09:00 matches
      (Option(1L), ts("2024-01-01 12:00:00"), 101L),  // later click at 11:00 wins
      (Option(2L), ts("2024-01-01 08:00:00"), 102L),  // no click yet -> nulls
      (Option(2L), ts("2024-01-01 10:00:00"), 103L),  // click EXACTLY at 10:00 included
      (Option(3L), ts("2024-01-01 10:00:00"), 104L),  // two clicks same ts -> max id
      (Option.empty[Long], ts("2024-01-01 10:00:00"), 105L))
      .toDF("user_id", "p_ts", "purchase_id")
    val clicks = Seq(
      (Option(1L), ts("2024-01-01 09:00:00"), 7L),
      (Option(1L), ts("2024-01-01 11:00:00"), 8L),
      (Option(2L), ts("2024-01-01 10:00:00"), 9L),
      (Option(3L), ts("2024-01-01 09:30:00"), 10L),
      (Option(3L), ts("2024-01-01 09:30:00"), 11L),   // tie on ts: id 11 wins
      (Option.empty[Long], ts("2024-01-01 09:00:00"), 12L),
      (Option(9L), ts("2024-01-01 09:00:00"), 13L))   // key with no purchases
      .toDF("c_user", "c_ts", "click_id")
    val got = AsofJoin.asof(purchases, clicks,
        "user_id", "c_user", "p_ts", "c_ts", "click_id")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(
      100L -> Some(7L), 101L -> Some(8L), 102L -> None,
      103L -> Some(9L), 104L -> Some(11L), 105L -> None), s"got $got")
  }

  test("differential vs the union-window composition on random data") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val clicks = (1 to 400).map { i =>
      (rng.nextInt(20).toLong, ts(f"2024-01-01 ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:00"), 1000L + i)
    }.toDF("c_user", "c_ts", "click_id")
    val purchases = (1 to 200).map { i =>
      (rng.nextInt(25).toLong, ts(f"2024-01-01 ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:00"), 2000L + i)
    }.toDF("user_id", "p_ts", "purchase_id")

    val native = AsofJoin.asof(purchases, clicks,
        "user_id", "c_user", "p_ts", "c_ts", "click_id")
      .select($"purchase_id", $"click_id", $"c_ts")

    // the q19 union-window composition, with the SAME tie-break
    // (among equal ts, larger click_id wins -> order by click_id too)
    val cPart = clicks.select($"c_user".as("user_id"), $"c_ts".as("ts"),
      $"click_id", lit(null).cast("long").as("purchase_id"))
    val pPart = purchases.select($"user_id", $"p_ts".as("ts"),
      lit(null).cast("long").as("click_id"), $"purchase_id")
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"purchase_id".asc_nulls_first, $"click_id".asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val composed = cPart.unionByName(pPart)
      .withColumn("last_click_id", last($"click_id", ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when($"click_id".isNotNull, $"ts"), ignoreNulls = true).over(w))
      .filter($"purchase_id".isNotNull)
      .select($"purchase_id", $"last_click_id".as("click_id"),
        $"last_click_ts".as("c_ts"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getTimestamp(2)))).toSet
    val n = canon(native)
    val c = canon(composed)
    assert(n == c, s"native != composed;\nonly native: ${n -- c}\nonly composed: ${c -- n}")
    assert(n.size == 200)
  }

  test("asofBucketed reproduces asof exactly on a skewed corpus (with nulls)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    val base = ts("2024-01-01 00:00:00").getTime
    val spanMs = 30L * 86400000L   // 30 days of event time
    def t(i: Long, stride: Long) =
      Option(new Timestamp(base + (i * stride) % spanMs))
    // hot key 7 owns half of each side; a few null keys and null times
    val clicks = (1 to 3000).map { i =>
      val k = if (i % 2 == 0) 7L else (i % 11).toLong
      (Option(k), t(i.toLong, 6101789L), 10000L + i)
    } ++ Seq((Option.empty[Long], t(5L, 6101789L), 99001L),
             (Option(7L), Option.empty[Timestamp], 99002L))
    val purchases = (1 to 2000).map { i =>
      val k = if (i % 2 == 0) 7L else (i % 13).toLong
      (Option(k), t(i.toLong, 7919321L), 20000L + i)
    } ++ Seq((Option.empty[Long], t(9L, 7919321L), 88001L),
             (Option(7L), Option.empty[Timestamp], 88002L))
    val cDf = clicks.toDF("c_user", "c_ts", "click_id")
    val pDf = purchases.toDF("user_id", "p_ts", "purchase_id")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"purchase_id", $"click_id", $"c_ts")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getTimestamp(2)))).toSet
    val plain = canon(AsofJoin.asof(pDf, cDf,
      "user_id", "c_user", "p_ts", "c_ts", "click_id"))
    val day = 86400L * 1000000L
    val bucketed = AsofJoin.asofBucketed(pDf, cDf,
      "user_id", "c_user", "p_ts", "c_ts", "click_id", day)
    val b = canon(bucketed)
    assert(b == plain,
      s"only bucketed: ${(b -- plain).take(5)}\nonly plain: ${(plain -- b).take(5)}")
    assert(b.size == purchases.size)
    // the mitigation's whole point: the exec's exchange hashes on
    // (key, BUCKET), spreading a hot key across its time buckets
    val planStr = bucketed.queryExecution.executedPlan.toString
    assert(planStr.contains("__asof_lbkt"),
      s"expected bucket column in the physical plan:\n$planStr")
  }

  test("planted hot key (60% of rows): bucketing bounds per-task input rows") {
    val s = spark
    import s.implicits._
    val base = ts("2024-01-01 00:00:00").getTime
    val spanMs = 30L * 86400000L
    // 60% of both sides on key 7, spread across 30 days
    val pDf = (1 to 4000).map { i =>
      val k = if (i % 5 < 3) 7L else (i % 13).toLong
      (k, new Timestamp(base + (i * 7919321L) % spanMs), 20000L + i)
    }.toDF("user_id", "p_ts", "purchase_id")
    val cDf = (1 to 4000).map { i =>
      val k = if (i % 5 < 3) 7L else (i % 11).toLong
      (k, new Timestamp(base + (i * 6101789L) % spanMs), 10000L + i)
    }.toDF("c_user", "c_ts", "click_id")
    // bit-equality of the full result rows
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val plain = AsofJoin.asof(pDf, cDf,
      "user_id", "c_user", "p_ts", "c_ts", "click_id")
    val day = 86400L * 1000000L
    val bucketed = AsofJoin.asofBucketed(pDf, cDf,
        "user_id", "c_user", "p_ts", "c_ts", "click_id", day)
      .select(plain.columns.map(col): _*)
    assert(canon(bucketed) == canon(plain))
    // Per-task input bound. The exec requires
    // ClusteredDistribution(keys) resp. (keys :+ bucket), which
    // EnsureRequirements satisfies with hashpartitioning over exactly
    // those columns — simulate the same assignment at the session's
    // partition count and measure the largest task's input.
    def maxPartitionRows(df: org.apache.spark.sql.DataFrame,
                         cols: org.apache.spark.sql.Column*): Int =
      df.repartition(4, cols: _*).rdd
        .mapPartitions(it => Iterator(it.size)).collect().max
    val withBucket = pDf.withColumn("b",
      floor(unix_micros($"p_ts") / day))
    val maxPlain = maxPartitionRows(pDf, $"user_id")
    val maxBucketed = maxPartitionRows(withBucket, $"user_id", $"b")
    // unsplit: one task swallows the whole hot key (≥60% of rows);
    // bucketed: the hot key spreads over its ~30 day-buckets
    assert(maxPlain >= 2400, s"skew plant failed: $maxPlain")
    assert(maxBucketed < (maxPlain * 0.6).toInt,
      s"bucketing did not spread the hot key: $maxBucketed vs $maxPlain")
  }

  test("asofBucketed: carry-over crosses empty buckets; integral time columns") {
    val s = spark
    import s.implicits._
    // right rows only in bucket 0; left rows in buckets 5 and 9 — the
    // match must carry across many empty buckets
    val l = Seq((1L, 55L, 500L), (1L, 97L, 501L), (2L, 55L, 502L))
      .toDF("k", "lt", "lid")
    val r = Seq((1L, 3L, 40L), (1L, 7L, 41L), (3L, 2L, 42L))
      .toDF("rk", "rt", "rid")
    val got = AsofJoin.asofBucketed(l, r, "k", "rk", "lt", "rt", "rid", 10L)
      .select($"lid", $"rid")
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
    assert(got == Map(500L -> Some(41L), 501L -> Some(41L), 502L -> None),
      s"got $got")
  }

  test("null timestamps: null right times never match, null left times null-pad") {
    val s = spark
    import s.implicits._
    // SQL three-valued logic: rightTime <= leftTime is NULL (not
    // true) when either side is null — DuckDB's ASOF never matches
    // such rows. Null times sort FIRST under the child ordering, so
    // an unguarded merge would absorb them as matches.
    val purchases = Seq(
      (1L, Option(ts("2024-01-01 10:00:00")), 200L), // only null-ts click for key 1 -> no match
      (2L, Option(ts("2024-01-01 10:00:00")), 201L), // null-ts click skipped, 09:00 click wins
      (3L, Option.empty[Timestamp], 202L),           // null LEFT time -> never matches
      (3L, Option(ts("2024-01-01 10:00:00")), 203L)) // same key, real time -> matches normally
      .toDF("user_id", "p_ts", "purchase_id")
    val clicks = Seq(
      (1L, Option.empty[Timestamp], 20L),
      (2L, Option.empty[Timestamp], 21L),
      (2L, Option(ts("2024-01-01 09:00:00")), 22L),
      (3L, Option(ts("2024-01-01 08:00:00")), 23L))
      .toDF("c_user", "c_ts", "click_id")
    val got = AsofJoin.asof(purchases, clicks,
        "user_id", "c_user", "p_ts", "c_ts", "click_id")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(
      200L -> None, 201L -> Some(22L), 202L -> None, 203L -> Some(23L)),
      s"got $got")
  }

  test("type mismatches between sides fail fast with a clear message") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("k", "lt", "lid")
    val rIntKey = Seq((1, 5L, 7L)).toDF("rk", "rt", "rid")
    val keyErr = intercept[IllegalArgumentException] {
      AsofJoin.asof(l, rIntKey, "k", "rk", "lt", "rt", "rid")
    }
    assert(keyErr.getMessage.contains("key type mismatch"))
    val rTsTime = Seq((1L, ts("2024-01-01 00:00:00"), 7L)).toDF("rk", "rt", "rid")
    val timeErr = intercept[IllegalArgumentException] {
      AsofJoin.asof(l, rTsTime, "k", "rk", "lt", "rt", "rid")
    }
    assert(timeErr.getMessage.contains("time type mismatch"))
  }

  test("multi-column keys: (tenant, user) as-of matching") {
    val s = spark
    import s.implicits._
    val l = Seq(
      ("a", 1L, 100L, 900L),
      ("a", 2L, 100L, 901L),   // same user id, different tenant partition
      ("b", 1L, 100L, 902L))
      .toDF("tenant", "user", "lt", "lid")
    val r = Seq(
      ("a", 1L, 50L, 1L),
      ("a", 2L, 60L, 2L),
      ("b", 1L, 70L, 3L),
      ("b", 2L, 80L, 4L))
      .toDF("r_tenant", "r_user", "rt", "rid")
    val got = AsofJoin.asof(l, r, Seq("tenant", "user"),
        Seq("r_tenant", "r_user"), "lt", "rt", "rid")
      .select($"lid", $"rid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got == Map(900L -> 1L, 901L -> 2L, 902L -> 3L), s"got $got")
  }

  test("bare collect and direct orderBy work (exec emits unsafe rows)") {
    // no Project between the exec and the sink: the exec's own output
    // rows reach collect/sort directly, which assume the unsafe format
    val s = spark
    import s.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("k", "lt", "lid")
    val r = Seq((1L, 5L, 7L)).toDF("rk", "rt", "rid")
    val joined = AsofJoin.asof(l, r, "k", "rk", "lt", "rt", "rid")
    val rows = joined.collect()
    assert(rows.length == 1 && rows.head.getLong(5) == 7L)
    assert(joined.orderBy($"lid").collect().length == 1)
  }

  test("AQE with asymmetric side sizes keeps the sides co-partitioned") {
    // AQE coalesces shuffle partitions by size; if it coalesced the
    // two as-of exchanges INDEPENDENTLY the zipPartitions merge would
    // see unequal partition counts. A huge left against a tiny right
    // is the worst case — results must still be complete and correct.
    val s = spark
    import s.implicits._
    val left = spark.range(0, 200000)
      .select(($"id" % 50).as("k"), $"id".as("lt"), $"id".as("lid"))
    val right = spark.range(0, 40)
      .select(($"id" % 50).as("rk"), ($"id" * 1000).as("rt"), $"id".as("rid"))
    val joined = AsofJoin.asof(left, right, "k", "rk", "lt", "rt", "rid")
    // every left row with lt >= its key's smallest right rt matches;
    // independently compute the expected match count
    val rightRows = (0L until 40L).map(i => (i % 50, i * 1000, i))
    val expected = (0L until 200000L).count { id =>
      val k = id % 50
      rightRows.exists { case (rk, rt, _) => rk == k && rt <= id }
    }
    val gotMatched = joined.filter($"rid".isNotNull).count()
    assert(joined.count() == 200000L)
    assert(gotMatched == expected, s"matched $gotMatched, expected $expected")
  }

  test("plan shape: co-partitioning exchanges and per-side sorts around the exec") {
    val s = spark
    import s.implicits._
    val l = spark.range(0, 1000)
      .select($"id".as("k"), ($"id" * 2).as("lt"), $"id".as("lid"))
    val r = spark.range(0, 1000)
      .select($"id".as("rk"), ($"id" * 3).as("rt"), $"id".as("rid"))
    val df = AsofJoin.asof(l, r, "k", "rk", "lt", "rt", "rid")
    assert(df.count() == 1000)   // finalize the adaptive plan first
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val execs = plan.collect { case e: AsofJoinExec => e }
    assert(execs.size == 1, s"expected one AsofJoinExec:\n$plan")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.size == 2,
      s"expected a hash exchange per side:\n$plan")
    val sorts = plan.collect {
      case so: org.apache.spark.sql.execution.SortExec => so
    }
    assert(sorts.size == 2, s"expected a per-side sort:\n$plan")
  }
}
