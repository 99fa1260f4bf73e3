package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Invariant coverage for the incremental warehouse operators beyond
  * the oracle hash: SCD2 output must be a valid version history, and
  * the rollup merge must be bit-equal to a direct recompute. */
class DimOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("scd2 output is a valid version history with every change class present") {
    val s = spark
    import s.implicits._
    val out = DimOps.scd2MergeDim(spark, sfDir).cache()
    try {
      // at most one current row per key, and closed rows end at the
      // snapshot date while current rows are open-ended
      val perKey = out.groupBy($"customer_key").agg(
        sum(when($"is_current", 1).otherwise(0)).as("n_current"),
        count(lit(1)).as("n_rows"))
      assert(perKey.filter($"n_current" > 1).isEmpty,
        "a key has more than one current row")
      assert(perKey.filter($"n_rows" > 2).isEmpty,
        "a key has more than two version rows after one merge")
      assert(out.filter(!$"is_current" && $"valid_to" =!= "2024-06-01").isEmpty)
      assert(out.filter($"is_current" && $"valid_to" =!= "9999-12-31").isEmpty)
      // the synthetic snapshot exercises all four classes
      val changed = out.groupBy($"customer_key").count().filter($"count" === 2)
      assert(changed.count() > 0, "no changed keys")
      val deleted = out.groupBy($"customer_key")
        .agg(max(when($"is_current", 1).otherwise(0)).as("open"))
        .filter($"open" === 0)
      assert(deleted.count() > 0, "no deleted keys")
      assert(out.filter($"customer_key" >= 1000000L &&
        $"valid_from" === "2024-06-01").count() > 0, "no new keys")
      assert(out.filter($"valid_from" === "2024-01-01" &&
        $"valid_to" === "9999-12-31").count() > 0, "no unchanged keys")
      // changed keys: the two versions never overlap (old closes where
      // new opens) and attribute structs actually differ
      val twoRow = out.withColumn("a",
          struct($"c_name", $"c_acctbal", $"c_mktsegment"))
        .groupBy($"customer_key")
        .agg(count(lit(1)).as("n"), countDistinct($"a").as("nd"),
          min($"valid_to").as("closes"), max($"valid_from").as("opens"))
        .filter($"n" === 2)
      assert(twoRow.filter($"nd" =!= 2).isEmpty,
        "a changed key's two versions share identical attributes")
      assert(twoRow.filter($"closes" =!= $"opens").isEmpty,
        "a changed key's versions do not meet at the snapshot date")
    } finally out.unpersist()
  }

  test("scd2Upsert: latest-per-key wins, replay converges, stale updates ignored") {
    val s = spark
    import s.implicits._
    val attrs = Seq("name", "seg")
    val dim = DimOps.scd2Init(
      Seq((1L, "a", "X"), (2L, "b", "Y"), (3L, "c", "Z"))
        .toDF("k", "name", "seg"),
      "k", attrs, from = "2024-01-01")
    val batch = Seq(
      (1L, "a1", "X", "2024-02-01"),  // superseded inside the batch...
      (1L, "a2", "X", "2024-03-01"),  // ...by this later update
      (2L, "b", "Y", "2024-03-01"),   // identical attrs → no-op
      (3L, "c9", "Z", "2023-12-01"),  // stale (before valid_from) → ignored
      (4L, "d", "W", "2024-03-01"))   // new key
      .toDF("k", "name", "seg", "as_of")
    val once = DimOps.scd2Upsert(dim, batch, "k", attrs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    val expected = Set(
      List(1L, "a", "X", "2024-01-01", "2024-03-01", false),
      List(1L, "a2", "X", "2024-03-01", "9999-12-31", true),
      List(2L, "b", "Y", "2024-01-01", "9999-12-31", true),
      List(3L, "c", "Z", "2024-01-01", "9999-12-31", true),
      List(4L, "d", "W", "2024-03-01", "9999-12-31", true))
    assert(rows(once) == expected)
    // at-least-once replay: merging the same batch again changes nothing
    assert(rows(DimOps.scd2Upsert(once, batch, "k", attrs)) == expected)
    // a later batch chains a third version off the second
    val batch2 = Seq((1L, "a3", "X2", "2024-05-01")).toDF("k", "name", "seg", "as_of")
    val twice = DimOps.scd2Upsert(once, batch2, "k", attrs)
    assert(rows(twice.filter($"k" === 1L)) == Set(
      List(1L, "a", "X", "2024-01-01", "2024-03-01", false),
      List(1L, "a2", "X", "2024-03-01", "2024-05-01", false),
      List(1L, "a3", "X2", "2024-05-01", "9999-12-31", true)))
  }

  test("HLL day-sketch rollup: merged range estimate equals one-shot; within 2% of exact") {
    val s = spark
    import s.implicits._
    val events = Tables.load(spark, sfDir, "events")
      .select(col("ts"), col("user_id"))
    val days = events.select(to_date($"ts").as("day")).distinct()
      .orderBy($"day").as[java.sql.Date].collect()
    assert(days.length >= 3, s"need several days, got ${days.length}")
    val cutoff = days(days.length / 2)
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_hll_wh_").toString, sfDir)
    val tbl = graft.etl.TableName.parse("rollup.user_day_sketches")
    // day 0: the batch pipeline sketched the history...
    wh.writeTable(tbl, DimOps.userSketchByDay(
      events.filter(to_date($"ts") < cutoff)))
    // ...and later days arrive as appended batches
    DimOps.appendUserSketches(wh, tbl,
      events.filter(to_date($"ts") >= cutoff), "d2")
    val lo = days.head.toString
    val hi = days.last.toString
    val merged = DimOps.distinctUsersInRange(spark, tbl, lo, hi)
    // merged day sketches must estimate EXACTLY like one sketch over
    // the whole range (union associativity at fixed lgK)
    val oneShot = events
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id"))).collect()(0).getLong(0)
    assert(merged == oneShot,
      s"merged day sketches ($merged) diverge from one-shot sketch ($oneShot)")
    val exact = events.select($"user_id").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact <= 0.02,
      s"estimate $merged vs exact $exact exceeds 2%")
    // a replayed append must not change the estimate (idempotent tag)
    DimOps.appendUserSketches(wh, tbl,
      events.filter(to_date($"ts") >= cutoff), "d2")
    assert(DimOps.distinctUsersInRange(spark, tbl, lo, hi) == merged,
      "replayed append changed the stored rollup")
    // and a sub-range needs only its own sketches
    val subExact = events.filter(to_date($"ts") < cutoff)
      .select($"user_id").distinct().count()
    val sub = DimOps.distinctUsersInRange(spark, tbl, lo,
      cutoff.toLocalDate.minusDays(1).toString)
    assert(math.abs(sub - subExact).toDouble / subExact <= 0.02,
      s"sub-range estimate $sub vs exact $subExact exceeds 2%")
  }

  test("histogram quantile rollup: stored days merge exactly, bounded error, idempotent") {
    val s = spark
    import s.implicits._
    val events = Tables.load(spark, sfDir, "events")
      .select(col("ts"), col("event_type"), col("value"))
    val days = events.select(to_date($"ts").as("day")).distinct()
      .orderBy($"day").as[java.sql.Date].collect()
    val cutoff = days(days.length / 2)
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_hist_wh_").toString, sfDir)
    val tbl = graft.etl.TableName.parse("rollup.value_hist")
    wh.writeTable(tbl, DimOps.valueHistogram(
      events.filter(to_date($"ts") < cutoff)))
    DimOps.appendValueHistogram(wh, tbl,
      events.filter(to_date($"ts") >= cutoff), "d2")
    def quantRows(df: org.apache.spark.sql.DataFrame) =
      DimOps.histQuantiles(df).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
    // merged stored days must equal a one-shot histogram EXACTLY
    // (integer vector addition, not an estimate)
    val stored = quantRows(spark.table(tbl.quoted))
    val oneShot = quantRows(DimOps.valueHistogram(events))
    assert(stored == oneShot, s"stored $stored vs one-shot $oneShot")
    // bounded error: the histogram rank rule matches percentile_disc
    // (smallest value whose cumulative rank reaches ⌈T·q⌉), so each
    // histogram percentile lies within ONE BIN WIDTH of the exact
    // discrete percentile — a hard bound, not probabilistic
    val exact = events.groupBy($"event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("e50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("e95"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("e99"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val binW = 1.0 / DimOps.HistScale + 1e-9
    stored.foreach { case (t, p50, p95, p99) =>
      val (e50, e95, e99) = exact(t)
      assert(math.abs(p50 - e50) <= binW, s"$t p50 $p50 vs $e50")
      assert(math.abs(p95 - e95) <= binW, s"$t p95 $p95 vs $e95")
      assert(math.abs(p99 - e99) <= binW, s"$t p99 $p99 vs $e99")
    }
    // replayed append: stored rollup unchanged
    DimOps.appendValueHistogram(wh, tbl,
      events.filter(to_date($"ts") >= cutoff), "d2")
    assert(quantRows(spark.table(tbl.quoted)) == stored,
      "replayed append changed the stored histogram")
    // a sub-range query reads only its own day rows
    val sub = quantRows(spark.table(tbl.quoted)
      .filter($"day" < lit(cutoff)))
    val subDirect = quantRows(DimOps.valueHistogram(
      events.filter(to_date($"ts") < cutoff)))
    assert(sub == subDirect)
  }

  test("stored IVF index probe is bit-equal to the in-memory sq8 path") {
    val s = spark
    import s.implicits._
    val stored = AnnOps.annIvfTopkStored(spark, sfDir).collect()
    val direct = AnnOps.annIvfTopkSq8(spark, sfDir).collect()
    assert(stored.length == direct.length && stored.length > 0)
    stored.zip(direct).foreach { case (a, b) =>
      assert(a == b, s"stored/direct divergence: $a vs $b")
    }
  }

  test("the stored IVF centroid table lands as one data file") {
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_ivf1_wh_").toString, sfDir)
    val centsT = graft.etl.TableName.parse("ann.one_centroids")
    AnnOps.buildIvfIndex(wh, sfDir, centsT,
      graft.etl.TableName.parse("ann.one_index"), Tables.load(spark, sfDir, "embeddings"))
    val files = spark.table(centsT.quoted).inputFiles
    assert(files.length == 1, s"centroid table spread over ${files.mkString(", ")}")
  }

  test("compacting the append-grown IVF index leaves the probe bit-equal") {
    val s = spark
    import s.implicits._
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_ivfc_wh_").toString, sfDir)
    val centsT = graft.etl.TableName.parse("ann.c_centroids")
    val idxT = graft.etl.TableName.parse("ann.c_index")
    val corpus = Tables.load(spark, sfDir, "embeddings")
    val n = corpus.count()
    // build over the first slice, append seven more tagged batches —
    // the file-growth shape a streamed index accumulates (one-plus
    // file per micro-batch)
    val step = math.max(1L, n / 8)
    AnnOps.buildIvfIndex(wh, sfDir, centsT, idxT,
      corpus.filter($"vec_id" < step))
    (1 until 8).foreach { i =>
      val hi = if (i == 7) Long.MaxValue else (i + 1) * step
      AnnOps.appendToIvfIndex(wh, centsT, idxT,
        corpus.filter($"vec_id" >= i * step && $"vec_id" < hi), s"b$i")
    }
    val before = AnnOps.probeIvfIndex(spark, sfDir, centsT, idxT).collect()
    val folded = wh.compactTable(idxT, maxDataFiles = 4)
    assert(folded.exists { case (b, a) => b > a },
      s"append-grown index must compact, got $folded")
    val after = AnnOps.probeIvfIndex(spark, sfDir, centsT, idxT).collect()
    assert(before.length == after.length && before.nonEmpty)
    before.zip(after).foreach { case (a, b) =>
      assert(a == b, s"compaction changed the probe: $a vs $b")
    }
  }

  test("rollup merge is bit-equal to the direct full recompute") {
    val s = spark
    import s.implicits._
    val merged = DimOps.rollupIncremental(spark, sfDir).collect()
    val direct = Tables.load(spark, sfDir, "orders")
      .groupBy($"o_orderstatus",
        date_format($"o_orderdate", "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(DecimalType(18, 6)))
          .cast("double").as("sum_price"))
      .orderBy($"o_orderstatus", $"order_month").collect()
    assert(merged.length == direct.length)
    merged.zip(direct).foreach { case (m, d) =>
      assert(m.getString(0) == d.getString(0) && m.getString(1) == d.getString(1))
      assert(m.getLong(2) == d.getLong(2))
      assert(java.lang.Double.doubleToRawLongBits(m.getDouble(3)) ==
        java.lang.Double.doubleToRawLongBits(d.getDouble(3)),
        s"sum mismatch at ${m.getString(0)}/${m.getString(1)}")
    }
  }

  test("delta-join maintenance equals the direct join; tag replay is idempotent") {
    val s = spark
    import s.implicits._
    val orders = Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey",
        $"o_totalprice".cast(DecimalType(18, 6)).as("price"))
    val cust = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
    val (oldO, newO) = (orders.filter(pmod($"o_orderkey", lit(4)) =!= 0),
      orders.filter(pmod($"o_orderkey", lit(4)) === 0))
    val (oldC, newC) = (cust.filter(pmod($"c_custkey", lit(5)) =!= 0),
      cust.filter(pmod($"c_custkey", lit(5)) === 0))
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_deltajoin_t_").toString,
      sfDir)
    val table = graft.etl.TableName.parse("mart.orders_enriched_t")
    DimOps.deltaJoinMaintain(wh, table, oldO, newO, oldC, newC)
    def storedKeys() = spark.table(table.quoted)
      .select($"o_orderkey", $"o_custkey", $"c_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val afterBuild = storedKeys()
    // stored = direct inner join, row-for-row
    val direct = orders.join(cust, orders("o_custkey") === cust("c_custkey"))
      .select($"o_orderkey", $"o_custkey", $"c_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(afterBuild == direct, "delta-maintained join != direct join")
    // at-least-once replay of one delta term changes NOTHING
    val replay = newO.join(oldC.hint("shuffle_hash"),
        newO("o_custkey") === oldC("c_custkey"))
      .select(newO("o_orderkey"), newO("o_custkey"), newO("price"),
        oldC("c_name"), oldC("c_mktsegment"))
    assert(!wh.appendToTableIdempotent(table, replay, "delta-orders"),
      "replayed tag must be skipped")
    spark.catalog.refreshTable(table.quoted)
    assert(storedKeys() == afterBuild, "replay mutated the stored join")
  }
}
