package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The file-skipping min/max index: pruning actually skips files on a
  * clustered table, never changes results, survives incremental
  * appends (refresh indexes ONLY the new files), and handles the
  * all-pruned and all-null edges. */
class FileSkipIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_fsi_").toString, sfDir)

  test("clustered table: range scan prunes files, result equals full scan") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("skip.vals")
    // 10 files, values clustered by range: file i holds [i*100, i*100+99]
    val df = spark.range(0, 1000).select($"id".as("v"),
      (($"id" % 7)).as("tag"))
    wh.writeTable(t, df.repartitionByRange(10, $"v").sortWithinPartitions($"v"))
    val st = FileSkipIndex.build(wh, t, Seq("v"))
    val statRows = spark.table(st.quoted).collect()
    assert(statRows.length >= 8, s"expected ~10 files, got ${statRows.length}")
    assert(statRows.map(_.getAs[Long]("row_count")).sum == 1000L)
    // a 1.5-file-wide interval must read ~2 files, not all
    val p = FileSkipIndex.prunedScan(spark, t, "v", lit(250L), lit(399L))
    assert(p.filesTotal == statRows.length)
    assert(p.filesRead <= 3, s"read ${p.filesRead} of ${p.filesTotal}")
    val expected = spark.table(t.quoted).filter($"v" >= 250 && $"v" <= 399)
      .orderBy($"v").collect().map(_.getLong(0)).toSeq
    assert(p.df.orderBy($"v").collect().map(_.getLong(0)).toSeq == expected)
    // interval outside every file's range: zero files, empty result,
    // schema preserved
    val none = FileSkipIndex.prunedScan(spark, t, "v", lit(5000L), lit(6000L))
    assert(none.filesRead == 0 && none.df.count() == 0)
    assert(none.df.columns.toSeq == Seq("v", "tag"))
  }

  test("refresh indexes only the appended files; pruning sees them") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("skip.acc")
    wh.writeTable(t, spark.range(0, 100).select($"id".as("v"))
      .repartitionByRange(4, $"v"))
    val st = FileSkipIndex.build(wh, t, Seq("v"))
    val filesAfterBuild = spark.table(st.quoted).count()
    // three idempotent daily appends land new batch files
    (0 until 3).foreach { i =>
      assert(wh.appendToTableIdempotent(t,
        Seq(1000L + i).toDF("v"), s"day$i"))
    }
    assert(FileSkipIndex.refresh(wh, t, Seq("v")) == 3)
    // nothing new: refresh is a no-op, stats rows unchanged
    assert(FileSkipIndex.refresh(wh, t, Seq("v")) == 0)
    assert(spark.table(st.quoted).count() == filesAfterBuild + 3)
    // the appended values are reachable through the pruned scan and
    // the original files are NOT read for them
    val p = FileSkipIndex.prunedScan(spark, t, "v", lit(1000L), lit(1002L))
    assert(!p.stale, "the index must be current after refresh")
    assert(p.filesRead == 3, s"read ${p.filesRead}")
    assert(p.df.orderBy($"v").collect().map(_.getLong(0)).toSeq ==
      Seq(1000L, 1001L, 1002L))
  }

  test("stale index after compaction: pruned scan falls back, stays correct") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("skip.stale")
    wh.writeTable(t, spark.range(0, 200).select($"id".as("v"))
      .repartitionByRange(4, $"v"))
    FileSkipIndex.build(wh, t, Seq("v"))
    (0 until 70).foreach { i =>
      assert(wh.appendToTableIdempotent(t,
        Seq(1000L + i).toDF("v").coalesce(1), s"b$i"))
    }
    assert(FileSkipIndex.refresh(wh, t, Seq("v")) == 70)
    // compaction re-points the table at a brand-new build — the index
    // no longer describes the live files
    assert(wh.compactTable(t, maxDataFiles = 16).isDefined)
    val p = FileSkipIndex.prunedScan(spark, t, "v", lit(0L), lit(50L))
    assert(p.stale, "scan must report the stale index")
    assert(p.df.count() == 51, "fallback scan must still be correct")
    // rebuilding the index restores pruning
    FileSkipIndex.build(wh, t, Seq("v"))
    val p2 = FileSkipIndex.prunedScan(spark, t, "v", lit(1000L), lit(1069L))
    assert(!p2.stale && p2.df.count() == 70)
  }

  test("all-null files are pruned for range predicates; nulls never match") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("skip.nulls")
    wh.writeTable(t, spark.range(0, 5).select($"id".as("v")).coalesce(1))
    FileSkipIndex.build(wh, t, Seq("v"))
    // an appended batch holding ONLY nulls lands in its own file —
    // its stats row has null min/max (min/max ignore nulls)
    assert(wh.appendToTableIdempotent(t,
      Seq[Option[Long]](None, None).toDF("v").coalesce(1), "nullbatch"))
    assert(FileSkipIndex.refresh(wh, t, Seq("v")) == 1)
    val p = FileSkipIndex.prunedScan(spark, t, "v", lit(0L), lit(100L))
    assert(p.filesRead < p.filesTotal,
      s"the all-null file must be pruned: ${p.filesRead}/${p.filesTotal}")
    assert(p.df.count() == 5, "only non-null in-range rows qualify")
  }

  test("bloom skipping prunes point lookups on a scattered column") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("skip.bloom")
    // 16 files HASH-partitioned on tag: every file's [min,max] over v
    // spans nearly the whole domain, so the zone map cannot prune —
    // the bloom is the only thing standing between a point lookup and
    // a full scan
    val df = spark.range(0, 4000).select($"id".as("v"), ($"id" % 16).as("tag"))
    wh.writeTable(t, df.repartition(16, $"tag"))
    FileSkipIndex.buildBloom(wh, t, "v", expectedItems = 4096L)
    val probes = Seq(37L, 1999L, 3777L)
    val p = FileSkipIndex.prunedScanIn(spark, t, "v", probes)
    // the writer may leave zero-row files behind (empty hash
    // partitions); the index carries zero-row stats entries for them
    // or this scan would stale-fallback forever
    assert(!p.stale, "freshly built index must match the live listing")
    // 16 hash partitions collapse to ~11 non-empty files (tag-hash
    // collisions); what matters is that there are many files, each
    // spanning the domain
    assert(p.filesTotal >= 10, s"expected ~11-16 files, got ${p.filesTotal}")
    // 3 probed values live in ≤3 files; a 1%-class fpp adds at most a
    // couple of false candidates — far from the full listing
    assert(p.filesRead <= 6, s"read ${p.filesRead} of ${p.filesTotal}")
    assert(p.df.orderBy($"v").collect().map(_.getLong(0)).toSeq == probes)
    // min/max over the same layout proves the contrast: it reads all
    val st = FileSkipIndex.build(wh, t, Seq("v"))
    val zm = FileSkipIndex.prunedScan(spark, t, "v", lit(1999L), lit(1999L))
    assert(zm.filesRead >= p.filesTotal - 1,
      s"zone map should be useless here, read ${zm.filesRead}")
    assert(spark.table(st.quoted).count() == p.filesTotal.toLong)
  }

  test("bloom refresh is incremental; all-null batch never a candidate; staleness falls back") {
    val s = spark
    import s.implicits._
    val wh = freshWarehouse()
    val t = TableName.parse("skip.bloomacc")
    wh.writeTable(t, spark.range(0, 500).select($"id".as("v"))
      .repartition(4))
    val bt = FileSkipIndex.buildBloom(wh, t, "v", expectedItems = 1024L)
    val base = spark.table(bt.quoted).count()
    assert(wh.appendToTableIdempotent(t,
      Seq(9001L, 9002L).toDF("v").coalesce(1), "b0"))
    assert(wh.appendToTableIdempotent(t,
      Seq[Option[Long]](None, None).toDF("v").coalesce(1), "bnull"))
    assert(FileSkipIndex.refreshBloom(wh, t, "v", 1024L) == 2)
    assert(FileSkipIndex.refreshBloom(wh, t, "v", 1024L) == 0)
    assert(spark.table(bt.quoted).count() == base + 2)
    val p = FileSkipIndex.prunedScanIn(spark, t, "v", Seq(9001L))
    assert(!p.stale && p.df.collect().map(_.getLong(0)).toSeq == Seq(9001L))
    assert(p.filesRead <= 2, s"read ${p.filesRead} of ${p.filesTotal}")
    // compaction invalidates the indexed file set → full-scan fallback
    (0 until 40).foreach { i =>
      assert(wh.appendToTableIdempotent(t,
        Seq(20000L + i).toDF("v").coalesce(1), s"c$i"))
    }
    assert(wh.compactTable(t, maxDataFiles = 8).isDefined)
    val stale = FileSkipIndex.prunedScanIn(spark, t, "v", Seq(20005L))
    assert(stale.stale, "post-compaction scan must report staleness")
    assert(stale.df.collect().map(_.getLong(0)).toSeq == Seq(20005L))
  }

  test("driver-side file-name collects are capped, refusing loudly") {
    val s = spark
    import s.implicits._
    val names = (1 to 5).map(i => s"part-$i.parquet").toDF("file")
    // under the cap: normal set
    assert(FileSkipIndex.boundedFileNames(names, "t", cap = 5).size == 5)
    // over the cap: a loud refusal, not a silent driver OOM
    val e = intercept[IllegalArgumentException](
      FileSkipIndex.boundedFileNames(names, "rep.wide", cap = 4))
    assert(e.getMessage.contains("rep.wide") &&
      e.getMessage.contains("partition"))
  }
}
