package graft.etl

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Partition-scoped rebuild: only the batch's partitions move, other
  * partitions keep their exact files; a mis-scoped batch is refused
  * before writing; non-partitioned targets are refused. */
class BackfillSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: Warehouse = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
    wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("bf_wh_").toString,
      "/root/testdata/sf0.001")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val design = TableDesign(TableName.parse("bf.fact"), "CTAS", Seq(
    ColumnDef("k", "long"), ColumnDef("v", "string"), ColumnDef("day", "string")),
    partitionBy = Seq("day"))

  private def filesUnder(suffix: String): Map[String, Long] = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("fact", Some("bf")))
      .location.getPath
    val dir = new java.io.File(s"$loc/$suffix")
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified).toMap
  }

  test("backfill replaces exactly the batch partitions") {
    val s = spark
    import s.implicits._
    val t = TableName.parse("bf.fact")
    wh.writeTable(t, Seq(
      (1L, "a", "d1"), (2L, "b", "d1"),
      (3L, "c", "d2"),
      (4L, "d", "d3")).toDF("k", "v", "day"), Some(design))
    val d1Before = filesUnder("day=d1")
    val d3Before = filesUnder("day=d3")
    assert(d1Before.nonEmpty && d3Before.nonEmpty)

    val rebuilt = wh.rebuildPartitions(t,
      Seq((30L, "cc", "d2"), (31L, "cd", "d2")).toDF("k", "v", "day"),
      expect = Some(Set("day=d2")))
    assert(rebuilt == Seq("day=d2"))
    val got = spark.table(t.quoted).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1L, "a", "d1"), (2L, "b", "d1"),
      (4L, "d", "d3"), (30L, "cc", "d2"), (31L, "cd", "d2")))
    // untouched partitions keep their exact files
    assert(filesUnder("day=d1") == d1Before, "day=d1 files must not move")
    assert(filesUnder("day=d3") == d3Before, "day=d3 files must not move")
  }

  test("a batch outside the declared scope is refused before writing") {
    val s = spark
    import s.implicits._
    val t = TableName.parse("bf.fact")
    val before = spark.table(t.quoted).count()
    val e = intercept[IllegalArgumentException] {
      wh.rebuildPartitions(t,
        Seq((9L, "x", "d2"), (10L, "y", "d3")).toDF("k", "v", "day"),
        expect = Some(Set("day=d2")))
    }
    assert(e.getMessage.contains("day=d3"))
    assert(spark.table(t.quoted).count() == before, "nothing may be written")
  }

  test("compactPartitions folds a fragmented partition, leaves others' files") {
    val s = spark
    import s.implicits._
    val t = TableName.parse("bf.cfact")
    val cdesign = design.copy(name = t)
    wh.writeTable(t, Seq(
      (1L, "a", "d1"), (3L, "c", "d2")).toDF("k", "v", "day"), Some(cdesign))
    // fragment day=d2 with many tiny backfills (each adds files)
    (0 until 6).foreach { i =>
      wh.rebuildPartitions(t,
        (0 to i).map(j => (100L + j, s"x$j", "d2")).toDF("k", "v", "day")
          .repartition(4), expect = Some(Set("day=d2")))
    }
    def files(suffix: String): Map[String, Long] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("cfact", Some("bf")))
        .location.getPath
      Option(new java.io.File(s"$loc/$suffix").listFiles).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val d1Before = files("day=d1")
    val rows = spark.table(t.quoted).orderBy("k").collect().map(_.toSeq).toSeq
    val before = files("day=d2").size
    assert(before > 2, s"fragmentation setup produced only $before files")
    val report = wh.compactPartitions(t, Seq("day=d1", "day=d2"),
      maxDataFiles = 2)
    // d1 is small → skipped entirely; d2 folded
    assert(!report.contains("day=d1"))
    val (b, a) = report("day=d2")
    assert(b == before && a <= 2, s"compaction $b -> $a")
    assert(files("day=d1") == d1Before, "day=d1 files must not move")
    assert(spark.table(t.quoted).orderBy("k").collect().map(_.toSeq).toSeq
      == rows, "compaction must not change data")
    assert(wh.compactPartitions(t, Seq("day=d2"), maxDataFiles = 2,
      dryRun = true).isEmpty, "post-compaction dry run reports nothing crowded")
    // the CLI arm routes --partitions to the same compaction
    assert(graft.Cli.run(spark, "optimize", Map(
      "data" -> "/root/testdata/sf0.001", "warehouse" -> wh.warehouseDir,
      "table" -> "bf.cfact", "partitions" -> "day=d2", "max-files" -> "2",
      "dry-run" -> "true")) == 0)
  }

  test("null partition values: hive default-partition spec, compaction keeps nulls") {
    val s = spark
    import s.implicits._
    val t = TableName.parse("bf.nfact")
    wh.writeTable(t, Seq(
      (1L, "a", "d1"), (2L, "b", null.asInstanceOf[String]))
      .toDF("k", "v", "day"), Some(design.copy(name = t)))
    // backfill of the NULL partition is addressed by hive's name
    val spec = s"day=${Warehouse.HiveDefaultPartition}"
    val rebuilt = wh.rebuildPartitions(t,
      (20L to 27L).map(i => (i, s"b$i", null.asInstanceOf[String]))
        .toDF("k", "v", "day").repartition(4),
      expect = Some(Set(spec)))
    assert(rebuilt == Seq(spec), rebuilt.toString)
    def rowsNow = spark.table(t.quoted).orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    val wantRows = (1L, Option("d1")) +:
      (20L to 27L).map(i => (i, Option.empty[String]))
    assert(rowsNow == wantRows, rowsNow.toString)
    // per-partition compaction restores NULL, never the sentinel string
    val report = wh.compactPartitions(t, Seq(spec), maxDataFiles = 1)
    // folded down to the session's write parallelism (2 tasks here)
    assert(report.contains(spec) && report(spec)._2 < report(spec)._1,
      report.toString)
    assert(rowsNow == wantRows,
      "compaction must keep null partition values NULL")
  }

  test("specs use Hive path escaping for special-char partition values") {
    val s = spark
    import s.implicits._
    val t = TableName.parse("bf.esc")
    val esc = TableDesign(t, "CTAS", Seq(
      ColumnDef("k", "long"), ColumnDef("v", "string"), ColumnDef("ts", "string")),
      partitionBy = Seq("ts"))
    // ':' and ' ' are characters Hive escapes in directory names —
    // timestamp-shaped partition values hit both
    wh.writeTable(t, Seq(
      (1L, "a", "2024-01-01 10:00:00"),
      (2L, "b", "2024-01-02 11:30:00")).toDF("k", "v", "ts"), Some(esc))
    val spec = "ts=2024-01-01 10%3A00%3A00"
    val rebuilt = wh.rebuildPartitions(t,
      Seq((10L, "aa", "2024-01-01 10:00:00")).toDF("k", "v", "ts"),
      expect = Some(Set(spec)))
    assert(rebuilt == Seq(spec),
      s"spec must match the on-disk escaped layout, got $rebuilt")
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("esc", Some("bf")))
      .location.getPath
    assert(new java.io.File(s"$loc/$spec").isDirectory,
      "escaped spec must name the real partition directory")
    // compactPartitions' read/restore path works through the same spec
    for (_ <- 1 to 3)
      wh.rebuildPartitions(t,
        Seq((10L, "aa", "2024-01-01 10:00:00")).toDF("k", "v", "ts"),
        expect = Some(Set(spec)))
    val report = wh.compactPartitions(t, Seq(spec), maxDataFiles = 0)
    assert(report.contains(spec), report.toString)
    val got = spark.table(t.quoted).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((2L, "2024-01-02 11:30:00"),
      (10L, "2024-01-01 10:00:00")), got.toString)
  }

  test("vacuum sweeps AGED orphan scratch dirs, spares in-flight ones") {
    val tmp = new java.io.File(s"${wh.warehouseDir}/tmp/compact_orphan")
    assert(tmp.mkdirs())
    java.nio.file.Files.write(tmp.toPath.resolve("part-leftover"),
      "x".getBytes)
    tmp.setLastModified(System.currentTimeMillis() - 2 * 60 * 60 * 1000L)
    val live = new java.io.File(s"${wh.warehouseDir}/tmp/compact_active")
    assert(live.mkdirs())   // fresh mtime = a compaction in flight NOW
    val res = wh.vacuum(Seq.empty)
    assert(res.deleted.exists(_.contains("compact_orphan")), res.toString)
    assert(!tmp.exists(), "aged orphan scratch dir must be reclaimed")
    assert(live.exists(),
      "a concurrent compaction's scratch must survive the sweep")
    live.delete()
  }

  test("non-partitioned and empty-batch targets are refused") {
    val s = spark
    import s.implicits._
    val flat = TableName.parse("bf.flat")
    wh.writeTable(flat, Seq((1L, "a", "d1")).toDF("k", "v", "day"))
    intercept[IllegalArgumentException] {
      wh.rebuildPartitions(flat, Seq((2L, "b", "d1")).toDF("k", "v", "day"))
    }
    intercept[IllegalArgumentException] {
      wh.rebuildPartitions(TableName.parse("bf.fact"),
        Seq.empty[(Long, String, String)].toDF("k", "v", "day"))
    }
  }
}
