package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{TableName, Warehouse}
import graft.queries.MvOps

/** Automatic MV rewrite: the optimized plan must swap the base scan
  * for the MV scan exactly when the view covers the query AND is
  * fresh — and the rewritten results must be bit-equal to the
  * unrewritten ones for every supported aggregate shape. */
class MvRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var baseDir: String = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
    // An immutable base parquet file of our own (not the shared
    // testdata): group cols g1/g2, agg cols x (long) and v
    // (integer-valued double, so double sums are order-exact).
    val s = spark
    import s.implicits._
    baseDir = java.nio.file.Files.createTempDirectory("mv_base_").toString
    (1 to 400).map { i =>
      (s"g${i % 4}", s"h${i % 3}", i.toLong, (i % 97).toDouble)
    }.toDF("g1", "g2", "x", "v")
      .write.mode("overwrite").parquet(s"$baseDir/base.parquet")
  }

  override def afterAll(): Unit = if (spark != null) {
    MvRewrite.clear(spark)
    spark.stop()
  }

  private def base: DataFrame = spark.read.parquet(s"$baseDir/base.parquet")

  private def usesMv(df: DataFrame): Boolean = {
    val paths = MvOps.scanPaths(df)
    paths.nonEmpty && paths.forall(!_.contains("base.parquet"))
  }

  private def registered[A](name: String, version: String = "static",
                            current: () => String = () => "static")(
      body: DataFrame => A): A = {
    val mvDir = java.nio.file.Files.createTempDirectory("mv_store_").toString
    lastMvDir = mvDir
    MvRewrite.partials(base, Seq("g1", "g2"), Seq("x", "v"))
      .write.mode("overwrite").parquet(s"$mvDir/mv.parquet")
    MvRewrite.registerMv(spark, name, base,
      spark.read.parquet(s"$mvDir/mv.parquet"),
      Seq("g1", "g2"), Seq("x", "v"), version, current)
    try body(base) finally MvRewrite.unregister(spark, name)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("full-key aggregate rewrites to the MV and matches the base answer") {
    registered("mv1") { b =>
      val q = b.groupBy("g1", "g2").agg(
        count(lit(1)).as("n"), sum("x").as("sx"),
        min("v").as("mn"), max("v").as("mx")).orderBy("g1", "g2")
      assert(usesMv(q), q.queryExecution.optimizedPlan.toString)
      val got = rows(q)
      MvRewrite.unregister(spark, "mv1")
      val want = rows(b.groupBy("g1", "g2").agg(
        count(lit(1)).as("n"), sum("x").as("sx"),
        min("v").as("mn"), max("v").as("mx")).orderBy("g1", "g2"))
      assert(got == want)
    }
  }

  test("subset grouping + filter on a group column re-aggregate the MV") {
    registered("mv2") { b =>
      def q(d: DataFrame) = d.filter(col("g2") =!= "h0").groupBy("g1")
        .agg(sum("x").as("sx"), count(col("v")).as("cv"),
          avg("v").as("av")).orderBy("g1")
      val rewritten = q(b)
      assert(usesMv(rewritten), rewritten.queryExecution.optimizedPlan.toString)
      val got = rows(rewritten)
      MvRewrite.unregister(spark, "mv2")
      assert(got == rows(q(b)))
    }
  }

  test("global aggregate (no GROUP BY) rewrites") {
    registered("mv3") { b =>
      val q = b.agg(count(lit(1)).as("n"), sum("v").as("sv"))
      assert(usesMv(q), q.queryExecution.optimizedPlan.toString)
      val got = rows(q)
      MvRewrite.unregister(spark, "mv3")
      assert(got == rows(base.agg(count(lit(1)).as("n"), sum("v").as("sv"))))
    }
  }

  test("disqualifying shapes are left on the base scan") {
    registered("mv4") { b =>
      // filter on a non-group column
      assert(!usesMv(b.filter(col("x") > 10).groupBy("g1").agg(sum("x"))))
      // distinct aggregate
      assert(!usesMv(b.groupBy("g1").agg(countDistinct("x"))))
      // aggregate over an uncovered expression
      assert(!usesMv(b.groupBy("g1").agg(sum(col("x") + 1))))
      // group by an expression, not a column
      assert(!usesMv(b.groupBy(upper(col("g1"))).agg(sum("x"))))
      // grouping by a non-MV column
      assert(!usesMv(b.groupBy("x").agg(count(lit(1)))))
    }
  }

  test("a stale MV disqualifies itself until refreshed") {
    var live = "v1"
    registered("mv5", version = "v1", current = () => live) { b =>
      val q = b.groupBy("g1").agg(sum("x").as("sx"))
      assert(usesMv(q))
      live = "v2"   // base changed underneath
      assert(!usesMv(b.groupBy("g1").agg(sum("x").as("sx"))))
      live = "v1"   // refresh restored agreement
      assert(usesMv(b.groupBy("g1").agg(sum("x").as("sx"))))
    }
  }

  test("warehouse tableVersion moves on append and rebuild") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("mv_wh_").toString, sfDir)
    val t = TableName.parse("mv.vstamp")
    val s = spark
    import s.implicits._
    wh.writeTable(t, Seq((1L, "a")).toDF("k", "s"))
    val v1 = wh.tableVersion(t)
    assert(v1 != "absent")
    wh.appendToTableIdempotent(t, Seq((2L, "b")).toDF("k", "s"), "b1")
    val v2 = wh.tableVersion(t)
    assert(v2 != v1, "append must move the version stamp")
    wh.writeTable(t, Seq((3L, "c")).toDF("k", "s"))
    assert(wh.tableVersion(t) != v2, "rebuild must move the version stamp")
  }

  test("tableVersion sees partition-scoped backfills (nested-file mutations)") {
    val s = spark
    import s.implicits._
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("mv_vp_").toString, sfDir)
    val t = TableName.parse("mv.vpart")
    val design = graft.etl.TableDesign(t, "CTAS", Seq(
      graft.etl.ColumnDef("k", "long"), graft.etl.ColumnDef("day", "string")),
      partitionBy = Seq("day"))
    wh.writeTable(t, Seq((1L, "d1"), (2L, "d2")).toDF("k", "day"), Some(design))
    val v1 = wh.tableVersion(t)
    // a backfill rewrites files INSIDE day=d2/ — the location pointer
    // does not move, so only a recursive listing can catch it
    wh.rebuildPartitions(t, Seq((20L, "d2")).toDF("k", "day"),
      expect = Some(Set("day=d2")))
    assert(wh.tableVersion(t) != v1,
      "partition backfill must move the version stamp (stale MV gate)")
  }

  test("warehouse MV lifecycle: append goes stale, refresh re-arms") {
    val s = spark
    import s.implicits._
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("mv_whlc_").toString, sfDir)
    val baseT = TableName.parse("mv.base_sales")
    val mvT = TableName.parse("mv.base_sales_rollup")
    wh.writeTable(baseT, Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("g", "x"))
    def refresh(): Unit = {
      wh.writeTable(mvT,
        MvRewrite.partials(spark.table(baseT.quoted), Seq("g"), Seq("x")))
      MvRewrite.registerMv(spark, "whmv", spark.table(baseT.quoted),
        spark.table(mvT.quoted), Seq("g"), Seq("x"),
        version = wh.tableVersion(baseT),
        currentVersion = () => wh.tableVersion(baseT))
    }
    def q = spark.table(baseT.quoted).groupBy("g").agg(sum("x").as("sx"))
    def onMv(df: org.apache.spark.sql.DataFrame): Boolean = {
      val paths = MvOps.scanPaths(df)
      paths.nonEmpty && paths.forall(_.contains("base_sales_rollup"))
    }
    refresh()
    try {
      assert(onMv(q), q.queryExecution.optimizedPlan.toString)
      wh.appendToTableIdempotent(baseT, Seq(("c", 5L)).toDF("g", "x"), "b1")
      assert(!onMv(q), "appended base must disqualify the stale MV")
      refresh()
      val q3 = q.orderBy("g")
      assert(onMv(q3))
      assert(q3.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 4L), ("b", 2L), ("c", 5L)),
        "refreshed MV must serve the appended row")
    } finally MvRewrite.unregister(spark, "whmv")
  }

  test("incremental MV append: batch partials extend the view, replay is a no-op") {
    val s = spark
    import s.implicits._
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("mv_inc_").toString, sfDir)
    val baseT = TableName.parse("mv.inc_base")
    val mvT = TableName.parse("mv.inc_rollup")
    val sliceA = Seq(("a", 1L), ("b", 2L)).toDF("g", "x")
    val sliceB = Seq(("a", 10L), ("c", 5L)).toDF("g", "x")
    wh.writeTable(baseT, sliceA)
    wh.writeTable(mvT, MvRewrite.partials(sliceA, Seq("g"), Seq("x")))
    // base grows by one batch; the MV follows with PARTIAL rows only —
    // no rescan of the base — and re-registers at the new version
    wh.appendToTableIdempotent(baseT, sliceB, "b1")
    val partialsB = MvRewrite.partials(sliceB, Seq("g"), Seq("x"))
    assert(wh.appendToTableIdempotent(mvT, partialsB, "b1"))
    assert(!wh.appendToTableIdempotent(mvT, partialsB, "b1"),
      "replayed batch must be a no-op")
    MvRewrite.registerMv(spark, "incmv", spark.table(baseT.quoted),
      spark.table(mvT.quoted), Seq("g"), Seq("x"),
      version = wh.tableVersion(baseT),
      currentVersion = () => wh.tableVersion(baseT))
    try {
      // the MV now holds TWO partial rows for group 'a'; the rewrite's
      // re-aggregation folds them
      val q = spark.table(baseT.quoted).groupBy("g")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"),
          min("x").as("mn"), max("x").as("mx")).orderBy("g")
      val paths = MvOps.scanPaths(q)
      assert(paths.nonEmpty && paths.forall(_.contains("inc_rollup")),
        q.queryExecution.optimizedPlan.toString)
      assert(q.collect().map(_.toSeq).toSeq == Seq(
        Seq("a", 11L, 2L, 1L, 10L), Seq("b", 2L, 1L, 2L, 2L),
        Seq("c", 5L, 1L, 5L, 5L)))
    } finally MvRewrite.unregister(spark, "incmv")
  }

  test("partition-granular freshness: day-A backfill keeps day-B armed") {
    val s = spark
    import s.implicits._
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("mv_part_").toString, sfDir)
    val baseT = TableName.parse("mv.part_sales")
    val mvT = TableName.parse("mv.part_sales_rollup")
    val design = graft.etl.TableDesign(baseT, "CTAS", Seq(
      graft.etl.ColumnDef("x", "long"), graft.etl.ColumnDef("day", "string")),
      partitionBy = Seq("day"))
    wh.writeTable(baseT,
      Seq((1L, "d1"), (2L, "d1"), (5L, "d2"), (7L, "d3"))
        .toDF("x", "day"), Some(design))
    wh.writeTable(mvT,
      MvRewrite.partials(spark.table(baseT.quoted), Seq("day"), Seq("x")))
    MvRewrite.registerMv(spark, "pmv", spark.table(baseT.quoted),
      spark.table(mvT.quoted), Seq("day"), Seq("x"),
      version = wh.tableVersion(baseT),
      currentVersion = () => wh.tableVersion(baseT),
      partCol = Some("day"),
      partVersions = wh.partitionVersions(baseT),
      currentPartVersions = () => wh.partitionVersions(baseT))
    def onMv(df: org.apache.spark.sql.DataFrame): Boolean = {
      val paths = MvOps.scanPaths(df)
      paths.nonEmpty && paths.forall(_.contains("part_sales_rollup"))
    }
    def qFor(day: String) = spark.table(baseT.quoted)
      .filter(col("day") === day).groupBy("day").agg(sum("x").as("sx"))
    def qAll = spark.table(baseT.quoted).groupBy("day").agg(sum("x").as("sx"))
    try {
      assert(onMv(qAll) && onMv(qFor("d2")), "fresh MV serves everything")
      // backfill ONLY day=d1 — whole-table stamp moves, d2/d3 don't
      wh.rebuildPartitions(baseT, Seq((9L, "d1")).toDF("x", "day"),
        expect = Some(Set("day=d1")))
      assert(!onMv(qAll),
        "unscoped query must fall back to the base after ANY mutation")
      assert(!onMv(qFor("d1")),
        "query pinned to the CHANGED partition must not use the MV")
      assert(onMv(qFor("d2")),
        "query pinned to an unchanged partition stays on the MV:\n" +
          qFor("d2").queryExecution.optimizedPlan.toString)
      assert(qFor("d2").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("d2", 5L)))
      assert(qFor("d1").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("d1", 9L)),
        "changed-partition answer comes from the rebuilt base")
      // IN-pinned filter over unchanged partitions also rewrites
      val qIn = spark.table(baseT.quoted)
        .filter(col("day").isin("d2", "d3"))
        .groupBy("day").agg(sum("x").as("sx"))
      assert(onMv(qIn))
      // a RANGE over only unchanged partitions now rewrites too (the
      // bound-derived partition set is checked per value); a range
      // touching the changed one stays off the MV
      val qRange = spark.table(baseT.quoted)
        .filter(col("day") >= "d2").groupBy("day").agg(sum("x").as("sx"))
      assert(onMv(qRange), qRange.queryExecution.optimizedPlan.toString)
      assert(qRange.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("d2", 5L), ("d3", 7L)))
      val qRangeStale = spark.table(baseT.quoted)
        .filter(col("day") >= "d1").groupBy("day").agg(sum("x").as("sx"))
      assert(!onMv(qRangeStale))
    } finally MvRewrite.unregister(spark, "pmv")
    // the durable catalog captures partition stamps for partitioned bases
    val d = graft.etl.MvCatalog.createOrRefresh(spark, wh, "pmv2",
      baseT, TableName.parse("mv.part_sales_rollup2"), Seq("day"), Seq("x"))
    try {
      assert(d.partCol.contains("day"))
      assert(d.partVersions.keySet.exists(_.startsWith("day=")))
      wh.rebuildPartitions(baseT, Seq((11L, "d3")).toDF("x", "day"),
        expect = Some(Set("day=d3")))
      val q2 = spark.table(baseT.quoted).filter(col("day") === "d2")
        .groupBy("day").agg(sum("x").as("sx"))
      val paths = MvOps.scanPaths(q2)
      assert(paths.nonEmpty && paths.forall(_.contains("rollup2")),
        "catalog-armed MV keeps unchanged-partition rewrites after backfill")
    } finally MvRewrite.unregister(spark, "pmv2")
  }

  test("partition pinning works through DATE literals (day-partitioned fact)") {
    val s = spark
    import s.implicits._
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("mv_date_").toString, sfDir)
    val baseT = TableName.parse("mv.date_sales")
    val mvT = TableName.parse("mv.date_sales_rollup")
    val design = graft.etl.TableDesign(baseT, "CTAS", Seq(
      graft.etl.ColumnDef("x", "long"), graft.etl.ColumnDef("day", "date")),
      partitionBy = Seq("day"))
    wh.writeTable(baseT, Seq(
      (1L, java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Date.valueOf("2024-01-01")),
      (5L, java.sql.Date.valueOf("2024-01-02")))
      .toDF("x", "day"), Some(design))
    wh.writeTable(mvT,
      MvRewrite.partials(spark.table(baseT.quoted), Seq("day"), Seq("x")))
    MvRewrite.registerMv(spark, "dmv", spark.table(baseT.quoted),
      spark.table(mvT.quoted), Seq("day"), Seq("x"),
      version = wh.tableVersion(baseT),
      currentVersion = () => wh.tableVersion(baseT),
      partCol = Some("day"),
      partVersions = wh.partitionVersions(baseT),
      currentPartVersions = () => wh.partitionVersions(baseT))
    def onMv(df: org.apache.spark.sql.DataFrame): Boolean = {
      val paths = MvOps.scanPaths(df)
      paths.nonEmpty && paths.forall(_.contains("date_sales_rollup"))
    }
    try {
      wh.rebuildPartitions(baseT,
        Seq((9L, java.sql.Date.valueOf("2024-01-01"))).toDF("x", "day"),
        expect = Some(Set("day=2024-01-01")))
      // DATE-literal pin to the unchanged day rewrites; both the
      // typed-literal and the string-comparison spellings fold to the
      // same date literal after analysis
      val qTyped = spark.table(baseT.quoted)
        .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-02")))
        .groupBy("day").agg(sum("x").as("sx"))
      val qString = spark.table(baseT.quoted)
        .filter(col("day") === "2024-01-02")
        .groupBy("day").agg(sum("x").as("sx"))
      assert(onMv(qTyped), qTyped.queryExecution.optimizedPlan.toString)
      assert(onMv(qString), qString.queryExecution.optimizedPlan.toString)
      assert(qTyped.collect().map(_.getLong(1)).toSeq == Seq(5L))
      // pinned to the CHANGED day → base, rebuilt value served
      val qChanged = spark.table(baseT.quoted)
        .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-01")))
        .groupBy("day").agg(sum("x").as("sx"))
      assert(!onMv(qChanged))
      assert(qChanged.collect().map(_.getLong(1)).toSeq == Seq(9L))
    } finally MvRewrite.unregister(spark, "dmv")
  }

  test("partition RANGE pinning: a fresh date range rewrites; a range " +
    "touching a changed day falls back") {
    val s = spark
    import s.implicits._
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("mv_range_").toString, sfDir)
    val baseT = TableName.parse("mv.range_sales")
    val mvT = TableName.parse("mv.range_sales_rollup")
    val design = graft.etl.TableDesign(baseT, "CTAS", Seq(
      graft.etl.ColumnDef("x", "long"), graft.etl.ColumnDef("day", "date")),
      partitionBy = Seq("day"))
    wh.writeTable(baseT, Seq(
      (1L, java.sql.Date.valueOf("2024-01-01")),
      (5L, java.sql.Date.valueOf("2024-01-02")),
      (7L, java.sql.Date.valueOf("2024-01-03")))
      .toDF("x", "day"), Some(design))
    wh.writeTable(mvT,
      MvRewrite.partials(spark.table(baseT.quoted), Seq("day"), Seq("x")))
    MvRewrite.registerMv(spark, "rmv", spark.table(baseT.quoted),
      spark.table(mvT.quoted), Seq("day"), Seq("x"),
      version = wh.tableVersion(baseT),
      currentVersion = () => wh.tableVersion(baseT),
      partCol = Some("day"),
      partVersions = wh.partitionVersions(baseT),
      currentPartVersions = () => wh.partitionVersions(baseT))
    def onMv(df: org.apache.spark.sql.DataFrame): Boolean = {
      val paths = MvOps.scanPaths(df)
      paths.nonEmpty && paths.forall(_.contains("range_sales_rollup"))
    }
    try {
      // day 1 changes after the MV build — the MV is globally stale
      wh.rebuildPartitions(baseT,
        Seq((9L, java.sql.Date.valueOf("2024-01-01"))).toDF("x", "day"),
        expect = Some(Set("day=2024-01-01")))
      // a range over ONLY unchanged days rewrites (>= + <, the BETWEEN
      // desugaring), even though no conjunct pins an exact value
      val qFresh = spark.table(baseT.quoted)
        .filter(col("day") >= lit(java.sql.Date.valueOf("2024-01-02")) &&
          col("day") < lit(java.sql.Date.valueOf("2024-01-09")))
        .groupBy("day").agg(sum("x").as("sx")).orderBy("day")
      assert(onMv(qFresh), qFresh.queryExecution.optimizedPlan.toString)
      assert(qFresh.collect().map(_.getLong(1)).toSeq == Seq(5L, 7L))
      // a range that touches the rebuilt day must fall back to base
      val qStale = spark.table(baseT.quoted)
        .filter(col("day") >= lit(java.sql.Date.valueOf("2024-01-01")) &&
          col("day") <= lit(java.sql.Date.valueOf("2024-01-02")))
        .groupBy("day").agg(sum("x").as("sx")).orderBy("day")
      assert(!onMv(qStale))
      assert(qStale.collect().map(_.getLong(1)).toSeq == Seq(9L, 5L))
      // one-sided range over unchanged days also rewrites
      val qOpen = spark.table(baseT.quoted)
        .filter(col("day") > lit(java.sql.Date.valueOf("2024-01-01")))
        .groupBy("day").agg(sum("x").as("sx")).orderBy("day")
      assert(onMv(qOpen), qOpen.queryExecution.optimizedPlan.toString)
      assert(qOpen.collect().map(_.getLong(1)).toSeq == Seq(5L, 7L))
    } finally MvRewrite.unregister(spark, "rmv")
  }

  test("exhaustive shapes: every grouping × aggregate combo rewrites equal") {
    registered("mvx") { b =>
      val groupings: Seq[Seq[String]] =
        Seq(Seq("g1"), Seq("g2"), Seq("g1", "g2"), Seq.empty)
      val aggs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "n" -> count(lit(1)), "sx" -> sum("x"), "sv" -> sum("v"),
        "cx" -> count(col("x")), "mnx" -> min("x"), "mxv" -> max("v"),
        "av" -> avg("v"))
      for (g <- groupings; (n1, a1) <- aggs; (n2, a2) <- aggs if n1 < n2) {
        def q(d: DataFrame) = {
          val grouped = if (g.isEmpty) d.groupBy() else d.groupBy(g.map(col): _*)
          val out = grouped.agg(a1.as(n1), a2.as(n2))
          if (g.isEmpty) out else out.orderBy(g.map(col): _*)
        }
        val rewritten = q(b)
        assert(usesMv(rewritten),
          s"group=$g aggs=($n1,$n2): ${rewritten.queryExecution.optimizedPlan}")
        val got = rows(rewritten)
        MvRewrite.unregister(spark, "mvx")
        val want = rows(q(b))
        assert(got == want, s"group=$g aggs=($n1,$n2)")
        registeredReArm("mvx")   // re-arm for the next combination
      }
    }
  }

  /** Re-register mvx against the SAME stored partials (helper for the
    * exhaustive loop's unregister/compare/re-arm cycle). */
  private var lastMvDir: String = _
  private def registeredReArm(name: String): Unit =
    MvRewrite.registerMv(spark, name, base,
      spark.read.parquet(s"$lastMvDir/mv.parquet"), Seq("g1", "g2"), Seq("x", "v"))

  test("streaming MV maintenance: per-batch partials feed the rewrite") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("mv_strm_").toString, sfDir)
    val baseT = TableName.parse("mv.strm_base")
    val mvT = TableName.parse("mv.strm_rollup")
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    // one maintainer keeps BOTH tables: raw rows into the base,
    // monoid partials into the MV — each through the batch-tagged
    // idempotent append, so replays double-apply neither
    val q = input.toDF.toDF("g", "x").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.sparkSession.catalog.tableExists(baseT.quoted)) {
          wh.writeTable(baseT, batch.limit(0))
          wh.writeTable(mvT,
            MvRewrite.partials(batch.limit(0), Seq("g"), Seq("x")))
        }
        wh.appendToTableIdempotent(baseT, batch, s"base-$id")
        wh.appendToTableIdempotent(mvT,
          MvRewrite.partials(batch, Seq("g"), Seq("x")), s"mv-$id")
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("mv_strm_ck_").toString)
      .start()
    input.addData(("a", 1L), ("b", 2L))
    q.processAllAvailable()
    input.addData(("a", 10L), ("c", 5L))
    q.processAllAvailable()
    q.stop()
    MvRewrite.registerMv(spark, "strmmv", spark.table(baseT.quoted),
      spark.table(mvT.quoted), Seq("g"), Seq("x"),
      version = wh.tableVersion(baseT),
      currentVersion = () => wh.tableVersion(baseT))
    try {
      val agg = spark.table(baseT.quoted).groupBy("g")
        .agg(sum("x").as("sx"), count(lit(1)).as("n")).orderBy("g")
      val paths = MvOps.scanPaths(agg)
      assert(paths.nonEmpty && paths.forall(_.contains("strm_rollup")),
        agg.queryExecution.optimizedPlan.toString)
      assert(agg.collect().map(_.toSeq).toSeq == Seq(
        Seq("a", 11L, 2L), Seq("b", 2L, 1L), Seq("c", 5L, 1L)),
        "rewritten answer must equal the streamed base's aggregate")
    } finally MvRewrite.unregister(spark, "strmmv")
  }

  test("decimal sums re-aggregate exactly with the narrowing cast") {
    val s = spark
    import s.implicits._
    val decDir = java.nio.file.Files.createTempDirectory("mv_dec_").toString
    (1 to 100).map(i => (s"g${i % 3}", BigDecimal(i) / 100))
      .toDF("g", "d").withColumn("d", col("d").cast("decimal(12,2)"))
      .write.mode("overwrite").parquet(s"$decDir/base.parquet")
    val b = spark.read.parquet(s"$decDir/base.parquet")
    MvRewrite.partials(b, Seq("g"), Seq("d"))
      .write.mode("overwrite").parquet(s"$decDir/mv.parquet")
    MvRewrite.registerMv(spark, "mvdec", b,
      spark.read.parquet(s"$decDir/mv.parquet"), Seq("g"), Seq("d"))
    try {
      val q = b.groupBy("g").agg(sum("d").as("sd")).orderBy("g")
      assert(usesMv(q), q.queryExecution.optimizedPlan.toString)
      val got = rows(q)
      assert(q.schema("sd").dataType.toString == "DecimalType(22,2)")
      MvRewrite.unregister(spark, "mvdec")
      assert(got == rows(b.groupBy("g").agg(sum("d").as("sd")).orderBy("g")))
    } finally MvRewrite.unregister(spark, "mvdec")
  }
}
