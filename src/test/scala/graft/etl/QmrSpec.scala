package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Query monitoring rules: abort rules cancel the job group mid-run
  * (timeout exact, scan-rows best-effort per task end), log rules
  * record a monitor event post-completion, clean queries pass
  * through untouched. */
class QmrSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dataDir: String = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark
    import s.implicits._
    dataDir = java.nio.file.Files.createTempDirectory("qmr_").toString
    // 64 files × 5 rows: tasks end steadily, so per-task input metrics
    // accumulate while the query still has most of its work ahead
    (1L to 320L).toDF("k").repartition(64)
      .write.mode("overwrite").parquet(s"$dataDir/t.parquet")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def slow(ms: Int) = udf { (k: Long) => Thread.sleep(ms); k }

  test("statement_timeout aborts a long query and reports elapsed") {
    // filter, not select: a pruned-away deterministic UDF would let
    // count() skip the sleeps entirely
    val df = spark.read.parquet(s"$dataDir/t.parquet")
      .filter(slow(200)(col("k")) >= 0L)
    val t0 = System.nanoTime()
    val v = intercept[Qmr.Violation] {
      Qmr.guarded(df, Seq(Qmr.statementTimeout(800)))(_.count())
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(v.rule.name == "statement_timeout")
    assert(elapsed < 20.0,
      f"cancellation must interrupt well before the ~32 s full run ($elapsed%.1f s)")
  }

  test("scan-row abort rule cancels once task metrics cross the limit") {
    val df = spark.read.parquet(s"$dataDir/t.parquet")
      .filter(slow(100)(col("k")) >= 0L)
    val v = intercept[Qmr.Violation] {
      Qmr.guarded(df,
        Seq(Qmr.Rule("scan_cap", maxScanRows = Some(20L))))(_.count())
    }
    assert(v.rule.name == "scan_cap")
    assert(v.scanRows > 20L)
  }

  test("log rule records a monitor event and the query still answers") {
    val mon = new Monitor()
    val df = spark.read.parquet(s"$dataDir/t.parquet")
    val n = Qmr.guarded(df,
      Seq(Qmr.Rule("wide_scan", maxScanRows = Some(1L),
        action = Qmr.Log)), mon)(_.count())
    assert(n == 320L)
    val ev = mon.events.filter(_.event == "qmr_violation")
    assert(ev.nonEmpty && ev.head.message.contains("wide_scan"))
    assert(ev.head.rowcount.exists(_ >= 320L))
  }

  test("rules parse from the settings plane; bad configs are user errors") {
    val dir = java.nio.file.Files.createTempDirectory("qmr_cfg_")
    java.nio.file.Files.write(dir.resolve("wlm.yaml"),
      ("resources:\n  RedshiftCluster:\n    statement_timeout: 30000\n" +
        "wlm:\n  rules:\n    long_scan:\n      max_seconds: 30\n" +
        "    wide_scan:\n      max_scan_rows: 1000000\n      action: log\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val rules = Qmr.rulesFromSettings(Settings.load(Seq(dir.toString)))
    assert(rules.map(_.name) ==
      Seq("statement_timeout", "long_scan", "wide_scan"))
    assert(rules.head.maxSeconds.contains(30.0))
    assert(rules(1).action == Qmr.Abort && rules(1).maxSeconds.contains(30.0))
    assert(rules(2).action == Qmr.Log &&
      rules(2).maxScanRows.contains(1000000L))
    // unknown action and threshold-less rules are refused
    java.nio.file.Files.write(dir.resolve("wlm.yaml"),
      "wlm:\n  rules:\n    bad:\n      max_seconds: 1\n      action: hop\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[SettingsError](
      Qmr.rulesFromSettings(Settings.load(Seq(dir.toString))))
    java.nio.file.Files.write(dir.resolve("wlm.yaml"),
      "wlm:\n  rules:\n    empty:\n      action: abort\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[SettingsError](
      Qmr.rulesFromSettings(Settings.load(Seq(dir.toString))))
  }

  test("CBO-predicted oversized scan is refused before any job runs") {
    val s = spark
    import s.implicits._
    // temp-located database: the default spark-warehouse dir outlives
    // the in-memory metastore, and a leftover table directory fails
    // the next run's CTAS with LOCATION_ALREADY_EXISTS
    val dbDir = java.nio.file.Files.createTempDirectory("qmr_db_").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS qmr LOCATION '$dbDir'")
    (1L to 5000L).toDF("k").write.mode("overwrite")
      .saveAsTable("qmr.big")
    spark.sql("ANALYZE TABLE qmr.big COMPUTE STATISTICS")
    spark.sql("ANALYZE TABLE qmr.big COMPUTE STATISTICS FOR COLUMNS k")
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df = spark.table("qmr.big").groupBy("k").count()
      assert(Qmr.estimatedScanRows(df).contains(5000L))
      // count jobs: the refusal must happen with ZERO jobs launched
      Telemetry.scoped(spark) { scope =>
        val v = intercept[Qmr.Violation] {
          Qmr.guarded(df,
            Seq(Qmr.Rule("pre_cap", maxScanRows = Some(100L))))(_.count())
        }
        assert(v.rule.name == "pre_cap" && v.scanRows == 5000L)
        // the drained profile: a late job-start event can't hide
        val jobs = scope.profile().map(_.jobs)
        assert(jobs.contains(0), s"expected zero jobs, saw $jobs")
      }
      // under the cap, the same ANALYZEd query runs fine
      val n = Qmr.guarded(df,
        Seq(Qmr.Rule("pre_cap", maxScanRows = Some(100000L))))(_.count())
      assert(n == 5000L)
      // a SELECTIVE query over the same large table must NOT be
      // refused: the gate costs the scan at CBO's post-filter
      // estimate (here ~1 row from column stats), not the raw 5000-
      // row cardinality (the old raw-leaf sum refused this query)
      val selective = spark.table("qmr.big").filter($"k" === 7L)
        .groupBy("k").count()
      assert(Qmr.estimatedScanRows(selective).exists(_ < 100L),
        s"post-filter estimate expected, got " +
          s"${Qmr.estimatedScanRows(selective)}")
      // cap 3000 separates the two regimes this test pins: the OLD
      // raw-leaf gate summed 5000 rows and refused pre-launch; the
      // post-filter gate estimates ~1 and launches. It must also sit
      // ABOVE the ~2500 rows the scan actually reads (parquet prunes
      // the other row group, then filters in-engine) — a tighter cap
      // races the RUNTIME scan-metrics monitor against query
      // completion and flakes under full-suite load.
      val sel = Qmr.guarded(selective,
        Seq(Qmr.Rule("pre_cap", maxScanRows = Some(3000L))))(_.count())
      assert(sel == 1L)
      // tables WITHOUT stats don't participate — no false refusal
      val noStats = spark.read.parquet(s"$dataDir/t.parquet")
      assert(Qmr.estimatedScanRows(noStats.groupBy("k").count()).isEmpty)
    } finally spark.conf.set("spark.sql.cbo.enabled", prevCbo)
  }

  test("guarded leaves the caller's job group and interrupt flag as they were") {
    val sc = spark.sparkContext
    sc.setJobGroup("outer", "caller's group", interruptOnCancel = false)
    try {
      val n = Qmr.guarded(spark.read.parquet(s"$dataDir/t.parquet"),
        Seq(Qmr.statementTimeout(60000)))(_.count())
      assert(n == 320L)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "outer")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "false")
    } finally sc.clearJobGroup()
  }

  test("a clean query passes with no events") {
    val mon = new Monitor()
    val df = spark.read.parquet(s"$dataDir/t.parquet")
    val n = Qmr.guarded(df,
      Seq(Qmr.statementTimeout(60000),
        Qmr.Rule("cap", maxScanRows = Some(1000000L), action = Qmr.Log)),
      mon)(_.count())
    assert(n == 320L && mon.events.isEmpty)
  }
}
