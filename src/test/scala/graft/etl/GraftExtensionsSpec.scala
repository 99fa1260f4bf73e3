package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsofJoin, AsofJoinExec, MvRewrite}

/** The spark.sql.extensions entry point is the engine's only installer
  * of native functions, the as-of join strategy and the MV rewrite
  * rule, on the session every main and spec builds. */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("extension-injected f_sha256/getdate resolve as native expressions") {
    val r = spark.sql(
      "SELECT f_sha256('arthur') = sha2('arthur', 256) AS same, getdate() IS NOT NULL AS now").collect().head
    assert(r.getBoolean(0) && r.getBoolean(1))
    // native expression, not a UDF: the plan shows sha2, no ScalaUDF
    val plan = spark.sql("SELECT f_sha256('x')").queryExecution.analyzed.toString
    assert(plan.contains("sha2") && !plan.contains("UDF"))
  }

  test("every function in the extension table resolves on a fresh session") {
    val fresh = spark.newSession()
    val missing = GraftExtensions.functions.map(_._1)
      .filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved: ${missing.mkString(", ")}")
  }

  test("asof and registerMv use the injected strategy and rule; nothing stacks") {
    val s = spark
    import s.implicits._
    val l = (1 to 50).map(i => (i.toLong % 5, i.toLong * 2, i.toLong)).toDF("k", "lt", "lid")
    val r = (1 to 50).map(i => (i.toLong % 5, i.toLong * 3, i.toLong)).toDF("rk", "rt", "rid")
    val joined = AsofJoin.asof(l, r, "k", "rk", "lt", "rt", "rid")
    assert(joined.count() == 50)
    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case e: AsofJoinExec => e }.size == 1, plan)

    val dir = java.nio.file.Files.createTempDirectory("ext_mv_").toString
    (1 to 40).map(i => (s"g${i % 4}", i.toLong)).toDF("g", "x")
      .write.parquet(s"$dir/base.parquet")
    val base = spark.read.parquet(s"$dir/base.parquet")
    MvRewrite.partials(base, Seq("g"), Seq("x")).write.parquet(s"$dir/mv.parquet")
    MvRewrite.registerMv(spark, "ext_mv", base, spark.read.parquet(s"$dir/mv.parquet"),
      Seq("g"), Seq("x"))
    try {
      val q = base.groupBy("g").agg(sum(col("x")).as("sx"))
      val paths = graft.queries.MvOps.scanPaths(q)
      assert(paths.nonEmpty && paths.forall(_.contains("mv.parquet")), paths)
      assert(q.collect().map(_.getLong(1)).sum == (1 to 40).sum)
    } finally MvRewrite.unregister(spark, "ext_mv")

    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }
}
