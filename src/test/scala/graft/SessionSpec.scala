package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-session, one-extension-path design: a source scan of
  * `src/main`, the state a fresh session starts with, and the conf the
  * shipped CLI session reports. */
class SessionSpec extends AnyFunSuite {

  private lazy val mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), UTF_8))
    finally walk.close()
  }

  private def filesMentioning(token: String): Set[String] =
    mainSources.collect { case (p, s) if s.contains(token) => p.getFileName.toString }.toSet

  test("only Session builds a SparkSession") {
    assert(mainSources.nonEmpty)
    assert(filesMentioning("SparkSession.builder") == Set("Session.scala"))
  }

  test("authored SQL reaches Spark through one door") {
    // DialectShims.sql, and the design load, which stores its rewrite
    assert(filesMentioning("rewriteRedshiftSql(") == Set("DialectShims.scala", "FileSets.scala"))
  }

  test("only GraftExtensions and DialectShims install functions, strategies or rules") {
    val allowed = Set("GraftExtensions.scala", "DialectShims.scala")
    val offenders = Seq("createOrReplaceTempFunction", "udf.register",
      "extraStrategies", "extraOptimizations")
      .flatMap(t => (filesMentioning(t) -- allowed).map(f => s"$f: $t"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("building a session runs no SQL and creates no temporary function") {
    assert(filesMentioning("TEMPORARY FUNCTION").isEmpty)
    val spark = Session.build(2)
    try {
      assert(etl.Telemetry.drain(spark.sparkContext))
      assert(spark.sharedState.statusStore.executionsCount() == 0)
      // user functions are Spark's non-built-ins: the extension's, plus
      // any CREATE TEMPORARY FUNCTION
      val injected = etl.GraftExtensions.functions.map(_._1).toSet
      val temporary = spark.sql("SHOW USER FUNCTIONS").collect().map(_.getString(0))
        .filterNot(injected)
      assert(temporary.isEmpty, temporary.mkString(", "))
    } finally spark.stop()
  }

  test("the CLI session reports the extension conf through SET") {
    val spark = Session.build(2)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        Cli.run(spark, "run_query", Map("sql" -> "SET", "limit" -> "10000"))
      }
      assert(code == 0)
      assert(out.toString("UTF-8").linesIterator
        .contains("spark.sql.extensions | graft.etl.GraftExtensions"), out)
    } finally spark.stop()
  }
}
