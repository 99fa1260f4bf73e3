package graft

/** Dump `.explain("formatted")` output for named queries to files —
  * the optimization-round evidence artifacts (`plans/rN/<q>_{before,after}.txt`).
  *
  * Usage: DumpPlan <outDir> <suffix> <query1,query2,...>
  *
  * Same session as [[Bench]] ([[Session.build]], data dir from
  * SPARK_GRAFT_SF_DIR) so the dumped plan is the plan the bench
  * actually runs. Lifecycle entries (dag_*, stream_*, skip_*)
  * execute their build at construction time; the dumped plan is the
  * final served query, which is why those entries' evidence also cites
  * stage telemetry rather than the plan alone. */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val selected = SparkEntry.select(Some(args(2)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.catalog.clearCache()
      println(s"[dumpplan] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
