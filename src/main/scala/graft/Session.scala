package graft

import org.apache.spark.sql.{SparkSession, classic}

import graft.etl.GraftExtensions

/** The one session definition: the CLI, the bench, the oracle dump and
  * every spec build their session here, so what is measured and tested
  * is the session the CLI ships. Building it runs no SQL: every
  * function, the dialect shims included, comes from the extension. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the box's core count — not a fixed small
    * number: a `local[4]` default once stretched the one CPU-heavy
    * entry (fuzzy_join_names2) 3-4x on every invocation that forgot
    * the variable. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Starts from the classic builder, not `SparkSession.builder()`:
    * that one picks its implementation by reflection, which builds
    * Scala's runtime-reflection universe (0.5-1.4 s of every cold CLI
    * JVM) before the context starts. */
  def build(cores: Int = defaultCores): SparkSession = {
    val b = classic.SparkSession.builder()
    // spark-submit and -Dspark.master choose their own master
    if (!sys.props.contains("spark.master")) b.master(s"local[$cores]")
    val spark = b
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // write µs (not INT96) so dumped timestamps arrow-match the
      // DuckDB oracle's timestamp[us] in the hash compare
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Let AQE re-plan CACHED frame materialization (coalesce tiny
      // post-shuffle partitions, split skew) — off by default only for
      // partitioning-stability of cache reuse, which nothing here
      // relies on: every persisted frame is consumed by content-keyed
      // operators. Without it each persist() pinned the session's full
      // shuffle-partition fan-out, so small cached tables (band
      // indexes, label tables, streaming micro-batches) dragged
      // near-empty tasks through every downstream stage.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // a conf key rather than `withExtensions`: `SET` reports it, so a
      // session rebuilt from the reported conf gets the same functions
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
