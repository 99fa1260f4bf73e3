package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-table access for the driver-provided TPC-H-ish parquet data
  * (see /root/repo/TESTDATA.md). In the reference these arrive via
  * Sqoop extract + Redshift COPY (/root/reference/python/etl/extract/sqoop.py:54-71,
  * python/etl/dialect/redshift.py:297-369); here the parquet directory
  * IS the warehouse and `spark.read.parquet` is the (already columnar,
  * already compressed) load path.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
      // Spark's vectorized reader rejects — read nanos as long, then
      // convert; µs-precision data, so lossless) and plain
      // TIMESTAMP(MICROS) (read as-is). Adapt to what the file holds
      // rather than assuming one generation of the testdata.
      // The guarded set enables nanosAsLong on first use without
      // re-mutating config on every load.
      if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // normalize to the session TimestampType (session tz is
          // pinned UTC, so the instant is unchanged) — downstream
          // code compares ts against to_timestamp literals and dumps
          // TIMESTAMP_MICROS parquet, both of which expect LTZ
          raw.withColumn("ts", col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
        case _ => raw   // already the session timestamp type
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Register every table as a temp view so `spark.sql` transform
    * queries (the reference's CTAS/VIEW surface) can resolve them. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Spread a CPU-heavy per-row kernel over the session's cores when
    * the upstream SCAN under-splits (guide §2.5 "input skew: one huge
    * unsplittable file → repartition immediately after the read").
    * The test tables are single small parquet files — one input split
    * — so without this every O(L²) kernel (deletion-neighborhood
    * hashing, shingling, tokenization) ran on ONE core while 31 sat
    * idle (measured: the fuzzy_join_names2 variant-explode map stage
    * was 1 task × 4.9 s — half the entry's wall).
    *
    * Scale-adaptive by construction: the exchange is inserted ONLY
    * when the scan's split count is below the session's parallelism.
    * At 100 TB a corpus scan yields thousands of splits, so this is a
    * no-op there — never a gratuitous full-corpus shuffle. Its callers are kernel sites over plain scans, where the
    * partition-count probe only plans: `df.rdd` is an SQL execution
    * of its own, and over a plan with exchanges it would run every
    * adaptive stage below them once more. The exchange is a HASH
    * repartition on the head column (id-like at every call site) —
    * keyless round-robin was tried and rejected in r19: it defeats
    * AQE exchange reuse (two kernel map stages) and pays a local sort
    * per task for retry determinism. The hash expression is
    * deterministic, so retried tasks reproduce their assignment. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, col(df.columns.head))
  }
}
