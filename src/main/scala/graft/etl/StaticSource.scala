package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Static sources + manifests (S7, S8, S9): a static source's
  * "extract" only verifies `_SUCCESS` exists over pre-existing files
  * and (re)writes the COPY manifest
  * (/root/reference/python/etl/extract/static.py:9-36,
  * manifest_only.py:9-27, extractor.py:203-260). Reading the data is
  * a plain schema-enforced `spark.read`. */
object StaticSource {

  final class MissingSuccessError(msg: String) extends RuntimeException(msg)

  /** S7: verify the prefix is a complete extract (`_SUCCESS` present)
    * and write its manifest — the whole static "extract" step. */
  def extractStatic(prefix: String): String = {
    requireSuccess(prefix)
    writeManifest(prefix)
  }

  def requireSuccess(prefix: String): Unit =
    if (!ArtifactIo.exists(s"$prefix/_SUCCESS"))
      throw new MissingSuccessError(s"no _SUCCESS marker under $prefix")

  /** S8/S9: the one COPY-manifest writer, for extracts, static sources
    * and unloads (`{"entries": [{"url": ..., "mandatory": true}]}`
    * over the part files, extract/extractor.py:203-260). Recursive: a
    * partitioned export nests its part files under `col=value/`.
    * Hadoop-FS I/O, so the prefix may live on any scheme, not just
    * local disk. */
  def writeManifest(prefix: String): String = {
    requireSuccess(prefix)
    val entries = ArtifactIo.listFilesRecursive(prefix)
      .filter(_.split('/').last.startsWith("part-"))
      .sorted
      .map(n => s"""{"url": "$prefix/$n", "mandatory": true}""")
    val path = s"$prefix/manifest.json"
    ArtifactIo.writeText(path, s"""{"entries": [${entries.mkString(", ")}]}""")
    path
  }

  /** [[read]] with malformed-record QUARANTINE for the text formats —
    * the Redshift `COPY ... MAXERROR` / `stl_load_errors` behavior
    * (dialect/redshift.py:297-369 COPYs with the load failing on bad
    * rows; Redshift itself lets `MAXERROR n` skip-and-log them):
    * parse PERMISSIVE with the corrupt-record column, return
    * (good rows, bad raw records + source file). The caller decides
    * the budget and lands the bad side in a `__loaderrors` table.
    * Text formats only — a malformed row in parquet/avro is real file
    * corruption, never quarantinable. */
  /** Handle on a quarantine read: `good`/`bad` both derive from ONE
    * cached parse (Spark disallows querying the corrupt-record column
    * straight off raw files — and the cache also means the source is
    * parsed once, not once per consumer). Call `close()` when both
    * sides are consumed. */
  final case class QuarantineRead(good: DataFrame, bad: DataFrame,
                                  close: () => Unit)

  def readWithQuarantine(spark: SparkSession, design: TableDesign,
                         prefix: String, format: String): QuarantineRead = {
    import org.apache.spark.sql.functions.col
    requireSuccess(prefix)
    val schema = design.toStructType
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val base = spark.read.schema(schema)
      .option("pathGlobFilter", "part-*")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    val parsed = (format match {
      case "csv" => base.option("nullValue", "\\N")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(prefix)
      case "json" => base.json(prefix)
      case other => throw new IllegalArgumentException(
        s"quarantine read supports csv/json, not '$other'")
    }).withColumn("_source_file", col("_metadata.file_path"))
      .persist()
    val good = parsed.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record", "_source_file")
    val bad = parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_record"),
        col("_source_file").as("source_file"))
    QuarantineRead(good, bad, () => { parsed.unpersist(); () })
  }

  /** The read side: schema-enforced load of a static prefix in any of
    * the reference's formats (gzip CSV / JSON / Avro,
    * extract/__init__.py:4-5) plus parquet. */
  def read(spark: SparkSession, design: TableDesign, prefix: String,
           format: String = "csv"): DataFrame = {
    requireSuccess(prefix)
    val base = spark.read.schema(design.toStructType)
      .option("pathGlobFilter", "part-*")
    (format match {
      case "csv" => base.option("nullValue", "\\N")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(prefix)
      case "json" => base.json(prefix)
      case "parquet" => base.parquet(prefix)
      case "avro" => AvroIO.read(spark, prefix, design.toStructType)
      case other => throw new IllegalArgumentException(s"unsupported format '$other'")
    })
  }
}
