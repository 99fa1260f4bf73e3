package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

/** The extract/unload artifact (S7-S10, S12, S13): part files, a
  * `_SUCCESS` marker, a COPY manifest and `columns.yaml` under one
  * directory. The reference's extractor and its
  * `UNLOAD ('SELECT ...') TO s3://... DELIMITER ',' ESCAPE ADDQUOTES
  * GZIP NULL AS '\\N' MANIFEST` both land this shape, and
  * `COPY ... FROM manifest` reads it back
  * (/root/reference/python/etl/dialect/redshift.py:297-369, 548-581,
  * extract/extractor.py:203-260, unload.py:40-169,
  * extract/static.py:9-36).
  *
  * This object owns the format: one writer, one reader, one text
  * option set and one detection rule (the manifest's part-file
  * extensions). Spark's file writers and readers do the data plane;
  * Avro goes through [[AvroIO]] because spark-avro is not on the
  * classpath. */
object Artifact {

  /** Redshift's `UNLOAD ... FORMAT AS` surface plus the reference's
    * Avro extracts: `csv` is gzip, quoted, `\N` nulls; `json` is gzip
    * JSON lines; `parquet` and `avro` carry their own types. */
  val Formats: Seq[String] = Seq("csv", "json", "parquet", "avro")

  /** The text options of csv and json artifacts, for the writer and
    * every read. Both timestamp keys: parquet-sourced naive timestamps
    * surface as TIMESTAMP_NTZ in Spark 4, which uses
    * `timestampNTZFormat`. */
  private val TextOptions: Map[String, String] = Map(
    "compression" -> "gzip",
    "quoteAll" -> "true",
    "nullValue" -> "\\N",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  final class MissingSuccessError(msg: String) extends RuntimeException(msg)

  // ---------------------------------------------------------------- write
  /** Write `df`'s design columns as an artifact and return the row
    * count. An unknown format is refused before anything is written.
    *
    * `partitionBy` is Redshift's `UNLOAD ... PARTITION BY (col, ...)`:
    * part files land under nested `col=value/` prefixes and the
    * partition columns are left out of the file contents (Redshift's
    * default, without INCLUDE), which is Spark's `partitionBy` layout. */
  def write(df: DataFrame, design: TableDesign, dest: String,
            format: String = "csv", partitionBy: Seq[String] = Nil): Long = {
    require(Formats.contains(format),
      s"artifact format '$format' is not one of ${Formats.mkString("|")}")
    val cols = design.activeColumns.map(_.name)
    require(partitionBy.forall(cols.contains),
      s"partition columns ${partitionBy.mkString(",")} must be unloaded columns")
    require(partitionBy.isEmpty || format != "avro",
      "an avro artifact cannot be partitioned")
    val out = df.selectExpr(cols: _*)
    val rows =
      if (format == "avro") AvroIO.write(out, dest)
      else {
        val plain = out.write.mode("overwrite").format(format)
        val typed = if (format == "parquet") plain else plain.options(TextOptions)
        val writer = if (partitionBy.isEmpty) typed else typed.partitionBy(partitionBy: _*)
        // rowcount from the write's own metrics: recounting would
        // re-execute the source query end to end
        Telemetry.measureWrite(df.sparkSession, dest)(writer.save(dest))
          .map(_.rowsWritten).getOrElse(out.count())
      }
    writeColumnsYaml(design, dest, format, partitionBy)
    writeManifest(dest)
    rows
  }

  /** `columns.yaml`: the design columns, the partition columns and
    * the format, for readers outside this engine. */
  private def writeColumnsYaml(design: TableDesign, dest: String, format: String,
                               partitionBy: Seq[String]): Unit = {
    val yaml = new StringBuilder("columns:\n")
    design.activeColumns.foreach { c =>
      yaml.append(s"  - name: ${c.name}\n    type: ${c.tpe}\n")
      if (c.sqlType.nonEmpty) yaml.append(s"    sql_type: ${c.sqlType}\n")
    }
    if (partitionBy.nonEmpty)
      yaml.append(s"partitioned_by: [${partitionBy.mkString(", ")}]\n")
    yaml.append(s"format: $format\n")
    ArtifactIo.writeText(s"$dest/columns.yaml", yaml.toString)
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

  // ------------------------------------------------------------ detection
  /** The one format rule: the extension of the manifest's part files
    * (a trailing `.gz` aside); files without a known extension are
    * csv, the reference's default COPY contract. None when `dir` has
    * no manifest, i.e. holds no artifact. A manifest that mixes
    * formats is refused. */
  def format(dir: String): Option[String] = {
    val manifest = s"$dir/manifest.json"
    if (!ArtifactIo.exists(manifest)) None
    else {
      val found = """"url"\s*:\s*"([^"]+)"""".r
        .findAllMatchIn(ArtifactIo.readText(manifest))
        .map { m =>
          val ext = m.group(1).split('/').last.stripSuffix(".gz").split('.').last
          if (Formats.contains(ext)) ext else "csv"
        }.toSet
      require(found.size <= 1,
        s"manifest under $dir mixes formats: ${found.toSeq.sorted.mkString(", ")}")
      Some(found.headOption.getOrElse("csv"))
    }
  }

  // ----------------------------------------------------------------- read
  /** Schema-on-load read of a complete artifact: `_SUCCESS` checked,
    * the design's types applied, the design's column order returned.
    * Partition columns come back from the directory names, cast to
    * their declared types (a string value like "01" stays "01"). */
  def read(spark: SparkSession, design: TableDesign, dir: String): DataFrame = {
    val schema = design.toStructType
    val df = formatOf(dir) match {
      case "avro" => AvroIO.read(spark, dir, schema)
      case "parquet" => partFiles(spark, schema).parquet(dir)
      case text => partFiles(spark, schema).options(TextOptions).format(text).load(dir)
    }
    df.select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** Handle on a quarantine read: `good`/`bad` both derive from ONE
    * cached parse (Spark disallows querying the corrupt-record column
    * straight off raw files, and the cache parses the source once).
    * Call `close()` when both sides are consumed. */
  final case class QuarantineRead(good: DataFrame, bad: DataFrame,
                                  close: () => Unit)

  /** [[read]] with malformed-record quarantine, the Redshift
    * `COPY ... MAXERROR` / `stl_load_errors` behavior: parse
    * PERMISSIVE with a corrupt-record column and return the good rows
    * and the bad raw records with their source file. The caller decides
    * the budget. csv and json only: a malformed parquet or avro record
    * is file corruption, never quarantinable. */
  def readQuarantined(spark: SparkSession, design: TableDesign,
                      dir: String): QuarantineRead = {
    val format = formatOf(dir)
    require(format == "csv" || format == "json",
      s"quarantine reads csv/json artifacts, not '$format'")
    val schema = design.toStructType
    val parsed = partFiles(spark, schema.add("_corrupt_record", StringType))
      .options(TextOptions)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .format(format).load(dir)
      .withColumn("_source_file", col("_metadata.file_path"))
      .persist()
    val good = parsed.filter(col("_corrupt_record").isNull)
      .select(schema.fieldNames.toSeq.map(col): _*)
    val bad = parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_record"),
        col("_source_file").as("source_file"))
    QuarantineRead(good, bad, () => { parsed.unpersist(); () })
  }

  /** S13: [[read]] with the design taken from the artifact's own
    * `columns.yaml`. */
  def reload(spark: SparkSession, dir: String): DataFrame = {
    val yaml = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
      .readTree(ArtifactIo.readText(s"$dir/columns.yaml"))
    val columns = yaml.get("columns").elements.asScala.map { c =>
      ColumnDef(c.get("name").asText,
        Option(c.get("type")).map(_.asText).getOrElse("string"),
        Option(c.get("sql_type")).map(_.asText).getOrElse(""))
    }.toSeq
    read(spark, TableDesign(TableName("", dir), "artifact", columns), dir)
  }

  private def formatOf(dir: String): String = {
    requireSuccess(dir)
    format(dir).getOrElse(
      throw new IllegalArgumentException(s"no manifest under $dir"))
  }

  /** Reader over the part files only, skipping columns.yaml and
    * manifest.json. */
  private def partFiles(spark: SparkSession, schema: StructType): DataFrameReader =
    spark.read.schema(schema).option("pathGlobFilter", "part-*")
}
