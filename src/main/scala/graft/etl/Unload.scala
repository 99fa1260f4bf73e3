package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** UNLOAD / reload (S12, S13): the reference exports with
  * `UNLOAD ('SELECT ...') TO s3://... DELIMITER ',' ESCAPE ADDQUOTES
  * GZIP NULL AS '\\N' MANIFEST` and writes a `columns.yaml` so the
  * data can re-enter the warehouse as a static source
  * (/root/reference/python/etl/dialect/redshift.py:548-581,
  * unload.py:40-169, validate.py:266-325).
  *
  * Spark-first: `df.write.csv` with the same format options. The
  * distributed write IS the unload; `columns.yaml` + the manifest
  * keep the reference's observable contract so round-trips work. */
object Unload {

  /** Export a relation: gzip CSV, quoted fields, `\N` nulls, plus
    * columns.yaml and a manifest listing the part files.
    *
    * `partitionBy` is Redshift's `UNLOAD ... PARTITION BY (col, ...)`
    * (redshift.py builds the UNLOAD statement; PARTITION BY is the
    * engine-side option): part files land under nested `col=value/`
    * prefixes and the partition columns are REMOVED from the file
    * contents (Redshift's default, without INCLUDE) — Spark's
    * `partitionBy` writer is byte-for-byte that layout. At scale this
    * is what makes the export re-consumable with partition pruning
    * instead of a flat million-file prefix. */
  /** Formats mirror Redshift's `UNLOAD ... FORMAT AS` surface
    * (redshift.py:548-581 emits the delimiter form; PARQUET and JSON
    * are the engine's other two): `csv` keeps the full Redshift
    * option set (gzip, ADDQUOTES, `\N`), `parquet` is the columnar
    * export (types survive without columns.yaml casting — the 100 TB
    * re-consumption path), `json` is gzip JSON-lines. */
  val Formats: Set[String] = Set("csv", "parquet", "json")

  def unload(df: DataFrame, design: TableDesign, destDir: String,
             partitionBy: Seq[String] = Nil,
             format: String = "csv"): Long = {
    require(Formats(format), s"unload format '$format' not one of $Formats")
    val cols = design.activeColumns.map(_.name)
    require(partitionBy.forall(cols.contains),
      s"partition columns ${partitionBy.mkString(",")} must be unloaded columns")
    val out = df.selectExpr(cols: _*)
    val writer0 = out.write.mode("overwrite")
    val writer = format match {
      case "parquet" => writer0
      case _ => writer0
        .option("compression", "gzip")
        .option("quoteAll", "true")
        .option("nullValue", "\\N")
        // both: parquet-sourced naive timestamps surface as TIMESTAMP_NTZ
        // in Spark 4, which the CSV writer formats via timestampNTZFormat
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    }
    val part =
      if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*)
    val metrics = Telemetry.measureWrite(df.sparkSession, destDir) {
      format match {
        case "csv" => part.csv(destDir)
        case "parquet" => part.parquet(destDir)
        case "json" => part.json(destDir)
      }
    }
    writeColumnsYaml(design, destDir, partitionBy, format)
    StaticSource.writeManifest(destDir)
    // rowcount from the write's own metrics — recounting would
    // re-execute the source query end to end
    metrics.map(_.rowsWritten).getOrElse(out.count())
  }

  private def writeColumnsYaml(design: TableDesign, destDir: String,
                               partitionBy: Seq[String] = Nil,
                               format: String = "csv"): Unit = {
    val yaml = new StringBuilder("columns:\n")
    design.activeColumns.foreach { c =>
      yaml.append(s"  - name: ${c.name}\n    type: ${c.tpe}\n")
      if (c.sqlType.nonEmpty) yaml.append(s"    sql_type: ${c.sqlType}\n")
    }
    if (partitionBy.nonEmpty)
      yaml.append(s"partitioned_by: [${partitionBy.mkString(", ")}]\n")
    if (format != "csv") yaml.append(s"format: $format\n")
    ArtifactIo.writeText(s"$destDir/columns.yaml", yaml.toString)
  }

  /** Reload-ability (S13): read the unloaded CSV back with the
    * columns.yaml schema — the static-source extract path. A
    * partitioned export's partition columns come back from the
    * directory names (Spark partition discovery), cast to their
    * columns.yaml types, and the projection restores the design's
    * column order — the round-trip is layout-transparent. */
  def reload(spark: SparkSession, destDir: String): DataFrame = {
    val yamlText = ArtifactIo.readText(s"$destDir/columns.yaml")
    val design = columnsFromYaml(yamlText)
    val partCols = partitionedByFromYaml(yamlText)
    val format = formatFromYaml(yamlText)
    // The user schema COVERS the partition columns: Spark then casts
    // each directory value to the declared type instead of inferring
    // one from its spelling — a string partition value like "01"
    // survives as "01" (inference would read int 1 and lose the
    // padding). Data files simply lack those columns; Spark fills
    // them from the directory names. Parquet carries its own types;
    // the declared schema still pins partition-column types.
    val reader = spark.read
      .schema(org.apache.spark.sql.types.StructType(design.map(c =>
        org.apache.spark.sql.types.StructField(c.name, c.dataType))))
      .option("pathGlobFilter", "part-*")   // skip columns.yaml/manifest.json
    val textual = reader
      .option("compression", "gzip")
      .option("nullValue", "\\N")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    val base = format match {
      case "csv" => textual.csv(destDir)
      case "json" => textual.json(destDir)
      case "parquet" => reader.parquet(destDir)
    }
    if (partCols.isEmpty) base
    else {
      // partition columns surface after the data columns; restore the
      // design's order
      import org.apache.spark.sql.functions.col
      base.select(design.map(c => col(c.name)): _*)
    }
  }

  private[etl] def formatFromYaml(text: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    Option(mapper.readTree(text).get("format")).map(_.asText).getOrElse("csv")
  }

  private[etl] def partitionedByFromYaml(text: String): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = mapper.readTree(text)
    import scala.jdk.CollectionConverters._
    Option(root.get("partitioned_by"))
      .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
  }

  private[etl] def columnsFromYaml(text: String): Seq[ColumnDef] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = mapper.readTree(text)
    import scala.jdk.CollectionConverters._
    root.get("columns").elements.asScala.map { c =>
      ColumnDef(c.get("name").asText,
        Option(c.get("type")).map(_.asText).getOrElse("string"),
        Option(c.get("sql_type")).map(_.asText).getOrElse(""))
    }.toSeq
  }
}
