package graft.etl

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** Partitioned JDBC extract (S1-S6): the reference's Sqoop subsystem
  * (/root/reference/python/etl/extract/sqoop.py:54-265,
  * database_extractor.py:42-190) collapses to ONE partitioned
  * `spark.read.jdbc` — the heuristics that sized and keyed the Sqoop
  * mappers become the `partitionColumn` / `lowerBound` / `upperBound`
  * / `numPartitions` options. They are pure functions here, tested
  * against the reference's own doctest cases.
  */
object Extract {

  val DefaultMaxPartitions = 32   // default_settings.yaml:70

  /** Minimum partition size (database_extractor.py:42-53): 10 MB
    * normally, 100 MB under sampling (the CSV compresses ~1:10 and
    * sampling cuts another 1:10). */
  def minPartitionSize(tableSize: Long, useSampling: Boolean): Long =
    if (useSampling && tableSize > 100L * 1024 * 1024) 100L * 1024 * 1024
    else 10L * 1024 * 1024

  /** Sampling applies only to tables over 100 MB
    * (database_extractor.py:38-41). */
  def useSamplingWithTable(tableSize: Long, useSampling: Boolean): Boolean =
    useSampling && tableSize > 100L * 1024 * 1024

  /** Largest "legal" partition count (database_extractor.py:55-120):
    * ≤ maxPartitions, a multiple of 4 (stepping down 4 → 2 → 1), and
    * each partition ≥ the minimum size. Rule 1 wins over rule 2. */
  def maximizePartitions(tableSize: Long,
                         maxPartitions: Int = DefaultMaxPartitions,
                         useSampling: Boolean = false): Int = {
    val minSize = minPartitionSize(tableSize, useSamplingWithTable(tableSize, useSampling))
    var partitions = (0 to maxPartitions by 4).max
    if (partitions == 0) partitions = 1
    var partitionSize = tableSize.toDouble / partitions
    while (partitionSize < minSize && partitions > 1) {
      partitions =
        if (partitions > 4) partitions - 4
        else if (partitions == 4) 2
        else 1
      partitionSize = tableSize.toDouble / partitions
    }
    partitions
  }

  /** Partition-key inference (relation.py:417-473): explicit
    * `split_by` wins; else a single-column primary key; the column
    * must be generic int/long/date/timestamp. Returns None when no
    * viable key exists (→ single-partition read). */
  def findPartitionKey(design: TableDesign): Option[String] = {
    val explicit = design.extractSettings.flatMap(_.splitBy)
    val fromPk = design.constraints
      .filter(_.kind == "primary_key").flatMap(_.columns) match {
        case Seq(single) => Some(single)
        case _ => None
      }
    explicit.orElse(fromPk).filter { key =>
      design.columns.find(_.name == key)
        .exists(c => Set("int", "long", "date", "timestamp").contains(c.tpe))
    }
  }

  /** Split expression for the key (sqoop.py:186-195): temporal keys
    * are cast to epoch seconds so ranges are numeric. This expression
    * is evaluated by the SOURCE database (it becomes the JDBC
    * `partitionColumn` / boundary query), so it must be the source's
    * dialect — the reference emits `DATE_PART('epoch', key)`
    * (sqoop.py:191, Postgres); Spark's `unix_timestamp` does not
    * exist there. `dialect` picks the shim; "postgres" covers the
    * reference's upstream fleet. */
  def splitExpression(design: TableDesign, key: String,
                      dialect: String = "postgres"): String =
    design.columns.find(_.name == key) match {
      case Some(c) if c.tpe == "date" || c.tpe == "timestamp" =>
        dialect match {
          case "postgres" => s"""CAST(DATE_PART('epoch', $key) AS BIGINT)"""
          case "mysql" => s"CAST(UNIX_TIMESTAMP($key) AS SIGNED)"
          case "derby" =>   // JDBC escape syntax; Derby has no epoch fn
            s"{fn TIMESTAMPDIFF(SQL_TSI_SECOND, TIMESTAMP('1970-01-01 00:00:00'), $key)}"
          case "spark" => s"CAST(unix_timestamp($key) AS BIGINT)"
          case other => throw new IllegalArgumentException(
            s"no temporal split-key shim for dialect '$other'; " +
              "use a numeric split_by or add a dialect mapping")
        }
      case _ => key
    }

  /** Boundary query (relation.py:407-415): a user query returning one
    * row (lower, upper); otherwise MIN/MAX over the split expression
    * (what Sqoop itself would issue). */
  def boundaryQuery(design: TableDesign, splitExpr: String, table: String): String =
    design.extractSettings.flatMap(_.boundaryQuery).getOrElse(
      s"SELECT MIN($splitExpr) AS lower_bound, MAX($splitExpr) AS upper_bound FROM $table")

  /** The sampling predicate (S6, database_extractor.py:141-152):
    * exact `key mod 10 = 1`, reproducible — never `TABLESAMPLE`.
    * ANSI `MOD()` (the `%` operator is not universal across JDBC
    * sources; Derby, for one, rejects it). */
  def samplingCondition(key: String): String = s"(MOD($key, 10) = 1)"

  /** Full partition plan for one relation. */
  final case class PartitionPlan(
      partitionColumn: Option[String],
      numPartitions: Int,
      condition: Option[String])

  def planPartitions(design: TableDesign, tableSize: Long,
                     maxPartitions: Int = DefaultMaxPartitions,
                     useSampling: Boolean = false,
                     dialect: String = "postgres"): PartitionPlan = {
    val key = findPartitionKey(design)
    val explicitNum = design.extractSettings.flatMap(_.numPartitions)
    val num = key match {
      case None => 1   // no key → single mapper (sqoop.py:182-184)
      case Some(_) => explicitNum
        .map(n => math.min(n, maxPartitions))
        .getOrElse(maximizePartitions(tableSize, maxPartitions, useSampling))
    }
    val conds = Seq(
      design.extractSettings.map(_.condition).filter(_.nonEmpty),
      if (useSamplingWithTable(tableSize, useSampling))
        key.map(samplingCondition) else None).flatten
    PartitionPlan(key.map(splitExpression(design, _, dialect)), num,
      if (conds.nonEmpty) Some(conds.mkString(" AND ")) else None)
  }

  /** The cast-projection subquery pushed INTO the source database
    * (S2, database_extractor.py:122-154): column expressions, the
    * extract/sampling condition, and — for a temporal split key — the
    * epoch-cast projection. Pure, so tests can assert what reaches
    * the source verbatim. */
  def subquery(design: TableDesign, plan: PartitionPlan): String = {
    val baseCols = design.activeColumns.map { c =>
      if (c.expression.nonEmpty) s"${c.expression} AS ${c.name}" else c.name
    }
    // A temporal split key is an EXPRESSION (source-dialect epoch
    // cast) — Spark resolves partitionColumn against the subquery's
    // schema, so the expression must be projected as a column of the
    // subquery. Readers drop `graft_split_epoch` after load.
    val splitProjection = plan.partitionColumn
      .filterNot(e => design.activeColumns.exists(_.name == e))
      .map(e => s"$e AS graft_split_epoch")
    val cols = (baseCols ++ splitProjection).mkString(", ")
    val where = plan.condition.map(c => s" WHERE $c").getOrElse("")
    s"(SELECT $cols FROM ${design.name.table}$where) sub"
  }

  /** Assemble a partitioned JDBC read from a design + plan: the whole
    * of S1-S5 as reader options. Bounds come from running the boundary
    * query through the same reader (caller supplies them to keep this
    * function pure). */
  def jdbcReader(spark: SparkSession, url: String, design: TableDesign,
                 plan: PartitionPlan, lowerBound: Long, upperBound: Long,
                 props: Map[String, String] = Map.empty): DataFrameReader = {
    val splitProjection = plan.partitionColumn
      .filterNot(e => design.activeColumns.exists(_.name == e))
    val dbtable = subquery(design, plan)
    val r0 = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", dbtable)
    val r1 = props.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }
    plan.partitionColumn match {
      case Some(keyExpr) if plan.numPartitions > 1 =>
        r1.option("partitionColumn",
            if (splitProjection.isDefined) "graft_split_epoch" else keyExpr)
          .option("lowerBound", lowerBound)
          .option("upperBound", upperBound)
          .option("numPartitions", plan.numPartitions)
      case _ => r1.option("numPartitions", 1)
    }
  }

  /** Upstream stand-in read (the extract side of S1-S6 when the
    * "database" is a parquet drop): enforce the design's column set,
    * order, types (schema-on-load), the extract condition, and — with
    * `useSampling` — the reference's `MOD(key, 10) = 1` predicate for
    * tables over the 100 MB sampling floor
    * (database_extractor.py:38-41, 141-152). Used by the CLI `extract`
    * command and as the load path's fallback when no extract artifact
    * exists. */
  def sourceDataFrame(spark: SparkSession, sourceDir: String,
                      design: TableDesign,
                      useSampling: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = spark.read.parquet(s"$sourceDir/${design.name.table}.parquet")
    val projected = design.activeColumns.map { c =>
      val base = if (c.expression.nonEmpty) expr(c.expression) else col(c.name)
      base.cast(c.dataType).as(c.name)
    }
    val withCond = design.extractSettings match {
      case Some(es) if es.condition.nonEmpty => raw.filter(es.condition)
      case _ => raw
    }
    val sampled =
      if (useSamplingWithTable(standInSize(spark, sourceDir, design), useSampling))
        findPartitionKey(design)
          .map(k => withCond.filter(expr(samplingCondition(k))))
          .getOrElse(withCond)
      else withCond
    applyTruncateColumns(design, sampled.select(projected: _*))
  }

  /** On-disk footprint of the parquet stand-in — the `table_size`
    * input to the sampling floor and partition heuristics. */
  private[etl] def standInSize(spark: SparkSession, sourceDir: String,
                               design: TableDesign): Long = {
    val p = new org.apache.hadoop.fs.Path(
      s"$sourceDir/${design.name.table}.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** TRUNCATECOLUMNS (dialect/redshift.py:348): the reference COPY
    * always truncates strings to the declared varchar BYTE length. */
  private def applyTruncateColumns(design: TableDesign,
                                   selected: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val bounded = design.activeColumns.flatMap(c =>
      varcharBytes(c).map(c.name -> _))
    if (bounded.isEmpty) selected
    else bounded.foldLeft(selected) { case (df, (name, n)) =>
      df.withColumn(name, expr(s"trunc_utf8_bytes(`$name`, $n)"))
    }
  }

  /** COPY (S10, dialect/redshift.py:297-369 + config/dw.py:33-50): the
    * load-path read. When the source dir holds an extract ARTIFACT for
    * this relation — `<schema>.<table>/` with a manifest, the exact
    * shape `Cli extract` (and the reference's extractor) lands — ingest
    * it the way the reference's `COPY ... FROM manifest` does, through
    * [[Artifact.read]]. Expressions and extract conditions are NOT
    * re-applied — the artifact already carries them (COPY is a straight
    * load) — but TRUNCATECOLUMNS is, as in the reference's COPY
    * statement. Falls back to the parquet stand-in when no artifact
    * exists. */
  def copyDataFrame(spark: SparkSession, sourceDir: String,
                    design: TableDesign): DataFrame = {
    val dir = s"$sourceDir/${design.name.identifier}"
    if (Artifact.format(dir).isDefined)
      applyTruncateColumns(design, Artifact.read(spark, design, dir))
    else sourceDataFrame(spark, sourceDir, design)
  }

  /** Outcome of a MAXERROR COPY: rows landed and rows quarantined. */
  final case class CopyOutcome(loaded: Long, quarantined: Long,
                               errorTable: Option[TableName])

  /** COPY with Redshift `MAXERROR` semantics: malformed text records
    * are quarantined into `<table>__loaderrors` (raw record + source
    * file — the engine's `stl_load_errors`) instead of failing the
    * load, UNLESS they exceed `maxError`, which aborts BEFORE anything
    * is written — the target keeps serving its previous build either
    * way (all-or-nothing, as `update` is).
    *
    * Cost shape: the bad-side count and the good-side write are each
    * one pass over the source — the same passes a strict COPY pays;
    * nothing is collected driver-side but the abort message's one
    * sample row. */
  def copyWithMaxError(wh: Warehouse, sourceDir: String,
                       design: TableDesign, maxError: Long): CopyOutcome = {
    val spark = wh.spark
    val qr = Artifact.readQuarantined(spark, design,
      s"$sourceDir/${design.name.identifier}")
    try {
      val badCount = qr.bad.count()
      if (badCount > maxError) {
        val sample = qr.bad.select("raw_record").take(1)
          .headOption.map(_.getString(0)).getOrElse("")
        throw new IllegalStateException(
          s"COPY ${design.name.identifier}: $badCount malformed record(s) " +
            s"exceed MAXERROR $maxError; first: $sample")
      }
      val loaded = wh.writeTable(design.name,
        applyTruncateColumns(design, qr.good))
      val errTable =
        if (badCount == 0) None
        else {
          val t = TableName(design.name.schema,
            design.name.table + "__loaderrors")
          wh.writeTable(t, qr.bad)
          Some(t)
        }
      CopyOutcome(loaded, badCount, errTable)
    } finally qr.close()
  }

  private val VarcharRe =
    raw"(?i)\s*(?:character\s+varying|varchar)\s*\(\s*(\d+)\s*\)\s*".r

  /** Declared varchar byte length of a string column, if any. The
    * bootstrap default `character varying(65535)` is skipped — it is
    * the max, not an authored bound. */
  private[etl] def varcharBytes(c: ColumnDef): Option[Int] =
    if (c.tpe != "string") None
    else c.sqlType match {
      case VarcharRe(n) if n.toInt < 65535 => Some(n.toInt)
      case _ => None
    }
}
