package graft.etl

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogDatabase, CatalogStorageFormat,
  CatalogTable, CatalogTablePartition, CatalogTableType, ExternalCatalogUtils}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

final class FailedConstraintError(msg: String) extends RuntimeException(msg)
final class RequiredRelationLoadError(msg: String) extends RuntimeException(msg)
/** `update --scheduled-start-time` found no extract event newer than
  * the scheduled time within the wait budget (the reference's
  * MissingExtractEventError, monitor.py:825-859). */
final class MissingExtractEventError(msg: String) extends RuntimeException(msg)

/** Result of one relation build (feeds the monitor + audits). */
final case class BuildResult(
    identifier: String,
    kind: String,              // table | ctas | view
    rowcount: Long,
    skipped: Boolean = false)

/** Outcome of [[Warehouse.vacuum]]: `deleted` build locations, plus
  * the relations it REFUSED to touch because no live location was
  * resolvable (or a pointer file was unreadable). Automation must be
  * able to tell "nothing to reclaim" from "refused to act" — `Cli
  * vacuum` exits non-zero when `refused` is non-empty. */
final case class VacuumResult(deleted: Seq[String], refused: Seq[String])

/** The load engine: the reference's `build_one_relation` + schema
  * lifecycle, on the Spark catalog
  * (/root/reference/python/etl/load.py:703-744, 497-551,
  * data_warehouse.py:48-205).
  *
  * Tables are EXTERNAL parquet tables at versioned locations under
  * `warehouseDir/data/<schema>.<table>/<buildId>`. That makes
  * publish/backup/restore **metadata-only pointer swaps**: promoting a
  * staging build re-points the standard table at the staging build's
  * location — no data is copied, and the previous location stays
  * registered under `etl_backup$schema` for restore. (Redshift gives
  * the reference `ALTER SCHEMA RENAME`; the Spark catalog has no
  * cross-database rename, so the swap IS the idiomatic equivalent.)
  *
  * At 100 TB this matters: publish cost is O(#tables) catalog calls,
  * not O(bytes). Builds themselves are plain distributed writes.
  *
  * Every build follows one order: write the data at its own location,
  * write its layout record, check it there (a relation build's
  * constraints), and only then point the name at it (`registerAt`:
  * the catalog entry, then the pointer file). A build that fails
  * before the last step was never visible, so nothing is rolled back;
  * its orphaned directory is [[vacuum]]'s to reclaim.
  *
  * The warehouse directory is the one record of published state; the
  * session catalog is a cache of it, filled when a `Warehouse` opens:
  *
  *   - `data/<schema>.<table>/<build>/`: one immutable build, with its
  *     layout record `_layout.json` (schema, partition and bucket
  *     columns) written after the data and before any pointer names it;
  *   - `pointers/<schema>.<table>`: the live build's location, one per
  *     lifecycle position (`etl_staging__s`, `etl_backup__s`);
  *   - `views/<schema>.<table>.sql`: a view's query text;
  *   - `snapshots/<tag>/<schema>.<table>`: pinned build locations.
  */
final class Warehouse(
    val spark: SparkSession,
    dir: String,
    val sourceDir: String,                  // parquet stand-in for upstream (COPY, S10)
    val monitor: Monitor = new Monitor()) {
  import Warehouse.{HiveDefaultPartition, Layout}

  /** `dir`, with a scheme-less relative path made absolute against the
    * working directory: Spark resolves a relative `LOCATION` against
    * the database directory instead. Absolute paths and URIs pass
    * through unchanged. */
  val warehouseDir: String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (p.toUri.getScheme != null || p.isAbsolute) dir
    else java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
  }

  /** Build ids must be unique across JVM RUNS, not just within one:
    * a counter restarting at 0 would hand a second CLI run the same
    * versioned locations the published standard tables still point
    * at, and mode(overwrite) would destroy live data mid-build (the
    * backup pointer would reference the overwritten path too). Seeded
    * from the max build id already on disk under `data/<s>.<t>/<id>`,
    * via the Hadoop FS API so any warehouse scheme (file/HDFS/object
    * store) works. One LIST at construction — not per build. */
  private val buildCounter =
    new java.util.concurrent.atomic.AtomicLong(maxExistingBuildId())

  private def maxExistingBuildId(): Long = {
    import org.apache.hadoop.fs.Path
    val dataPath = new Path(s"$warehouseDir/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dataPath)) 0L
    else fs.listStatus(dataPath).filter(_.isDirectory)
      .flatMap(t => fs.listStatus(t.getPath))
      .filter(_.isDirectory)
      .flatMap(b => scala.util.Try(b.getPath.getName.toLong).toOption)
      .foldLeft(0L)(math.max)
  }

  // ------------------------------------------------------------ naming
  private def dataLocation(name: TableName, buildId: Long): String =
    s"$warehouseDir/data/${name.schema}.${name.table}/$buildId"

  def ensureDatabase(schema: String): Unit = {
    val cat = spark.sessionState.catalog
    cat.createDatabase(CatalogDatabase(schema, "", cat.getDefaultDBPath(schema), Map.empty),
      ignoreIfExists = true)
  }

  def createSchemas(relations: Seq[Relation], pos: SchemaPosition.Value): Unit =
    relations.map(_.name.inPosition(pos).schema).distinct.foreach(ensureDatabase)

  // ------------------------------------------------------ query rewrite
  /** Rewrite fully-qualified dependency references in a transform
    * query for a lifecycle position (T5, load.py:221-245). The
    * reference regex-rewrites `schema.table` tokens and can corrupt a
    * string literal containing a dependency name; this rewrite is
    * PLAN-based — parser origins give the exact character span of
    * each relation reference ([[Bootstrap.rewriteReferences]]), so
    * literals and comments are structurally out of reach. */
  def rewriteQuery(query: String, deps: Seq[TableName], pos: SchemaPosition.Value,
                   inRun: Option[Set[String]] = None): String =
    Bootstrap.rewriteReferences(spark, query,
      deps.map { d =>
        // A dependency OUTSIDE the current load set has no staging
        // table (the last publish dropped it) — it resolves at its
        // published standard position. This is what makes
        // --continue-from work under staging: upstream relations
        // skipped by the fast-forward are read where they live.
        val effective =
          if (inRun.forall(_.contains(d.identifier))) pos
          else SchemaPosition.Standard
        d.identifier.toLowerCase -> d.inPosition(effective)
      }.toMap)

  // ------------------------------------------------------ constraint (C1)
  /** Duplicate check per declared constraint (load.py:564-634):
    * `GROUP BY key HAVING COUNT(*) > 1 LIMIT 5`; for `unique`, null
    * keys are exempt (Redshift UNIQUE semantics). Non-empty ⇒
    * [[FailedConstraintError]] carrying sample keys. The engine's own
    * NA row (T3) is not data under check: in a `dim_*` CTAS the key
    * group equal (`<=>`) to the NA row's key counts one row less, so a
    * real key equal to it (a source key 0) is no duplicate, and `df`
    * is the build or table as written. `oneTask` checks in one task,
    * with no exchange: for a build AQE would read back as one shuffle
    * partition anyway, that is one stage instead of two. */
  def verifyConstraints(df: DataFrame, design: TableDesign,
                        trustEngineIdentity: Boolean = true, oneTask: Boolean = false): Unit =
    design.constraints.foreach { ct =>
      // A surrogate key on the engine's own identity column is unique
      // BY CONSTRUCTION (row_number over a total order, Identity.scala)
      // — re-checking would shuffle the whole fact table to prove a
      // tautology. Redshift's IDENTITY gives no such guarantee, which
      // is why the reference re-checks (load.py:564-634); ours does.
      // The standalone check_constraints path passes
      // trustEngineIdentity=false: it audits tables AT REST, where
      // "built by this engine's identity assignment" is a provenance
      // claim, not a property of the data in front of it.
      val engineGenerated = trustEngineIdentity && ct.kind == "surrogate_key" &&
        design.identityColumn.exists(ic => ct.columns == Seq(ic.name))
      if (!engineGenerated) {
      val keyCols = ct.columns.map(col)
      val in = if (oneTask) df.coalesce(1) else df
      val base = if (ct.kind == "unique")
        in.filter(ct.columns.map(col(_).isNotNull).reduce(_ && _))
      else in
      // aliased aggregate, not .count(): a constraint column literally
      // named "count" would make filter(col("count")) ambiguous and
      // fail every build of that relation regardless of data
      val counted = base.groupBy(keyCols: _*)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__dup_count"))
      val dups = (if (!naRowShape(design)) counted else {
        val isNaKey = ct.columns.map { c =>
          val cd = design.activeColumns.find(_.name.equalsIgnoreCase(c)).get
          col(c) <=> expr(design.naValueSql(cd)).cast(cd.dataType)
        }.reduce(_ && _)
        counted.withColumn("__dup_count", col("__dup_count") - when(isNaKey, 1).otherwise(0))
      }).filter(col("__dup_count") > 1).limit(5).collect()
      if (dups.nonEmpty)
        throw new FailedConstraintError(
          s"relation '${design.name.identifier}' violates ${ct.kind} " +
            s"(${ct.columns.mkString(", ")}); examples: " +
            dups.map(_.toSeq.mkString("(", ",", ")")).mkString(" "))
      }
    }

  // ------------------------------------------------------ build one
  /** The reference's `build_one_relation` (load.py:703-744): load
    * (COPY stand-in or CTAS insert) into a fresh build, verify its
    * constraints there, and only then point the name at it. A build
    * that fails its check is never published; its directory is left
    * for [[vacuum]]. */
  def buildOneRelation(rel: Relation, pos: SchemaPosition.Value = SchemaPosition.Standard,
                       skipCopy: Boolean = false,
                       inRun: Option[Set[String]] = None,
                       step: String = "load"): BuildResult =
    monitor.monitored(rel.identifier, step) {
      val design = rel.design
      val target = rel.name.inPosition(pos)
      val r =
        if (design.isView) buildView(design, pos, target, inRun)
        else {
          val (df, ctasCleanup) =
            if (skipCopy) (spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], design.toStructType),
              () => ())
            else if (design.isCtas) ctasDataFrameManaged(design, pos, inRun)
            else (sourceDataFrame(design), () => ())
          // everything from here on runs under the cleanup's finally:
          // the identity build above already persisted its frames, so
          // ANY exit path — NA-row construction, write, constraint
          // check, registration — must release them
          val rowcount = try {
          val out = if (!skipCopy && naRowShape(design)) withNaRow(design, df) else df
          // Constraints are verified against the WRITTEN build, as the
          // reference queries the loaded relation (load.py:564-634):
          // checking the DataFrame pre-write would execute the whole
          // CTAS/COPY plan twice. The build is read at its own location
          // and the name moves only once the check passes, so a reader
          // never sees a build that fails it.
          val (loc, rows, metrics) = writeBuild(target, out, Some(design))
          // a build AQE would coalesce to one shuffle partition is
          // checked in one task; a larger or unmeasured one shuffles
          if (!skipCopy)
            verifyConstraints(readBuild(loc), design, oneTask = metrics.exists(_.bytesWritten <=
              spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
          registerAt(target, loc)
          rows
          } finally ctasCleanup()   // drop the identity build's cache
          BuildResult(rel.identifier, if (design.isCtas) "ctas" else "table",
            rowcount, skipCopy)
        }
      (r, Some(r.rowcount))
    }

  /** COPY (S10, dialect/redshift.py:297-369): ingest the relation's
    * upstream extract. A manifest artifact (`<schema>.<table>/` with
    * csv / json / parquet / avro part files — what `Cli extract` writes) is
    * loaded as the reference's `COPY ... FROM manifest` would; a bare
    * parquet stand-in is read directly. */
  def sourceDataFrame(design: TableDesign): DataFrame =
    Extract.copyDataFrame(spark, sourceDir, design)

  /** CTAS materialization (T1/T2/T3, load.py:467-551): run the
    * rewritten query, enforce design column order, assign the
    * identity surrogate key over the design's sort order if declared,
    * and append the missing-dimension NA row for `dim_*` tables. Also
    * returns the identity build's cache cleanup — [[buildOneRelation]]
    * runs it after the write action so the sorted intermediate doesn't
    * stay persisted for the rest of the session (one leaked frame per
    * identity build, observed as steady storage-memory growth across a
    * multi-relation load). */
  private[etl] def ctasDataFrameManaged(design: TableDesign,
                                        pos: SchemaPosition.Value,
                                        inRun: Option[Set[String]] = None): (DataFrame, () => Unit) = {
    val q = rewriteQuery(design.query, design.dependsOn, pos, inRun)
    var df = spark.sql(q)
    var cleanup: () => Unit = () => ()
    design.identityColumn.foreach { idCol =>
      // every other orderable column breaks sort-key ties, which
      // would otherwise be numbered in input-partition order
      val declared = design.sortKeys.map(_.toLowerCase).toSet
      val tiebreak = design.activeColumns.filterNot(_.identity).map(_.name)
        .filterNot(c => declared(c.toLowerCase))
        .filter(c => df.schema.find(_.name.equalsIgnoreCase(c))
          .exists(f => RowOrdering.isOrderable(f.dataType)))
      val orderCols = (design.sortKeys ++ tiebreak).map(col)
      val (keyed, cl) = Identity.withSurrogateKeyManaged(df, idCol.name, orderCols)
      df = keyed
      cleanup = cl
    }
    (df.select(design.activeColumns.map(c =>
      col(c.name).cast(c.dataType).as(c.name)): _*), cleanup)
  }

  /** Missing-dimension NA row (T3, load.py:506-526). */
  def withNaRow(design: TableDesign, df: DataFrame): DataFrame =
    df.unionByName(spark.range(1).select(design.activeColumns.map(c =>
      expr(design.naValueSql(c)).cast(c.dataType).as(c.name)): _*))

  /** Designs whose builds carry the NA row: `dim_*` CTAS tables. */
  private def naRowShape(design: TableDesign): Boolean =
    design.isCtas && design.name.table.startsWith("dim_")

  private def buildView(design: TableDesign, pos: SchemaPosition.Value,
                        target: TableName,
                        inRun: Option[Set[String]] = None): BuildResult = {
    createView(target, rewriteQuery(design.query, design.dependsOn, pos, inRun))
    BuildResult(design.name.identifier, "view", 0L)
  }

  /** Bucket count for distkey-bucketed tables: both sides of a
    * co-located join must agree, so it is one warehouse-wide constant
    * (Redshift's analog is the slice count). */
  val BucketCount = 8

  /** Write `df` as a new build of `target` and point the name at it:
    * [[writeBuild]], then [[registerAt]]. Callers that check a build
    * before publishing it ([[buildOneRelation]]) run the two steps
    * themselves. Returns the rows written. */
  def writeTable(target: TableName, df: DataFrame,
                 design: Option[TableDesign] = None): Long = {
    val (loc, rows, _) = writeBuild(target, df, design)
    registerAt(target, loc)
    rows
  }

  /** Write `df` at a fresh versioned location of `target`, then its
    * layout record; no catalog entry or pointer of `target` moves.
    * Returns the location, the rows written and the write's metrics.
    *
    * A design `distribution` key maps to Spark bucketing (SURVEY
    * §1.4: distkey → bucketBy): both sides of a join bucketed on the
    * key skip the shuffle entirely — the Redshift KEY-distribution
    * co-location property. `compound_sort` maps to sortBy within
    * buckets (sortkey). */
  private def writeBuild(target: TableName, df: DataFrame,
                         design: Option[TableDesign]): (String, Long, Option[LoadMetrics]) = {
    val buildId = buildCounter.incrementAndGet()
    val loc = dataLocation(target, buildId)
    // S11 load diagnostics for the monitor's finish event (keyed by
    // output location, so parallel D5 builds never cross-read)
    val metrics = Telemetry.measureWrite(spark, loc) {
      val distKeys = design.flatMap(_.distribution).getOrElse(Seq.empty)
      if (distKeys.nonEmpty) {
        // only saveAsTable writes bucketed files: it writes them under
        // a scratch name, whose declared layout is recorded before the
        // entry goes (an EXTERNAL entry: its files stay)
        ensureDatabase(target.schema)
        val scratch = TableName(target.schema, s"${target.table}__build_$buildId")
        try {
          val w0 = df.write.mode("overwrite").format("parquet")
            .option("path", loc)
            .bucketBy(BucketCount, distKeys.head, distKeys.tail: _*)
          val sorted = design.map(_.sortKeys).filter(_.nonEmpty)
            .map(sk => w0.sortBy(sk.head, sk.tail: _*)).getOrElse(w0)
          sorted.saveAsTable(scratch.quoted)
          writeLayout(loc, Layout.of(spark.sessionState.catalog.getTableMetadata(ident(scratch))))
        } finally spark.sessionState.catalog.dropTable(ident(scratch),
          ignoreIfNotExists = true, purge = false)
      } else {
        val partCols = design.map(_.partitionBy).getOrElse(Seq.empty)
        val zCols = design.map(_.interleavedSort).getOrElse(Seq.empty)
        val style = design.flatMap(_.distStyle)
        if (partCols.nonEmpty)
          // hive-style partition dirs: the scan prunes whole directories
          // for predicates on the partition key — the 100 TB layout for
          // time/source-sliced tables (beyond-reference; Redshift has no
          // partitions, SURVEY §1.4 maps only distkey/sortkey)
          df.write.mode("overwrite").partitionBy(partCols: _*).parquet(loc)
        else if (zCols.nonEmpty)
          // INTERLEAVED SORTKEY (table_design.schema:206, dialect/
          // redshift.py:136-137) → Z-order clustered write: range-
          // partition + sort by the Morton key so EVERY interleaved
          // column gets tight per-file min/max ranges and filters on
          // any of them prune files/row-groups — Redshift's interleaved
          // "equal weight to each sort column" property, expressed in
          // parquet statistics instead of zone maps.
          zorderClustered(df, zCols).write.mode("overwrite").parquet(loc)
        else if (style.contains("even"))
          // DISTSTYLE EVEN → round-robin repartition: rows spread
          // uniformly across output files regardless of any skewed
          // upstream partitioning, the Redshift even-slices property.
          // (A skew-free layout is what EVEN buys at 100 TB: every
          // downstream scan task gets the same bytes.)
          df.repartition(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite").parquet(loc)
        else if (style.contains("all"))
          // DISTSTYLE ALL → replicate-to-every-node is Spark's
          // broadcast: land the table as ONE compact file so
          // size-based auto-broadcast (or an explicit hint) replicates
          // it to every executor at join time — the Redshift
          // copy-on-every-slice property without a shuffle.
          // WarehouseSpec pins the join plan.
          df.coalesce(1).write.mode("overwrite").parquet(loc)
        else
          // "auto": the plan's own partitions, one file each — a COPY
          // writes one task per artifact file (the reference's COPY
          // parallelism, set by the extract), a CTAS what its exchanges
          // give. A partition-count probe to re-spread a small write
          // would run the build's query twice.
          df.write.mode("overwrite").parquet(loc)
        // the catalog keeps partition columns last, as a read infers them
        val fields = Warehouse.nullable(df.schema).fields
        val parts = partCols.flatMap(c => fields.find(_.name.equalsIgnoreCase(c)))
        writeLayout(loc, Layout(StructType(fields.filterNot(parts.contains) ++ parts),
          parts.map(_.name), None))
      }
    }
    monitor.attachMetrics(metrics)
    // Rowcount from the write command's own metrics — re-scanning the
    // build just to count it would read every build's output twice
    // (the reference likewise reads stl_load_commits, not the table).
    // Fallback scan only if the listener missed the build.
    (loc, metrics.map(_.rowsWritten).getOrElse(readBuild(loc).count()), metrics)
  }

  /** The build at `location`, read with its recorded schema: no
    * inference, so a string partition value such as '01' stays one. */
  private def readBuild(location: String): DataFrame =
    spark.read.schema(layoutAt(location).schema).parquet(location)

  /** Z-order clustering for `interleaved_sort` writes: normalize each
    * column to `[0, 2^bits)` over its P01..P99 range (ONE
    * approxQuantile pass; clamping at the caps keeps a single outlier
    * from compressing the whole interior into a few cells — min/max
    * scaling loses the clustering exactly when the data is skewed),
    * interleave with the native codegen'd `zorder_key` expression,
    * then range-repartition + sort by the key. One extra shuffle at
    * WRITE time buys multi-dimensional file/row-group pruning on
    * every read — the standard clustering trade. Nulls coalesce to
    * the low cap so they cluster with the low edge instead of
    * scattering; ties and constant columns degrade gracefully
    * (span 1). */
  private def zorderClustered(df: DataFrame, cols: Seq[String]): DataFrame = {
    val res = (1L << graft.queries.ZorderKey.bitsPerInput(cols.size)) - 1
    // DATE cannot cast to DOUBLE in Spark 4 (DATATYPE_MISMATCH), yet
    // table_design allows date interleaved-sort columns — route dates
    // through their epoch-day integer (unix_date), which Z-orders on
    // exactly the calendar order a date sort key means.
    def asDouble(c: String): org.apache.spark.sql.Column = {
      val resolved = df.schema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
      resolved match {
        case Some(org.apache.spark.sql.types.DateType) =>
          unix_date(col(c)).cast("double")
        case _ => col(c).cast("double")
      }
    }
    val doubled = df.select(cols.map(c => asDouble(c).as(c)): _*)
    val quantiles = doubled.stat.approxQuantile(
      cols.toArray, Array(0.01, 0.99), 0.001)
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val qs = quantiles(i)
      val (mn, mx) = if (qs.isEmpty) (0.0, 0.0) else (qs(0), qs(1))
      val span = if (mx > mn) mx - mn else 1.0
      val v = coalesce(asDouble(c), lit(mn))
      least(lit(res), greatest(lit(0L),
        floor((v - lit(mn)) * res / lit(span)).cast("long")))
    }
    // explicit partition count: an AQE-coalesced range exchange would
    // collapse small builds to one file and lose the clustering
    df.withColumn("__zkey", call_function("zorder_key", array(scaled: _*)))
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
  }

  /** Append rows IN PLACE to an existing (non-bucketed) external
    * parquet table: new part files land in the LIVE location — no
    * fresh versioned location, no rewrite of existing data. This is
    * the O(batch) ingest path for ACCUMULATING tables (the MinHash
    * band index an incremental dedup run extends each day): the cost
    * is the batch's files, independent of the table's size. Such
    * tables sit outside the build lifecycle — no backup/publish
    * interplay — and are rebuilt via [[writeTable]] only when full
    * re-derivation is intended. */
  def appendToTable(target: TableName, df: DataFrame): Unit = {
    df.write.mode("append").parquet(appendLocation(target, Some(df.schema))._1)
    spark.catalog.refreshTable(target.quoted)
  }

  /** MERGE INTO the published table — Redshift's MERGE statement
    * (matched rows UPDATE to the source row, or DELETE when
    * `matchedDelete`; unmatched source rows INSERT), re-expressed as
    * ONE key-partitioned LEFT ANTI join: current rows whose key has
    * no source match survive, the source contributes its rows (all
    * of them for upsert; only its current-unmatched rows for the
    * delete arm — Redshift's delete form still inserts non-matches).
    * The merged set is written as a NEW versioned build and
    * atomically re-pointed — the same staging discipline as every
    * build, so readers never see half a merge and the superseded dir
    * is vacuum's to reclaim.
    *
    * Scale shape: both sides shuffle on the merge keys (a fact-sized
    * target and an unbounded source both forbid broadcast — the anti
    * join is hinted shuffle), and the rewrite cost is one pass over
    * target + source. Contract (Redshift's own): the source must be
    * key-unique — duplicate source keys would multiply matched rows.
    * Column sets must agree; source columns are realigned to the
    * target's order.
    *
    * A bucketed or partitioned target must pass its `design` so the
    * rewritten table keeps its physical layout — merging WITHOUT it
    * is refused rather than silently de-bucketing/de-partitioning
    * the relation (the layout is what co-located joins and partition
    * pruning depend on at scale). */
  def mergeInto(target: TableName, source: DataFrame, keys: Seq[String],
                matchedDelete: Boolean = false,
                design: Option[TableDesign] = None): Long = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "mergeInto needs at least one merge key")
    spark.catalog.refreshTable(target.quoted)
    if (design.isEmpty)
      readPointer(target).map(layoutAt).foreach { l =>
        require(l.buckets.isEmpty && l.partitionBy.isEmpty,
          s"mergeInto '${target.identifier}': target is bucketed/partitioned — " +
            "pass its TableDesign so the rewrite keeps the physical layout")
      }
    val current = spark.table(target.quoted)
    require(source.columns.map(_.toLowerCase).toSet ==
        current.columns.map(_.toLowerCase).toSet,
      s"mergeInto column mismatch: target has ${current.columns.mkString(",")}, " +
        s"source has ${source.columns.mkString(",")}")
    val aligned = source.select(current.columns.map(col): _*)
    val sourceKeys = aligned.select(keys.map(col): _*)
    val survivors = current.join(sourceKeys.hint("shuffle_hash"), keys, "left_anti")
    val merged =
      if (matchedDelete)
        survivors.unionByName(
          aligned.join(current.select(keys.map(col): _*).hint("shuffle_hash"),
            keys, "left_anti"))
      else survivors.unionByName(aligned)
    writeTable(target, merged, design)
  }

  /** Partition-scoped rebuild — the BACKFILL form of T6's
    * delete-then-reload (load.py:422-425 deletes then re-COPYs the
    * whole relation; on a date-partitioned 100 TB fact only the
    * affected dates should move). Dynamic partition overwrite
    * replaces EXACTLY the hive-style partitions present in `df`;
    * every other partition's files are untouched, and the catalog's
    * partition entries follow the insert. In-place under the live
    * location, like [[appendToTableIdempotent]] — the pointer does
    * not move, so staging/publish semantics don't apply; the unit of
    * atomicity is the partition directory.
    *
    * `expect`: the declared backfill scope as `col=value/...` specs —
    * a batch carrying rows for any OTHER partition is refused before
    * a byte is written (a mis-scoped backfill silently clobbering an
    * unrelated day is the classic warehouse incident).
    *
    * Returns the rebuilt partition specs, sorted. */
  def rebuildPartitions(target: TableName, df: DataFrame,
                        expect: Option[Set[String]] = None): Seq[String] = {
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(
      target.table, Some(target.schema))
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val partCols = meta.partitionColumnNames
    require(partCols.nonEmpty,
      s"'${target.identifier}' is not partitioned — use writeTable/updateRelations")
    require(meta.bucketSpec.isEmpty,
      s"'${target.identifier}' is bucketed; partition backfill would drop bucketing")
    // name specs the way the FILESYSTEM will, so expect-scopes and
    // reports match the on-disk layout: nulls (and empty strings) land
    // in Hive's default-partition directory, and values with chars
    // Hive escapes in dir names (':', ' ', '/', '%'…) get the same
    // %-escaping the dynamic-partition writer applies
    // format values with SPARK'S OWN cast-to-string — the exact
    // function the dynamic-partition writer names directories from —
    // not JVM toString: java.sql.Timestamp.toString carries a ".0"
    // fraction the directory never has, renders in the JVM default
    // timezone instead of spark.sql.session.timeZone, and with
    // datetime.java8API enabled the collected value is an Instant
    // whose toString ("…T00:00:00Z") matches nothing. Casting inside
    // the query sidesteps every collected-representation mismatch by
    // construction.
    val touched = df
      .select(partCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct().collect()
      .map(r => partCols.indices.map { i =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(partCols(i), r.getString(i))
      }.mkString("/"))
      .toSeq.sorted
    require(touched.nonEmpty, "backfill batch is empty")
    expect.foreach { want =>
      val bad = touched.filterNot(want)
      require(bad.isEmpty,
        s"backfill touches undeclared partitions: ${bad.mkString(", ")} " +
          s"(declared: ${want.toSeq.sorted.mkString(", ")})")
    }
    // insertInto is positional: align to the catalog's column order
    // (data columns first, partition columns last)
    val ordered = df.select(meta.schema.fieldNames.map(col): _*)
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "dynamic")
    // belt and braces: writer-level option too — a STATIC overwrite
    // here would truncate every other partition
    try ordered.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").insertInto(target.quoted)
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
    spark.catalog.refreshTable(target.quoted)
    monitor.record(target.identifier, "backfill", "finish", 0.0,
      message = Some(touched.mkString(", ")))
    touched
  }

  /** Per-partition compaction — [[compactTable]] for partitioned
    * tables, where the whole-table rewrite it performs would move
    * 100 TB to fold one append-fragmented day. A partition compaction
    * IS an identity backfill: re-write the partition's own rows
    * through [[rebuildPartitions]] (dynamic overwrite, scope-guarded
    * to exactly the requested specs), which lands them as one
    * task-sized file set. Other partitions' files never move.
    * Returns per-spec (filesBefore, filesAfter); a spec already at or
    * under `maxDataFiles` is skipped (absent from the result). */
  def compactPartitions(target: TableName, specs: Seq[String],
                        maxDataFiles: Int = 16,
                        dryRun: Boolean = false): Map[String, (Int, Int)] = {
    require(specs.nonEmpty, "compactPartitions needs at least one spec")
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(
      target.table, Some(target.schema))
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    require(meta.partitionColumnNames.nonEmpty,
      s"'${target.identifier}' is not partitioned — use compactTable")
    // a PARTIAL spec on a multi-column-partitioned table would count
    // 0 direct files (only subdirectories live there) and be silently
    // reported as already compact — refuse it loudly instead
    specs.foreach { s =>
      val depth = s.count(_ == '/') + 1
      require(depth == meta.partitionColumnNames.length,
        s"spec '$s' names $depth of ${meta.partitionColumnNames.length} " +
          s"partition columns (${meta.partitionColumnNames.mkString("/")}) " +
          "— compactPartitions takes full specs only")
    }
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileCount(spec: String): Int = {
      val p = new org.apache.hadoop.fs.Path(root, spec)
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(f => f.isFile && {
        val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
    }
    val crowded = specs.map(s => s -> fileCount(s))
      .filter { case (_, n) => n > maxDataFiles }
    if (dryRun || crowded.isEmpty)
      return crowded.map { case (s, n) => s -> (n, n) }.toMap
    crowded.map { case (spec, before) =>
      // hop through a temp copy: the overwrite must not read the very
      // files it deletes at commit (a recomputed task after commit
      // would find them gone). Compaction cost stays 2× the PARTITION,
      // never the table. Partition columns are not stored in the data
      // files — restore them typed from the spec.
      val tmp = new org.apache.hadoop.fs.Path(
        s"$warehouseDir/tmp/compact_${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        val restored = spec.split('/').foldLeft(
          spark.read.parquet(s"$root/$spec")) { (df, kv) =>
          val Array(k0, v) = kv.split("=", 2)
          // specs carry Hive path-escaped names/values — undo the
          // escaping before restoring the typed column. The default-
          // partition directory holds NULL values — restore them as
          // nulls, not as the sentinel string.
          val k = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(k0)
          val value =
            if (v == HiveDefaultPartition) lit(null).cast(meta.schema(k).dataType)
            else lit(org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(v))
              .cast(meta.schema(k).dataType)
          df.withColumn(k, value)
        }
        restored.write.parquet(tmp.toString)
        rebuildPartitions(target, spark.read.parquet(tmp.toString),
          expect = Some(Set(spec)))
      } finally {
        tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(tmp, true)
        ()
      }
      spec -> (before, fileCount(spec))
    }.toMap
  }

  /** Live location and layout record for an in-place append,
    * refusing bucketed and partitioned tables: a bucketed table's files
    * carry bucket-id assignments, and a partitioned table's rows live
    * in partition DIRECTORIES — raw root-level parquet appends would
    * corrupt either layout. The accumulating-table pattern is for plain
    * unbucketed, unpartitioned indexes.
    *
    * SCHEMA GUARD (with a `batch` schema): parquet reads resolve
    * columns by name against the recorded schema, so a drifted batch
    * would not fail — an extra column is silently DROPPED on read and a
    * missing one surfaces as nulls. The mixed append is refused loudly;
    * schema evolution is a rebuild (writeTable), not an append. */
  private def appendLocation(target: TableName,
                             batch: Option[StructType] = None): (String, Layout) = {
    val loc = readPointer(target).getOrElse(throw new IllegalStateException(
      s"no live location for '${target.identifier}' — build it with writeTable first"))
    val layout = layoutAt(loc)
    if (layout.buckets.isDefined)
      throw new IllegalStateException(
        s"'${target.identifier}' is bucketed; in-place append would corrupt " +
          "bucket assignments — rebuild with writeTable instead")
    if (layout.partitionBy.nonEmpty)
      throw new IllegalStateException(
        s"'${target.identifier}' is partitioned; root-level appends would " +
          "bypass the partition directories — rebuild with writeTable instead")
    def shape(s: StructType) =
      s.fields.map(f => (f.name.toLowerCase, f.dataType)).sortBy(_._1).toSeq
    batch.foreach { b =>
      val (want, got) = (shape(layout.schema), shape(b))
      require(got == want,
        s"append schema drift for ${target.identifier}: table has " +
          s"${want.map(_._1).mkString(",")} but batch has " +
          s"${got.map(_._1).mkString(",")} (or a column changed type) — " +
          "evolve the table with a rebuild, not a silent mixed append")
    }
    (loc, layout)
  }

  /** [[appendToTable]] made IDEMPOTENT per `batchTag` — the ingest
    * primitive for at-least-once runtimes (Structured Streaming's
    * `foreachBatch` replays a batch id after a failure; a re-run cron
    * job replays a day). The batch's rows land as part files with
    * DETERMINISTIC tag-derived names, and a hidden `_applied_<tag>`
    * marker records completion:
    *
    *   - replay of an APPLIED batch: marker present → no-op (false);
    *   - replay of an INTERRUPTED batch: every `batch-<tag>-*` file
    *     from the partial attempt is deleted before the new files
    *     move in, so the final state holds exactly one copy.
    *
    * The batch stages under `_staging_<tag>` inside the live location
    * (underscore-prefixed paths are invisible to table scans, so
    * readers never see half a batch) and moves in via per-file
    * renames. Returns true if this call applied the batch. */
  def appendToTableIdempotent(target: TableName, df: DataFrame,
                              batchTag: String): Boolean = {
    val (loc, _) = appendLocation(target, Some(df.schema))
    // Sanitizing alone would COLLIDE distinct tags ('b.1' and 'b:1'
    // both become 'b_1', silently dropping the second batch); a raw-tag
    // hash suffix keeps sanitized names unique per raw tag.
    val sanitized = batchTag.replaceAll("[^A-Za-z0-9_-]", "_")
    val tag = if (sanitized == batchTag) batchTag else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(batchTag.getBytes("UTF-8"))
      sanitized + "-" + md.take(4).map("%02x".format(_)).mkString
    }
    val hp = new org.apache.hadoop.fs.Path(loc)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(hp, s"_applied_$tag")
    if (fs.exists(marker)) return false
    val staging = new org.apache.hadoop.fs.Path(hp, s"_staging_$tag")
    df.write.mode("overwrite").parquet(staging.toString)
    // clear any partial earlier attempt, then move the staged files
    // in. ANCHORED match, not a glob: `batch-$tag-*` would also match
    // files of any other tag that EXTENDS this tag with a dash
    // ("batch-b1-*" matches tag b1-2's "batch-b1-2-0.parquet") and
    // delete committed data whose own marker still stands — permanent
    // silent loss. Only this tag's index-suffixed files may die.
    val ownFile = java.util.regex.Pattern.compile(
      "^batch-" + java.util.regex.Pattern.quote(tag) + "-\\d+(\\..*)?$")
    fs.listStatus(hp).iterator
      .filter(f => ownFile.matcher(f.getPath.getName).matches())
      .foreach(f => fs.delete(f.getPath, false))
    fs.listStatus(staging).iterator
      .filter(_.getPath.getName.startsWith("part-"))
      .zipWithIndex.foreach { case (f, i) =>
        val ext = f.getPath.getName.dropWhile(_ != '.')
        val dest = new org.apache.hadoop.fs.Path(hp, s"batch-$tag-$i$ext")
        // Hadoop rename signals failure by RETURNING FALSE, not
        // throwing; ignoring it would delete the staged copy below,
        // stamp the marker, and lose the rows with every replay
        // no-opping on the marker
        require(fs.rename(f.getPath, dest),
          s"append '$batchTag' to ${target.identifier}: rename " +
            s"${f.getPath} -> $dest failed; batch NOT marked applied")
      }
    fs.delete(staging, true)
    fs.create(marker).close()
    if (spark.catalog.tableExists(target.quoted))
      spark.catalog.refreshTable(target.quoted)
    true
  }

  /** Compact an ACCUMULATING table: [[appendToTable]] adds one file
    * set per batch forever, and at daily-batch cadence the scan's
    * file-listing + open cost eventually dominates the read (the
    * 100 TB failure mode of any append-grown index). When the live
    * location holds more than `maxDataFiles` data files, rewrite the
    * table into a FRESH versioned location (the parquet scan packs
    * small files into size-bounded splits, so the rewrite comes out
    * in ~128 MB files) and atomically re-point the table there —
    * readers never observe a partial state, exactly like publish.
    * The `_applied_<tag>` idempotency markers are carried forward so
    * a replayed batch stays a no-op after compaction. The superseded
    * build directory is left for [[vacuum]] to reclaim (it is now
    * unreferenced). Must not run concurrently with appends, same as
    * vacuum-vs-load.
    *
    * Returns (files before, files after), or None when under the
    * threshold. `dryRun` previews only: returns (before, before) when
    * the table WOULD compact, touching nothing. */
  def compactTable(target: TableName,
                   maxDataFiles: Int = 64,
                   dryRun: Boolean = false,
                   clusterBy: Seq[String] = Nil): Option[(Int, Int)] = {
    val (loc, layout) = appendLocation(target)
    val hp = new org.apache.hadoop.fs.Path(loc)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(f => f.isFile && {
        val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
    val before = dataFiles(hp).length
    // a plain compaction below the file-count threshold is a no-op;
    // a CLUSTERED rewrite (OPTIMIZE ... ZORDER) runs regardless —
    // re-establishing locality after unsorted appends is its point
    if (clusterBy.isEmpty && before <= maxDataFiles) return None
    if (dryRun) return Some((before, before))
    val newLoc = dataLocation(target, buildCounter.incrementAndGet())
    val source = spark.read.parquet(loc)
    val rewritten =
      if (clusterBy.isEmpty) source else zorderClustered(source, clusterBy)
    rewritten.write.mode("overwrite").parquet(newLoc)
    fs.listStatus(hp).filter(_.getPath.getName.startsWith("_applied_"))
      .foreach { m =>
        fs.create(new org.apache.hadoop.fs.Path(newLoc, m.getPath.getName)).close()
      }
    // the same layout at a new location: registerAt re-points the
    // catalog entry with one ALTER, then moves the pointer
    writeLayout(newLoc, layout)
    registerAt(target, newLoc)
    Some((before, dataFiles(new org.apache.hadoop.fs.Path(newLoc)).length))
  }

  // ------------------------------------------------- layout records
  private def ident(t: TableName): TableIdentifier = TableIdentifier(t.table, Some(t.schema))

  private def writeLayout(location: String, layout: Layout): Unit =
    writeFileAt(new Path(location, Warehouse.LayoutRecord), layout.json)

  /** The layout record of the build at `location`. A build without one
    * is refused, never guessed at from its file names. */
  private def layoutAt(location: String): Layout =
    readFileAt(new Path(location, Warehouse.LayoutRecord)).filter(_.nonEmpty)
      .map(Layout.fromJson).getOrElse(throw new IllegalStateException(
        s"no layout record at $location: rebuild the table"))

  /** (Re-)register `target` at the build at `location`, then move its
    * pointer there. */
  private def registerAt(target: TableName, location: String): Unit = {
    declare(target, location)
    writePointer(target, location)
  }

  /** Make the catalog entry `target` serve the build at `location`,
    * declaring the build's layout record verbatim: no schema inference
    * and no Spark job, and a rollback serves an older build exactly as
    * it was written, whatever its design says now. A name that already
    * holds a parquet table of the same layout is re-pointed with one
    * `ALTER TABLE ... SET LOCATION` — an atomic metadata call, so a
    * concurrent reader never observes a missing relation (the table
    * analog of the CREATE OR REPLACE VIEW promote). Any other entry (a
    * different layout, or a view) is dropped and re-created. */
  private def declare(target: TableName, location: String): Unit = {
    val layout = layoutAt(location)
    val cat = spark.sessionState.catalog
    val existing =
      try Some(cat.getTableMetadata(ident(target))) catch { case _: AnalysisException => None }
    val uri = { val p = new Path(location); rawFs(p).makeQualified(p).toUri }
    val sameShape = existing.exists(t => t.tableType == CatalogTableType.EXTERNAL &&
      t.provider.exists(_.equalsIgnoreCase("parquet")) && Layout.of(t) == layout)
    if (sameShape && existing.exists(_.location == uri)) ()   // already serving it
    else if (sameShape) {
      spark.sql(s"ALTER TABLE ${target.quoted} SET LOCATION '$location'")
      // a partitioned table's catalog partition entries still point at
      // the OLD location, and registering only ADDS missing specs — an
      // existing spec keeps its stale absolute location and scans would
      // keep serving the superseded build (then fail once vacuum
      // reclaims it). Drop every stored partition entry first
      // (metadata-only: retainData leaves the old files for vacuum),
      // then register the full set from the new directory layout. The
      // table itself is never missing from the catalog.
      if (layout.partitionBy.nonEmpty) {
        val stale = cat.listPartitions(ident(target))
        if (stale.nonEmpty)
          cat.dropPartitions(ident(target), stale.map(_.spec),
            ignoreIfNotExists = true, purge = false, retainData = true)
        registerPartitions(target, location, layout)
      }
      // SET LOCATION swaps the data but PRESERVES catalog stats from
      // any prior ANALYZE — the CBO would then size joins (and flip
      // broadcast decisions) from the previous build's row counts.
      // Drop them; drop-then-create clears stats implicitly, and
      // analyzeAfter re-ANALYZEs post-publish when requested.
      if (existing.exists(_.stats.isDefined)) cat.alterTableStats(ident(target), None)
      spark.catalog.refreshTable(target.quoted)
    } else {
      existing.foreach { t =>
        if (t.tableType == CatalogTableType.VIEW) dropView(target)
        else spark.sql(s"DROP TABLE IF EXISTS ${target.quoted}")
      }
      ensureDatabase(target.schema)
      cat.createTable(CatalogTable(ident(target), CatalogTableType.EXTERNAL,
        CatalogStorageFormat.empty.copy(locationUri = Some(uri)), layout.schema,
        provider = Some("parquet"), partitionColumnNames = layout.partitionBy,
        bucketSpec = layout.buckets,
        tracksPartitionsInCatalog = spark.sessionState.conf.manageFilesourcePartitions),
        ignoreIfExists = false)
      // register the partition directories already at the location
      if (layout.partitionBy.nonEmpty) registerPartitions(target, location, layout)
    }
  }

  /** Register with `target`'s catalog entry the partition directories
    * (`col=value/...`, in `layout`'s partition column order) of the
    * build at `location`. `ALTER TABLE ... RECOVER PARTITIONS` does the
    * same but warns about every other file it meets, and each build
    * carries its layout record beside the partition directories. */
  private def registerPartitions(target: TableName, location: String, layout: Layout): Unit = {
    val root = new Path(location)
    val fs = rawFs(root)
    def dirs(p: Path, cols: Seq[String], spec: Map[String, String]): Seq[(Map[String, String], Path)] =
      cols match {
        case Seq() => Seq(spec -> p)
        case col +: rest => fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
          st.getPath.getName.split("=", 2) match {
            case Array(k, v) if k.equalsIgnoreCase(col) =>
              dirs(st.getPath, rest, spec + (col -> ExternalCatalogUtils.unescapePathName(v)))
            case _ => Nil
          }
        }
      }
    val cat = spark.sessionState.catalog
    val storage = cat.getTableMetadata(ident(target)).storage
    val parts = dirs(root, layout.partitionBy, Map.empty).map { case (spec, dir) =>
      CatalogTablePartition(spec, storage.copy(locationUri = Some(fs.makeQualified(dir).toUri)))
    }
    if (parts.nonEmpty) cat.createPartitions(ident(target), parts, ignoreIfExists = true)
  }

  // ------------------------------------------------- pointers and views
  private def pointersRoot: Path = new Path(s"$warehouseDir/pointers")
  private def viewsRoot: Path = new Path(s"$warehouseDir/views")

  private def pointerPath(name: TableName): Path =
    new Path(pointersRoot, s"${name.schema}.${name.table}")

  private def viewPath(name: TableName): Path =
    new Path(viewsRoot, s"${name.schema}.${name.table}.sql")

  /** Small-file I/O (pointers, records, view text) goes through the RAW
    * filesystem where the scheme has a checksumming wrapper (the local
    * FS): `ChecksumFileSystem` writes a `.crc` sidecar next to every
    * file and renames it with the target, and a sidecar left stale by
    * any raw-path write makes every later checksummed read fail
    * (ChecksumException → pointer unresolvable → vacuum refuses a
    * healthy relation). These files are self-validating
    * (empty/unreadable ⇒ refuse), so client-side checksums add no
    * safety here. HDFS/object stores are not `ChecksumFileSystem`s and
    * pass through unchanged. */
  private def rawFs(p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  /** Small-file writes must be ATOMIC: `fs.create(p, overwrite)`
    * truncates in place, so a crash mid-write leaves an empty pointer —
    * and if any OTHER position's pointer survives, vacuum's live set is
    * non-empty, the fail-safe does not trigger, and the build whose
    * pointer was lost gets deleted. Write a temp file and rename over
    * the target (atomic on HDFS/local; object stores emulate rename —
    * their non-atomicity is why [[pointerState]] ALSO treats a
    * present-but-empty pointer as unresolvable and vacuum refuses). */
  private def writeFileAt(p: Path, text: String): Unit = {
    val fs = rawFs(p)
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // POSIX rename(2) replaces the target atomically; Hadoop's
        // FileContext route would re-wrap local in its checksum layer.
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"rename failed: $tmp -> $p")
        }
      case _ =>
        // FileContext.rename(OVERWRITE): the only Hadoop rename with
        // defined replace-existing semantics across schemes.
        org.apache.hadoop.fs.FileContext
          .getFileContext(fs.makeQualified(p).toUri, spark.sparkContext.hadoopConfiguration)
          .rename(fs.makeQualified(tmp), fs.makeQualified(p),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** A small file's trimmed text: None when absent, "" when empty or
    * unreadable. */
  private def readFileAt(p: Path): Option[String] = {
    val fs = rawFs(p)
    if (!fs.exists(p)) None
    else Some(try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    } catch { case _: java.io.IOException => "" })
  }

  private def deleteFileAt(p: Path): Unit = { rawFs(p).delete(p, false); () }

  private def writePointer(name: TableName, location: String): Unit =
    writeFileAt(pointerPath(name), location)

  private def deletePointer(name: TableName): Unit = deleteFileAt(pointerPath(name))

  /** What a position's on-disk pointer says. `Unresolvable` (present
    * but empty/unreadable — a torn write) is distinct from `Absent`:
    * vacuum must REFUSE the relation on an unresolvable pointer, never
    * filter it down to "no pointer" and carry on. */
  private[etl] sealed trait PointerState
  private[etl] case object PointerAbsent extends PointerState
  private[etl] case object PointerUnresolvable extends PointerState
  private[etl] final case class PointerLive(location: String) extends PointerState

  private[etl] def pointerState(name: TableName): PointerState =
    pointerStateAt(pointerPath(name))

  private[etl] def pointerStateAt(p: Path): PointerState = readFileAt(p) match {
    case None => PointerAbsent
    case Some("") => PointerUnresolvable
    case Some(loc) => PointerLive(loc)
  }

  private[etl] def readPointer(name: TableName): Option[String] =
    pointerState(name) match {
      case PointerLive(loc) => Some(loc)
      case _ => None
    }

  /** CREATE OR REPLACE VIEW, with its query text recorded for the next
    * process to re-create. */
  private def createView(target: TableName, query: String): Unit = {
    spark.sql(s"CREATE OR REPLACE VIEW ${target.quoted} AS $query")
    writeFileAt(viewPath(target), query)
  }

  /** Drop the view `target` and its recorded query. A catalog drop,
    * not DROP VIEW: the tables the view reads may be gone already, and
    * DROP VIEW resolves the view (to uncache it) and logs the failed
    * lookup. Nothing caches a warehouse view. */
  private def dropView(target: TableName): Unit = {
    spark.sessionState.catalog.dropTable(ident(target), ignoreIfNotExists = true, purge = false)
    deleteFileAt(viewPath(target))
  }

  /** Serve what the directory records: every live pointer is declared
    * from its build's layout record, then every recorded view is
    * re-created (a view whose query reads another view waits for it).
    * What cannot be served — a torn pointer, a build without a record,
    * a view whose query no longer resolves — is skipped with one
    * stderr line; vacuum still refuses a torn pointer. */
  private def openPublished(): Unit = {
    def entries(root: Path, suffix: String): Seq[(TableName, Path)] = {
      val fs = rawFs(root)
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath)
        .filter(p => !p.getName.startsWith(".") && p.getName.endsWith(suffix))
        .map(p => TableName.parse(p.getName.stripSuffix(suffix)) -> p)
    }
    def skip(name: TableName, why: String): Unit =
      System.err.println(s"[warehouse] not serving ${name.identifier}: $why")
    entries(pointersRoot, "").foreach { case (name, p) =>
      pointerStateAt(p) match {
        case PointerLive(loc) =>
          try declare(name, loc) catch { case e: IllegalStateException => skip(name, e.getMessage) }
        case _ => skip(name, s"its pointer $p is empty or unreadable (torn write)")
      }
    }
    var pending = entries(viewsRoot, ".sql")
    var progress = true
    while (pending.nonEmpty && progress) {
      val failed = pending.filterNot { case (name, p) =>
        try {
          ensureDatabase(name.schema)
          spark.sql(s"CREATE OR REPLACE VIEW ${name.quoted} AS ${readFileAt(p).getOrElse("")}")
          true
        } catch { case _: AnalysisException => false }
      }
      progress = failed.size < pending.size
      pending = failed
    }
    pending.foreach { case (name, _) => skip(name, "its view query does not resolve") }
  }

  // ------------------------------------------------- snapshots
  /** Named, metadata-only snapshots — the reproducibility pin a
    * training pipeline needs ("run X trained on exactly THIS
    * corpus"). Builds are immutable versioned directories and a
    * table is just a pointer to one, so a snapshot is ONE tiny
    * pointer file per table under
    * `warehouseDir/snapshots/<tag>/<schema>.<table>` recording the
    * live build location at pin time — O(#tables) metadata, zero
    * data copied, any warehouse size. [[vacuum]] counts pinned
    * locations as live (and refuses a relation whose snapshot file
    * is torn, same discipline as the lifecycle pointers), so later
    * rebuilds never reclaim a pinned build; [[dropSnapshot]]
    * releases the pin and the next vacuum reclaims. Beyond-reference
    * lifecycle: Redshift has no time travel — the reference's only
    * rewind is the backup/restore pair (load.py:604-660), which this
    * generalizes from one implicit "previous" slot to arbitrarily
    * many named pins. */
  private val SnapshotTagPattern = "[A-Za-z0-9][A-Za-z0-9._-]{0,127}"

  private def requireSnapshotTag(tag: String): Unit =
    require(tag.matches(SnapshotTagPattern),
      s"invalid snapshot tag '$tag': must match $SnapshotTagPattern " +
        "(tags name directories; no sanitizing — distinct tags must stay distinct)")

  private def snapshotsRoot: org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$warehouseDir/snapshots")

  private def snapshotFile(tag: String, name: TableName): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      snapshotsRoot, s"$tag/${name.schema}.${name.table}")

  /** Pin the CURRENT build of each table under `tag`. Refuses an
    * existing tag (a pin is a statement about a past run — silently
    * re-pointing it would lie to whoever recorded the tag) and any
    * table whose live location cannot be resolved (nothing durable
    * to pin). Views have no storage to pin and are refused. */
  def createSnapshot(tag: String, tables: Seq[TableName]): Unit = {
    requireSnapshotTag(tag)
    require(tables.nonEmpty, "createSnapshot needs at least one table")
    val root = snapshotsRoot
    val fs = rawFs(root)
    val dir = new org.apache.hadoop.fs.Path(root, tag)
    require(!fs.exists(dir), s"snapshot '$tag' already exists; drop it first")
    val resolved = tables.map { t =>
      val loc = readPointer(t).getOrElse(
        throw new IllegalArgumentException(
          s"cannot snapshot '${t.identifier}': no resolvable live location " +
            "(unregistered table, or a view)"))
      (t, loc)
    }
    // All-or-nothing pin set: write every pointer into a hidden temp
    // directory, then one rename publishes the tag. A crash mid-loop
    // leaves only `.tmp_<tag>` (invisible to listSnapshots, deleted on
    // retry) — never a partial tag that blocks re-creation while
    // restoring/diffing incompletely.
    val tmp = new org.apache.hadoop.fs.Path(root, s".tmp_$tag")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    fs.mkdirs(tmp)
    resolved.foreach { case (t, loc) =>
      writeFileAt(
        new org.apache.hadoop.fs.Path(tmp, s"${t.schema}.${t.table}"), loc)
    }
    if (!fs.rename(tmp, dir))
      throw new IllegalStateException(
        s"snapshot '$tag': publishing rename failed (concurrent create?)")
  }

  /** Re-point the live table at a pinned build — rollback to the
    * snapshot. Metadata-only, same registerAt discipline as publish:
    * the build is served with the layout it was written with. The pin
    * itself stays. */
  def restoreSnapshot(tag: String, name: TableName): Unit = {
    requireSnapshotTag(tag)
    pointerStateAt(snapshotFile(tag, name)) match {
      case PointerLive(loc) =>
        registerAt(name, loc)
        spark.catalog.refreshTable(name.quoted)
      case PointerAbsent => throw new IllegalArgumentException(
        s"no snapshot '$tag' for '${name.identifier}'")
      case PointerUnresolvable => throw new IllegalStateException(
        s"snapshot '$tag' for '${name.identifier}' exists but is unreadable (torn write)")
    }
  }

  /** All pins: (tag, table identifier, pinned location). Unreadable
    * files list with an empty location — visible, never silently
    * skipped. */
  def listSnapshots(): Seq[(String, String, String)] = {
    val root = snapshotsRoot
    val fs = rawFs(root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(d =>
        d.isDirectory && !d.getPath.getName.startsWith(".")).toSeq.flatMap { d =>
      fs.listStatus(d.getPath).filter(_.isFile)
        .filterNot(_.getPath.getName.startsWith(".")).toSeq.map { f =>
          val loc = pointerStateAt(f.getPath) match {
            case PointerLive(l) => l
            case _ => ""
          }
          (d.getPath.getName, f.getPath.getName, loc)
        }
    }.sortBy(t => (t._1, t._2))
  }

  /** Release a pin. The data itself is reclaimed by the NEXT vacuum
    * (if no other pin or lifecycle pointer still references it) —
    * dropping a tag never deletes data directly. */
  def dropSnapshot(tag: String): Unit = {
    requireSnapshotTag(tag)
    val dir = new org.apache.hadoop.fs.Path(snapshotsRoot, tag)
    val fs = rawFs(dir)
    require(fs.exists(dir), s"no snapshot '$tag'")
    fs.delete(dir, true)
    ()
  }

  /** Metadata-only diff of two pins — "what changed between training
    * run A and run B" answered without reading a row: per table, the
    * pin status (`only_a` / `only_b` / `same` build / `changed`
    * build) and each side's on-disk bytes (one recursive LIST per
    * pinned build — O(#files), no jobs). Builds are immutable, so
    * `same` means bit-identical data, not merely equal counts. */
  def diffSnapshots(tagA: String, tagB: String)
      : Seq[(String, String, Long, Long)] = {
    requireSnapshotTag(tagA); requireSnapshotTag(tagB)
    val byTag = listSnapshots().groupBy(_._1)
    def pins(t: String): Map[String, String] = byTag.getOrElse(t, Seq.empty)
      .map { case (_, table, loc) => table -> loc }.toMap
    val (a, b) = (pins(tagA), pins(tagB))
    require(a.nonEmpty, s"no snapshot '$tagA'")
    require(b.nonEmpty, s"no snapshot '$tagB'")
    def bytes(loc: String): Long =
      if (loc.isEmpty) -1L
      else {
        val p = new org.apache.hadoop.fs.Path(loc)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) -1L
        else fs.getContentSummary(p).getLength
      }
    (a.keySet ++ b.keySet).toSeq.sorted.map { table =>
      (a.get(table), b.get(table)) match {
        case (Some(la), None) => (table, "only_a", bytes(la), -1L)
        case (None, Some(lb)) => (table, "only_b", -1L, bytes(lb))
        case (Some(la), Some(lb)) if la == lb =>
          val n = bytes(la); (table, "same", n, n)
        case (Some(la), Some(lb)) => (table, "changed", bytes(la), bytes(lb))
        case _ => throw new IllegalStateException("unreachable")
      }
    }
  }

  /** Pinned locations for one table across ALL tags, plus whether any
    * pin file is torn (vacuum refuses the relation in that case — an
    * unknown pinned location could be any build dir). */
  /** Every tag's pins in ONE sweep, keyed by `schema.table` — vacuum
    * consults pins for every relation, and a per-relation probe of
    * every tag directory is O(#relations x #tags) filesystem round
    * trips (expensive on object stores) for a pin set that is static
    * across the pass. Dot-prefixed dirs (createSnapshot's `.tmp_<tag>`
    * staging, same filter listSnapshots applies) are skipped: a torn
    * TEMP pin from a crashed createSnapshot must not refuse the
    * relation forever while listSnapshots shows nothing to drop. */
  private def allSnapshotPins(): Map[String, (Set[String], Boolean)] = {
    val root = snapshotsRoot
    val fs = rawFs(root)
    if (!fs.exists(root)) Map.empty
    else {
      val states = for {
        d <- fs.listStatus(root).toSeq
        if d.isDirectory && !d.getPath.getName.startsWith(".")
        f <- fs.listStatus(d.getPath).toSeq
        if f.isFile
      } yield f.getPath.getName -> pointerStateAt(f.getPath)
      states.groupBy(_._1).map { case (n, ss) =>
        n -> ((ss.map(_._2).collect { case PointerLive(l) => l }.toSet,
          ss.map(_._2).contains(PointerUnresolvable)))
      }
    }
  }

  /** Version stamp for freshness contracts (the MV-rewrite staleness
    * probe): the live build location plus an md5 over the RECURSIVE
    * data-file listing (path, length, mtime) — every mutation moves
    * it: rebuilds/compactions move the location, appends add files,
    * and partition-scoped backfills rewrite files in nested
    * `col=value/` directories (which a top-level listing would miss —
    * a stale MV would keep rewriting over a backfilled base). The
    * mtime term catches a same-name same-size rewrite; md5 keeps
    * collisions out of a correctness gate. */
  def tableVersion(name: TableName): String =
    readPointer(name).map { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = rawFs(p)
      val b = Seq.newBuilder[String]
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val s = it.next()
          b += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
        }
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(b.result().sorted.mkString(",")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      loc + "|" + md.digest().map("%02x".format(_)).mkString
    }.getOrElse("absent")

  /** Per-partition version stamps for a hive-partitioned live
    * location: one hash per top-level `col=value` directory (its
    * recursive file listing), plus a `""` entry for any files sitting
    * at the root. The MV rewrite uses these to stay armed for queries
    * provably confined to partitions a backfill did not touch —
    * whole-table [[tableVersion]] moves on ANY mutation, which would
    * needlessly disarm day-B queries after a day-A backfill. For
    * multi-column partitioning the granularity is the FIRST partition
    * column (a change anywhere below `day=x/` moves `day=x`'s stamp —
    * coarser, never wrong). */
  def partitionVersions(name: TableName): Map[String, String] =
    readPointer(name).map { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = rawFs(p)
      if (!fs.exists(p)) Map.empty[String, String]
      else {
        def hashOf(entries: Seq[String]): String = {
          val md = java.security.MessageDigest.getInstance("MD5")
          md.update(entries.sorted.mkString(",")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          md.digest().map("%02x".format(_)).mkString
        }
        val top = fs.listStatus(p)
        val (dirs, files) = top.partition(_.isDirectory)
        val perDir = dirs.filter(_.getPath.getName.contains("=")).map { d =>
          val b = Seq.newBuilder[String]
          val it = fs.listFiles(d.getPath, true)
          while (it.hasNext) {
            val s = it.next()
            b += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
          }
          d.getPath.getName -> hashOf(b.result())
        }.toMap
        perDir + ("" -> hashOf(files.toSeq.map(s =>
          s"${s.getPath}:${s.getLen}:${s.getModificationTime}")))
      }
    }.getOrElse(Map.empty)

  // ------------------------------------------------------ full load (D1-D7)
  /** Load a set of relations in execution order (load.py:1131-1214):
    * create schemas, build each relation; a failed relation marks its
    * dependents skip-copy (load.py:202-219) unless required, in which
    * case the whole load aborts with [[RequiredRelationLoadError]].
    * Relations on the same execution level are independent; source
    * tables are built concurrently (D5) via parallel collections over
    * Spark's thread-safe job submission. */
  def loadRelations(relations: Seq[Relation],
                    pos: SchemaPosition.Value = SchemaPosition.Standard,
                    maxConcurrency: Int = 4,
                    analyzeAfter: Boolean = false,
                    skipCopyAll: Boolean = false,
                    step: String = "load"): Seq[BuildResult] = {
    val ordered = Dag.orderByDependencies(relations)
    createSchemas(ordered, pos)
    // Dependencies outside this run (continue-from fast-forwards past
    // them) resolve at their published standard position.
    val inRun = Some(ordered.map(_.identifier).toSet)
    val failed = mutable.Set[String]()
    val skipCopy = mutable.Set[String]()
    val results = mutable.Buffer[BuildResult]()
    // Group by level: within a level there are no mutual deps (D5/D7).
    ordered.groupBy(_.executionLevel).toSeq.sortBy(_._1).foreach { case (_, levelRels) =>
      val levelResults = Warehouse.parallelMap(spark, levelRels, maxConcurrency) { rel =>
        val mustSkip = skipCopyAll ||
          rel.dependencies.exists(d => failed.contains(d.identifier)) ||
          rel.dependencies.exists(d => skipCopy.contains(d.identifier))
        try Right(buildOneRelation(rel, pos, skipCopy = mustSkip, inRun = inRun,
          step = step))
        catch { case e: Exception => Left((rel, e)) }
      }
      levelResults.foreach {
        case Right(r) =>
          if (r.skipped) skipCopy += r.identifier
          results += r
        case Left((rel, e)) =>
          if (rel.isRequired)
            throw new RequiredRelationLoadError(
              s"required relation '${rel.identifier}' failed: ${e.getMessage}")
          System.err.println(
            s"[load] relation '${rel.identifier}' failed (dependents will skip copy): ${e.getMessage}")
          failed += rel.identifier
      }
    }
    // Post-build ANALYZE (load.py:554-561) behind a flag: CBO stats
    // for downstream transformations, skipping failed/empty builds.
    if (analyzeAfter) results.filter(r => r.kind != "view" && !r.skipped)
      .foreach(r => analyze(TableName.parse(r.identifier).inPosition(pos)))
    results.toSeq
  }

  // ------------------------------------------------ lifecycle (L1-L4)
  /** Build everything into staging, then publish: backup the standard
    * tables and promote staging via pointer swaps
    * (data_warehouse.py:105-205, load.py:1202-1214). On failure the
    * standard schemas are untouched — staging IS the isolation. */
  def loadWithStagingAndPublish(relations: Seq[Relation],
                                maxConcurrency: Int = 4,
                                analyzeAfter: Boolean = false,
                                skipCopyAll: Boolean = false,
                                step: String = "load"): Seq[BuildResult] = {
    val results = loadRelations(relations, SchemaPosition.Staging, maxConcurrency,
      skipCopyAll = skipCopyAll, step = step)
    publish(relations)
    // Stats must attach to the PUBLISHED catalog entries: the staging
    // names are dropped by the promote, taking any stats with them.
    if (analyzeAfter) analyzeAll(relations.filter(rel =>
      results.exists(r => r.identifier == rel.identifier && !r.skipped)))
    results
  }

  /** Promote staging → standard (backup current standard first). */
  def publish(relations: Seq[Relation]): Unit = {
    val ordered = Dag.orderByDependencies(relations)
    createSchemas(ordered, SchemaPosition.Standard)
    createSchemas(ordered, SchemaPosition.Backup)
    ordered.foreach { rel =>
      val std = rel.name
      val stg = rel.name.inPosition(SchemaPosition.Staging)
      val bak = rel.name.inPosition(SchemaPosition.Backup)
      if (rel.isView) {
        // Views re-point at standard-position references on promote.
        // CREATE OR REPLACE (not drop-then-create): a concurrent
        // reader never observes a missing relation.
        def holdsTable(n: TableName): Boolean =
          spark.catalog.tableExists(n.identifier) &&
            spark.catalog.getTable(n.identifier).tableType != "VIEW"
        // A relation published as a table MORE than once also left a
        // backup TABLE + pointer; a view is never restored from backup,
        // and a stale backup pointer pins a dead build location as
        // live if the relation reverts to a table.
        if (holdsTable(bak)) spark.sql(s"DROP TABLE ${bak.quoted}")
        deletePointer(bak)
        val q = rewriteQuery(rel.design.query, rel.design.dependsOn,
          SchemaPosition.Standard)
        // if the standard name currently holds a TABLE (relation kind
        // changed between runs), replace-view would fail — clear it
        // first; any OTHER failure must surface untouched
        if (holdsTable(std)) {
          spark.sql(s"DROP TABLE ${std.quoted}")
          // the dropped table's pointer would otherwise permanently
          // mark its (now dead) build location live in vacuum's set —
          // and pin a re-used location if the relation reverts to a
          // table later
          deletePointer(std)
        }
        createView(std, q)
        dropView(stg)   // the staging tables it reads are already gone
      } else {
        readPointer(std).foreach(registerAt(bak, _))            // L2 backup
        readPointer(stg).foreach { loc =>
          registerAt(std, loc)                                  // L3 promote
          // as DROP TABLE does: forget the cached relation, then the entry
          spark.sessionState.catalog.refreshTable(ident(stg))
          spark.sessionState.catalog.dropTable(ident(stg), ignoreIfNotExists = true, purge = false)
          deletePointer(stg)   // its build now lives behind the standard pointer
        }
      }
    }
  }

  /** Restore standard from backup (L4, load.py:1202-1206). */
  def restoreFromBackup(relations: Seq[Relation]): Unit =
    Dag.orderByDependencies(relations).foreach { rel =>
      if (!rel.isView) {
        val bak = rel.name.inPosition(SchemaPosition.Backup)
        readPointer(bak).foreach(registerAt(rel.name, _))
      }
    }

  // ------------------------------------------------------ upgrade
  /** The reference's third core data-processing command: `upgrade`
    * (commands.py:1152-1276, load.py:1217-1305) — in-place rebuild of
    * a selection at the STANDARD position, each table visible to
    * readers as its pointer swaps ("the rebuild is visible to users",
    * i.e. outside a transaction — distinct from `load`'s
    * staging+publish and `update`'s all-or-nothing refresh). By
    * default the selection expands to everything transitively
    * depending on it, like `load`; `onlySelected` restricts the
    * rebuild to exactly the matched relations (the reference's
    * `--only-selected`: "leaves warehouse in inconsistent state, for
    * debugging only"), optionally widened by the dependent VIEWs with
    * no CTAS in between (`--include-immediate-views` — what a
    * Redshift `DROP TABLE .. CASCADE` would have taken down and the
    * rebuild must put back). */
  def upgradeRelations(relations: Seq[Relation], selector: TableSelector,
                       onlySelected: Boolean = false,
                       includeImmediateViews: Boolean = false,
                       continueFrom: Option[String] = None,
                       skipCopy: Boolean = false,
                       maxConcurrency: Int = 4,
                       targetSchema: Option[String] = None): Seq[BuildResult] = {
    // --into-schema implies --only-selected (commands.py:1219-1224)
    val effectiveOnly = onlySelected || targetSchema.isDefined
    val selected = Dag.selectInExecutionOrder(relations, selector,
      includeDependents = !effectiveOnly,
      includeImmediateViews = includeImmediateViews,
      continueFrom = continueFrom)
    // load.py:1274-1285: surface which immediate views are NOT part
    // of an --only-selected upgrade — their queries read tables this
    // rebuild replaces underneath them.
    if (effectiveOnly && !includeImmediateViews) {
      val missed = Dag.findImmediateViews(
        Dag.orderByDependencies(relations), selector)
      if (missed.nonEmpty)
        System.err.println("[upgrade] these views are not part of the upgrade: " +
          missed.map(_.identifier).mkString(", "))
    }
    targetSchema match {
      case None =>
        loadRelations(selected, SchemaPosition.Standard,
          maxConcurrency = maxConcurrency, skipCopyAll = skipCopy,
          step = "upgrade")
      case Some(ts) =>
        // `--into-schema` (load.py:1248-1272): build the selection
        // into a side schema (a scratch copy for debugging) while the
        // queries still read dependencies at their NORMAL positions —
        // which is exactly why the selection may not span execution
        // levels: a selected relation depending on another selected
        // one would read the ORIGINAL, not the relocated copy.
        val levels = selected.map(_.executionLevel).distinct
        if (levels.size > 1)
          throw new InvalidSelectionError(
            "relations might depend on each other while target schema is in effect " +
              s"(involved execution levels: ${levels.sorted.mkString(", ")})")
        val relocated = selected.map(r => r.copy(design =
          r.design.copy(name = TableName(ts, r.name.table))))
        loadRelations(relocated, SchemaPosition.Standard,
          maxConcurrency = maxConcurrency, skipCopyAll = skipCopy,
          step = "upgrade")
    }
  }

  // ------------------------------------------------------------ T6
  /** The `update` command (delete-then-reload,
    * load.py:1308-1367, 422-425): refresh the selected tables AND
    * their downstream transformations, in execution order
    * (`onlySelected` restricts to the matched relations, the
    * reference's `--only-selected` debugging flag). Returns the
    * tables' results, in execution order.
    *
    * The reference wraps the whole refresh in ONE Redshift
    * transaction — a failure anywhere rolls every table back
    * (load.py:1357-1364). The Spark shape of that (SURVEY T6, §7) is
    * `load`'s: build the selection into staging, every relation
    * required, then publish. The first failure raises
    * [[RequiredRelationLoadError]] before [[publish]], so no standard
    * name moves. As after a failed `load`, the builds that passed stay
    * at the staging position until the next publish replaces them,
    * and the failed one's directory is left for [[vacuum]]. Views
    * between selected relations are staged too, so a CTAS reading an
    * updated table through a view reads the fresh build. */
  def updateRelations(relations: Seq[Relation], selector: TableSelector,
                      scheduledStartMs: Option[Long] = None,
                      eventLog: Option[String] = None,
                      waitTimeoutMs: Long = 3600 * 1000L,
                      pollMs: Long = 30 * 1000L,
                      onlySelected: Boolean = false): Seq[BuildResult] = {
    val selected = Dag.selectInExecutionOrder(relations, selector,
      includeDependents = !onlySelected, includeImmediateViews = true)
    // `update --scheduled-start-time T`: the reference blocks until
    // every selected SOURCE table has an extract-finish event newer
    // than T (monitor.py:825-859, load.py:1343-1355) — the daily
    // refresh must not reload yesterday's extract. Events come from
    // the in-memory monitor and/or a cross-process JSON-lines log.
    scheduledStartMs.foreach { since =>
      awaitExtractEvents(
        selected.filterNot(_.isTransformation).map(_.identifier),
        since, eventLog, waitTimeoutMs, pollMs)
    }
    val built = loadWithStagingAndPublish(selected.map(_.copy(isRequired = true)),
      step = "update").map(r => r.identifier -> r).toMap
    selected.filterNot(_.isView).map(r => built(r.identifier))
  }

  // ------------------------------------------------------------ C1 (standalone)
  /** Standalone constraint re-verification over ALREADY-LOADED tables
    * (commands.py:1552-1574, load.py:1407-1421): no rebuild — read
    * each selected table at `pos` and run its declared constraints.
    * Collects every violation instead of throwing on the first, so
    * the CLI reports the full damage in one pass. Identity surrogate
    * keys are NOT trusted here: the table at rest is being audited,
    * not a build this engine just produced. */
  def checkConstraints(relations: Seq[Relation], selector: TableSelector,
                       pos: SchemaPosition.Value = SchemaPosition.Standard)
      : Seq[(String, String)] =
    relations.filter(r => !r.isView && selector.matches(r.name)).flatMap { rel =>
      val target = rel.name.inPosition(pos)
      try {
        verifyConstraints(spark.table(target.quoted), rel.design, trustEngineIdentity = false)
        None
      } catch {
        case e: FailedConstraintError => Some(rel.identifier -> e.getMessage)
        case e: Exception =>   // e.g. the table was never loaded at `pos`
          Some(rel.identifier -> s"not checkable: ${e.getMessage}")
      }
    }

  /** Block until every id in `ids` has an extract `finish` event
    * stamped at or after `sinceMs`, polling the monitor buffer and the
    * optional cross-run event log; [[MissingExtractEventError]] after
    * `timeoutMs` (reference: 30 s poll / 1 h timeout). */
  private[etl] def awaitExtractEvents(ids: Seq[String], sinceMs: Long,
                                      eventLog: Option[String],
                                      timeoutMs: Long, pollMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var pending = ids.toSet
    while (pending.nonEmpty) {
      val seen = (monitor.events ++
          eventLog.toSeq.flatMap(Monitor.readLog))
        .filter(e => e.step == "extract" && e.event == "finish" &&
          e.ts.exists(_ >= sinceMs))
        .map(_.target).toSet
      pending = pending.filterNot(seen)
      if (pending.nonEmpty) {
        if (System.currentTimeMillis() >= deadline)
          throw new MissingExtractEventError(
            s"no extract event at/after epoch-ms $sinceMs for: " +
              pending.toSeq.sorted.mkString(", "))
        Thread.sleep(pollMs)
      }
    }
  }

  // ------------------------------------------------------------ L6
  /** ANALYZE (load.py:554-561): refresh table statistics so the CBO
    * has row counts/sizes — the reference runs this after every
    * build. VACUUM's Spark analog (small-file compaction) is
    * unnecessary here: each build writes fresh, right-sized files —
    * but see [[vacuum]] for the storage-reclamation half of the
    * reference's VACUUM. */
  def analyze(target: TableName): Unit =
    spark.sql(s"ANALYZE TABLE ${target.quoted} COMPUTE STATISTICS")

  /** ANALYZE every table built by a load, at its LIVE (post-publish)
    * position — stats live on the catalog entry, so they must be
    * computed after the pointer swap, not on the dropped staging
    * name. Views carry no stats. */
  def analyzeAll(relations: Seq[Relation]): Unit =
    relations.filterNot(_.isView).foreach(rel => analyze(rel.name))

  /** Storage reclamation — the role the reference's VACUUM plays
    * (load.py:767-784). Every [[writeTable]] lands at a fresh
    * versioned location and publish keeps only the standard + one
    * backup pointer, so superseded build directories accumulate: a
    * nightly-rebuilt warehouse would leak a full copy of every table
    * per day. This deletes, per relation, every build directory under
    * `data/<positionSchema>.<table>/` — writeTable keys the data dir
    * by the BUILD position's name, so a staged build lands under
    * `data/etl_staging__<schema>.<table>/` and publish re-points the
    * standard name there — that no lifecycle pointer (standard,
    * staging, backup) references. Hadoop FS API throughout — one LIST
    * + O(#dead builds) deletes per position dir, any scheme.
    *
    * Run it after publish (or offline); it must not run concurrently
    * with a load, whose newest build directory is unreferenced until
    * the write's own registration. Returns the deleted locations plus
    * the relations refused (unresolvable live set) — callers surface
    * refusals, they are not "nothing to do".
    *
    * `dryRun` reports exactly what a real pass would delete (same
    * liveness resolution, same refusals) without touching the
    * filesystem — the safety preview an operator runs before the
    * first vacuum of an unfamiliar warehouse. */
  def vacuum(relations: Seq[Relation], dryRun: Boolean = false,
             scratchGraceMs: Long = 60 * 60 * 1000L): VacuumResult = {
    import org.apache.hadoop.fs.Path
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def qualified(p: Path): String = {
      val fs = p.getFileSystem(hadoopConf)
      fs.makeQualified(p).toUri.getPath
    }
    val positions =
      Seq(SchemaPosition.Standard, SchemaPosition.Staging, SchemaPosition.Backup)
    val deleted = mutable.Buffer[String]()
    val refused = mutable.Buffer[String]()
    // one snapshot-tree sweep for the whole pass (see allSnapshotPins)
    val pinsByName = allSnapshotPins()
    relations.filterNot(_.isView).foreach { rel =>
      // Live = every position's pointer ∪ snapshot pins: the pointers
      // directory is the one record of what is published.
      val posNames = positions.map(rel.name.inPosition)
      val states = posNames.map(pointerState)
      // Snapshot pins count as live: a pinned build is someone's
      // frozen training corpus. A torn pin file refuses the relation
      // exactly like a torn lifecycle pointer — the unknown pinned
      // location could be any build dir about to be deleted.
      val (pins, pinTorn) = pinsByName.getOrElse(
        s"${rel.name.schema}.${rel.name.table}", (Set.empty[String], false))
      val live: Set[String] = (states.collect { case PointerLive(loc) => loc } ++ pins)
        .map(loc => qualified(new Path(loc)))
        .toSet
      val hasData = posNames.exists { posName =>
        val tableDir =
          new Path(s"$warehouseDir/data/${posName.schema}.${posName.table}")
        tableDir.getFileSystem(hadoopConf).exists(tableDir)
      }
      if (states.contains(PointerUnresolvable) || pinTorn) {
        // A pointer file EXISTS but cannot be read (torn write): one
        // position's live location is unknown, so any delete might hit
        // it. Refuse the whole relation — even if other positions
        // resolve.
        refused += rel.identifier
        System.err.println(
          s"[vacuum] refusing '${rel.identifier}': a pointer or snapshot file " +
            "exists but is empty/unreadable; re-run a load/publish (or re-pin " +
            "the snapshot) first")
      } else if (live.isEmpty) {
        // Fail-safe: data on disk but NO resolvable live pointer means
        // we cannot tell dead builds from live ones (e.g. the pointers
        // directory was lost). Refuse to guess.
        if (hasData) {
          refused += rel.identifier
          System.err.println(
            s"[vacuum] refusing '${rel.identifier}': build data exists but no " +
              "live location is resolvable (no pointer or snapshot pin); " +
              "re-run a load/publish to establish pointers first")
        }
      } else posNames.foreach { posName =>
        val tableDir =
          new Path(s"$warehouseDir/data/${posName.schema}.${posName.table}")
        val fs = tableDir.getFileSystem(hadoopConf)
        if (fs.exists(tableDir)) {
          fs.listStatus(tableDir).filter(_.isDirectory).foreach { st =>
            if (!live.contains(qualified(st.getPath))) {
              if (!dryRun) { fs.delete(st.getPath, true); () }
              deleted += st.getPath.toString
            }
          }
        }
      }
    }
    // scratch sweep: compactPartitions hops through <warehouse>/tmp —
    // a crash between its write and its finally can orphan a scratch
    // dir there. Nothing live is ever under tmp/ — but a compaction
    // IN FLIGHT in another process has its scratch there right now,
    // so only reclaim entries older than the grace window (an active
    // compaction finishes well within it; an orphan only ages).
    val tmpDir = new Path(s"$warehouseDir/tmp")
    val tmpFs = tmpDir.getFileSystem(hadoopConf)
    val scratchCutoff = System.currentTimeMillis() - scratchGraceMs
    if (tmpFs.exists(tmpDir))
      tmpFs.listStatus(tmpDir).foreach { st =>
        if (st.getModificationTime < scratchCutoff) {
          if (!dryRun) { tmpFs.delete(st.getPath, true); () }
          deleted += st.getPath.toString
        }
      }
    VacuumResult(deleted.toSeq, refused.toSeq)
  }

  // last, so every member it uses is initialized
  openPublished()
}

object Warehouse {
  /** Hive's directory name for a NULL partition value. */
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The file every build directory carries its [[Layout]] in.
    * `_`-prefixed, so Spark, pyarrow and DuckDB scans skip it. */
  private[etl] val LayoutRecord = "_layout.json"

  /** What one build directory holds, recorded beside its data: the
    * Spark schema (field metadata included; partition columns last, as
    * the catalog keeps them), the partition columns and the bucket
    * spec — exactly what registering the build declares. */
  private[etl] final case class Layout(schema: StructType, partitionBy: Seq[String],
                                       buckets: Option[BucketSpec]) {
    def json: String = {
      def strs(xs: Seq[String]) = Json.writeValueAsString(xs.asJava)
      val b = buckets.map(b => s"""{"count": ${b.numBuckets}, """ +
        s""""columns": ${strs(b.bucketColumnNames)}, "sort_columns": ${strs(b.sortColumnNames)}}""")
      s"""{"schema": ${schema.json}, "partition_columns": ${strs(partitionBy)}, """ +
        s""""buckets": ${b.getOrElse("null")}}"""
    }
  }

  private[etl] object Layout {
    def of(t: CatalogTable): Layout = Layout(t.schema, t.partitionColumnNames, t.bucketSpec)

    def fromJson(text: String): Layout = {
      val n = Json.readTree(text)
      def strs(a: com.fasterxml.jackson.databind.JsonNode) = a.elements.asScala.map(_.asText).toSeq
      Layout(DataType.fromJson(n.get("schema").toString).asInstanceOf[StructType],
        strs(n.get("partition_columns")),
        Option(n.get("buckets")).filterNot(_.isNull).map(b => BucketSpec(
          b.get("count").asInt, strs(b.get("columns")), strs(b.get("sort_columns")))))
    }
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The reference maps load concurrency onto Redshift WLM slots
    * (commands.py: wlm_query_slot_count); the Spark analog is a FAIR
    * scheduler pool. Every concurrent build thread tags its jobs with
    * this pool name so that, when the session runs with
    * `spark.scheduler.mode=FAIR`, parallel relation builds share
    * executors fairly instead of FIFO-starving each other. Under the
    * default FIFO mode the property is inert — safe to set always. */
  val LoadSchedulerPool = "graft-load"

  /** `xs.map(f)` on up to `parallelism` threads, results in input
    * order: the load's level-parallel builds and `Cli extract`'s
    * sources run here. */
  private[graft] def parallelMap[A, B](spark: SparkSession, xs: Seq[A], parallelism: Int)(
      f: A => B): Seq[B] =
    if (xs.size <= 1 || parallelism <= 1) xs.map(f)
    else {
      import java.util.concurrent.Executors
      import scala.concurrent._
      import scala.concurrent.duration.Duration
      val pool = Executors.newFixedThreadPool(math.min(parallelism, xs.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(xs.map(x => Future {
        // local properties are thread-local: each worker thread tags
        // its Spark jobs with the load pool (and clears after, since
        // executor threads are reused across levels)
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", LoadSchedulerPool)
        try f(x)
        finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      })), Duration.Inf)
      finally pool.shutdown()
    }

  /** `t` with every field, element and value nullable. */
  private def nullable(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType => MapType(nullableType(m.keyType), nullableType(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}
