package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file min/max data-skipping index over a warehouse table — the
  * zone-map design the reference leans on implicitly (Redshift keeps
  * per-block min/max for sort keys; `table_design.schema:196-210`'s
  * `sortkey` exists to make those zone maps selective, and SURVEY §4
  * names them as the reference's chief scan-pruning device), made
  * EXPLICIT as a queryable warehouse table over plain parquet, the
  * way Delta/Iceberg ship file-level stats in their logs.
  *
  * Why it matters at 100 TB: parquet row-group stats only help AFTER
  * a file's footer is opened — the scan still lists, opens, and
  * schedules every file. This index prunes the FILE LIST driver-side
  * before the scan is planned, so a selective predicate on a
  * clustered column reads the few files that can match instead of
  * opening a million footers. The index itself is metadata-sized
  * (one row per file) and is maintained incrementally: [[refresh]]
  * scans ONLY files not yet indexed.
  *
  * Layout: one row per data file — `file`, `row_count`, then
  * `min_<col>`/`max_<col>` per indexed column in the column's native
  * type (so pruning comparisons are typed, not stringly). Stored via
  * the normal Warehouse lifecycle (versioned build + pointer), so
  * vacuum/snapshot/compaction semantics apply unchanged.
  */
object FileSkipIndex {

  /** Naming convention for the stats side-table. */
  def statsTable(target: TableName): TableName =
    TableName(target.schema, target.table + "__filestats")

  /** Normalize a path for equality between `_metadata.file_path`
    * (executor-rendered URI, e.g. `file:///root/x.parquet`) and
    * Hadoop `Path.toString` (driver listing, `file:/root/x.parquet`):
    * collapse the scheme's slash run to one. Pure string op — runs as
    * a codegen'd expression executor-side. */
  private def normFile(c: Column): Column =
    regexp_replace(c, "^([a-zA-Z0-9+.-]+):/+", "$1:/")

  private def normFile(s: String): String =
    s.replaceFirst("^([a-zA-Z0-9+.-]+):/+", "$1:/")

  private def statsAggs(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("row_count") +: cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))

  private def statsOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = statsAggs(cols)
    df.groupBy(normFile(col("_metadata.file_path")).as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Driver-side file-list cap. Every maintenance/pruning path here
    * collects the indexed file NAMES — one short string per file, the
    * Delta-log cost class — and the live listing does the same. ~2M
    * files (~300 MB of driver strings) is the sane ceiling for one
    * flat table's index; past that the right structure is
    * partition-scoped indexes, and a loud refusal beats the silent
    * driver OOM these collects would otherwise become at 100 TB. */
  private val MaxIndexedFiles = 2 * 1000 * 1000

  private[etl] def boundedFileNames(df: DataFrame, what: String,
                                    cap: Int = MaxIndexedFiles): Set[String] =
    boundedFileNamesOpt(df, cap).getOrElse(throw new IllegalArgumentException(
      s"$what holds more than $cap files - beyond the " +
        "driver-side cap for a flat file-skip index; partition the " +
        "table and index per partition instead"))

  /** QUERY-path variant: `None` past the cap. Read paths must DEGRADE
    * to the full (still correct) scan — pruning is an optimization,
    * never the correctness argument — while build/refresh maintenance
    * keeps the loud refusal above (growing an un-prunable index past
    * the driver cap deserves an error, serving a query does not). */
  private def boundedFileNamesOpt(df: DataFrame,
                                  cap: Int = MaxIndexedFiles): Option[Set[String]] = {
    val names = df.select(col("file")).limit(cap + 1)
      .collect().map(_.getString(0))
    if (names.length > cap) None else Some(names.toSet)
  }

  /** Pad an aggregated stats frame with zero-row entries for files the
    * row-level aggregate never saw: a writer CAN leave an empty
    * parquet file behind (an empty task partition), and without a
    * stats row for it the indexed set never equals the live listing —
    * the staleness guard would then force a full-scan fallback
    * forever. Empty files get `row_count = 0` and null stats, which
    * every pruning predicate already treats as "cannot match". */
  private def completeStats(stats: DataFrame, files: Set[String]): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    val have = boundedFileNames(stats, "stats frame")
    val missing = (files -- have).toSeq.sorted
    if (missing.isEmpty) stats
    else {
      val zero = stats.schema.fields.drop(2).foldLeft(
        missing.toDF("file").withColumn("row_count", lit(0L))) {
        (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))
      }
      stats.unionByName(zero)
    }
  }

  /** Build (or rebuild) the stats table for `target`. One pass over
    * the table, column-pruned to the indexed columns (the parquet
    * scan reads only `cols`), map-side-combinable min/max per file —
    * the shuffle moves one row per (file, partial), never data. */
  def build(wh: Warehouse, target: TableName, cols: Seq[String]): TableName = {
    require(cols.nonEmpty, "index at least one column")
    val st = statsTable(target)
    val stats = statsOf(wh.spark.table(target.quoted), cols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    wh.writeTable(st, completeStats(stats, liveFiles(wh.spark, target)))
    stats.unpersist()
    st
  }

  /** Incremental maintenance after appends: list the table's live
    * data files (driver-side, metadata-only — the same O(#files)
    * listing every scan's planning already performs), diff against
    * the indexed file set, and aggregate stats for ONLY the new files
    * — Θ(appended data), not a rescan. The collected file-name sets
    * are bounded metadata, one short string per file (the Delta-log
    * cost class, not a data collect). Returns how many new files were
    * indexed. Must not run concurrently with compaction (same rule as
    * append-vs-vacuum). */
  def refresh(wh: Warehouse, target: TableName, cols: Seq[String]): Int = {
    val spark = wh.spark
    val st = statsTable(target)
    val known = boundedFileNames(spark.table(st.quoted), st.identifier)
    val fresh = (liveFiles(spark, target) -- known).toSeq.sorted
    if (fresh.isEmpty) 0
    else {
      val stats = statsOf(spark.read.parquet(fresh: _*), cols)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      wh.appendToTable(st, completeStats(stats, fresh.toSet))
      stats.unpersist()
      fresh.length
    }
  }

  /** A pruned scan: `df` holds only rows with `lo <= c <= hi`, read
    * from only the files whose [min,max] interval intersects
    * [lo, hi]. `filesRead`/`filesTotal` expose the pruning ratio;
    * `stale` reports that the index did not match the table's live
    * file set and the scan fell back to the full table. On that
    * degraded path the counts are the live file count when one
    * listing fit under the driver cap, and `-1` ("unknown") when BOTH
    * the index and the live listing overflowed — never a fabricated
    * sentinel that reads as a real file count. */
  final case class Pruned(df: DataFrame, filesRead: Int, filesTotal: Int,
                          stale: Boolean = false)

  /** Live data files of a plain table — one driver-side listing, the
    * same O(#files) metadata cost scan planning already pays. */
  private def liveFiles(spark: SparkSession, target: TableName): Set[String] =
    liveFilesOpt(spark, target).getOrElse(throw new IllegalArgumentException(
      s"${target.identifier} holds more than $MaxIndexedFiles live files - " +
        "beyond the driver-side cap for a flat file-skip index; partition " +
        "the table and index per partition instead"))

  private def liveFilesOpt(spark: SparkSession,
                           target: TableName): Option[Set[String]] = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          target.table, Some(target.schema))).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(loc).filter(f => f.isFile && {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }).map(f => normFile(f.getPath.toString))
    if (names.length > MaxIndexedFiles) None else Some(names.toSet)
  }

  /** The shared query-path guard: the indexed and live file sets when
    * pruning is safe, `None` when the index is stale, either set
    * exceeds the driver cap, or the sets disagree — callers fall back
    * to the full scan. */
  /** Query-path guard: Right(indexed) when pruning is safe (index and
    * live listing agree, both under the cap); Left(liveCount) — the
    * number of files the full-scan fallback will actually read, when
    * known; `-1` when both listings overflowed the driver cap and the
    * count is genuinely unknown (the fallback scan is still correct —
    * only the metric degrades). */
  private def prunableSets(spark: SparkSession, target: TableName,
                           stats: DataFrame): Either[Int, Set[String]] = {
    val indexedOpt = boundedFileNamesOpt(stats)
    val liveOpt = liveFilesOpt(spark, target)
    (indexedOpt, liveOpt) match {
      case (Some(indexed), Some(live)) if indexed == live => Right(indexed)
      case _ => Left(liveOpt.map(_.size)
        .orElse(indexedOpt.map(_.size)).getOrElse(-1))
    }
  }

  // ------------------------------------------------ bloom file skipping
  /** Per-file BLOOM filters — the equality-predicate complement of the
    * min/max zone map. A point lookup on a HIGH-CARDINALITY column
    * whose values are scattered across files (the usual fact-table
    * shape unless the table is sorted on exactly that column) gets
    * nothing from min/max — every file's [min,max] spans the whole
    * domain — but a per-file bloom answers "could this file hold
    * value v" with a bounded false-positive rate, so the scan reads
    * ~fpp·#files instead of all of them. This is Parquet's optional
    * column bloom filter lifted to the FILE level and stored as a
    * warehouse table, for the same reason as the min/max index: at
    * 100 TB the win is pruning the file LIST driver-side before any
    * footer is opened.
    *
    * Layout: one row per file — `file`, `row_count`, `bloom`
    * (Spark's `BloomFilterAggregate` bytes over the LONG column).
    * Sized by `expectedItems` per file (~0.9 bytes/item at the
    * default 3% fpp); the index stays metadata-priced relative to
    * data. Maintenance mirrors the min/max index: [[refreshBloom]]
    * aggregates only unindexed files; the staleness guard falls back
    * to the full scan whenever the indexed file set drifts from the
    * live listing. */
  def bloomTable(target: TableName): TableName =
    TableName(target.schema, target.table + "__filebloom")

  private def bloomStatsOf(df: DataFrame, c: String,
                           expectedItems: Long): DataFrame = {
    df.groupBy(normFile(col("_metadata.file_path")).as("file"))
      .agg(count(lit(1)).as("row_count"),
        call_function("bloom_agg", col(c).cast("long"), lit(expectedItems))
          .as("bloom"))
  }

  /** Build (or rebuild) the bloom side-table for a LONG-typed column.
    * One column-pruned pass; the bloom aggregate is map-side
    * combinable (bit-OR merge), so the shuffle carries one filter per
    * (file, partial). */
  def buildBloom(wh: Warehouse, target: TableName, c: String,
                 expectedItems: Long = 1000000L): TableName = {
    val bt = bloomTable(target)
    val stats = bloomStatsOf(wh.spark.table(target.quoted), c, expectedItems)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    wh.writeTable(bt, completeStats(stats, liveFiles(wh.spark, target)))
    stats.unpersist()
    bt
  }

  /** Incremental bloom maintenance after appends — Θ(appended data),
    * listing-diff driven, same contract as [[refresh]]. */
  def refreshBloom(wh: Warehouse, target: TableName, c: String,
                   expectedItems: Long = 1000000L): Int = {
    val spark = wh.spark
    val bt = bloomTable(target)
    val known = boundedFileNames(spark.table(bt.quoted), bt.identifier)
    val fresh = (liveFiles(spark, target) -- known).toSeq.sorted
    if (fresh.isEmpty) 0
    else {
      val stats = bloomStatsOf(spark.read.parquet(fresh: _*), c, expectedItems)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      wh.appendToTable(bt, completeStats(stats, fresh.toSet))
      stats.unpersist()
      fresh.length
    }
  }

  /** Point/IN-list pruned scan on a bloom-indexed LONG column: a file
    * is a candidate iff its bloom might contain ANY probed value (an
    * all-null file carries a null bloom and is never a candidate — an
    * equality predicate cannot match null). The membership test runs
    * over the stats table (one row per FILE, metadata-priced — Spark's
    * `BloomFilterMightContain` demands a literal filter side, so the
    * per-row probe deserializes the sketch directly); the residual
    * `IN` filter on top keeps pruning a superset optimization, with
    * the same staleness guard as [[prunedScan]]. */
  def prunedScanIn(spark: SparkSession, target: TableName, c: String,
                   values: Seq[Long]): Pruned = {
    require(values.nonEmpty, "probe at least one value")
    val bt = bloomTable(target)
    val stats = spark.table(bt.quoted)
    val pred = col(c).isin(values: _*)
    val prunable = prunableSets(spark, target, stats)
    if (prunable.isLeft) {
      val n = prunable.left.toOption.get
      return Pruned(spark.table(target.quoted).filter(pred),
        n, n, stale = true)
    }
    val indexed = prunable.toOption.get
    import spark.implicits._
    val vs = values.toArray
    val candidates = stats.select(col("file"), col("bloom"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.collect { case (f, b) if b != null => (f, b) }
        .filter { case (_, bytes) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          vs.exists(bf.mightContainLong)
        }.map(_._1))
      .collect()
    val df =
      if (candidates.isEmpty)
        spark.table(target.quoted).filter(lit(false))
      else
        spark.read.schema(spark.table(target.quoted).schema)
          .parquet(candidates.toIndexedSeq: _*).filter(pred)
    Pruned(df, candidates.length, indexed.size)
  }

  /** IN-list pruned scan on a min/max-indexed column: a file is a
    * candidate iff ANY probed value lies inside its [min_c, max_c]
    * interval (null stats = all-null file, never a candidate for an
    * equality probe). Built for bounded probe sets — a query batch's
    * terms against token-clustered postings — where the predicate is
    * a small OR over the metadata-sized stats table. The residual
    * `IN` filter stays on top and the staleness guard falls back to
    * the full scan, exactly as [[prunedScan]]. */
  def prunedScanInRange(spark: SparkSession, target: TableName, c: String,
                        values: Seq[Any]): Pruned = {
    require(values.nonEmpty, "probe at least one value")
    val stats = spark.table(statsTable(target).quoted)
    val pred = col(c).isin(values: _*)
    val prunable = prunableSets(spark, target, stats)
    if (prunable.isLeft) {
      val n = prunable.left.toOption.get
      return Pruned(spark.table(target.quoted).filter(pred),
        n, n, stale = true)
    }
    val indexed = prunable.toOption.get
    val hit = values.map(v =>
      col(s"min_$c") <= lit(v) && col(s"max_$c") >= lit(v)).reduce(_ || _)
    val candidates = stats.filter(hit)
      .select(col("file")).collect().map(_.getString(0))
    val df =
      if (candidates.isEmpty)
        spark.table(target.quoted).filter(lit(false))
      else
        spark.read.schema(spark.table(target.quoted).schema)
          .parquet(candidates.toIndexedSeq: _*).filter(pred)
    Pruned(df, candidates.length, indexed.size)
  }

  /** Closed-interval pruned scan on an indexed column. Files whose
    * stats CANNOT contain a match are dropped from the read: a file
    * with `max_c < lo` or `min_c > hi` has no qualifying row, and a
    * file whose `min_c`/`max_c` are null holds only nulls in `c`
    * (min/max ignore nulls), which a range predicate never matches.
    * The residual filter stays on top — pruning is a superset
    * optimization, never the correctness argument. The candidate
    * file list is collected driver-side (bounded: one path per
    * surviving file — what `spark.read` needs to plan the scan). */
  def prunedScan(spark: SparkSession, target: TableName, c: String,
                 lo: Column, hi: Column): Pruned = {
    val stats = spark.table(statsTable(target).quoted)
    val pred = col(c) >= lo && col(c) <= hi
    // STALENESS GUARD: compaction/rebuild re-points the table at a new
    // build whose files the index has never seen — pruning against
    // stale stats would read deleted files or silently miss rows. When
    // the indexed file set is not exactly the live set (or either side
    // exceeds the driver cap), fall back to the full (still correct)
    // scan; the caller rebuilds/refreshes the index on its own
    // schedule. One extra listing, metadata-priced.
    prunableSets(spark, target, stats) match {
      case Left(n) =>
        Pruned(spark.table(target.quoted).filter(pred), n, n, stale = true)
      case Right(indexed) =>
        val candidates = stats
          .filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
          .select(col("file")).collect().map(_.getString(0))
        val df =
          if (candidates.isEmpty)
            spark.table(target.quoted).filter(lit(false))
          else
            spark.read.schema(spark.table(target.quoted).schema)
              .parquet(candidates.toIndexedSeq: _*).filter(pred)
        Pruned(df, candidates.length, indexed.size)
    }
  }
}
