package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Transparent result caching — Redshift's
  * `enable_result_cache_for_session` (on by default there; the
  * reference's `run_query`/transform sessions benefit silently,
  * commands.py:1680-1720 never has to opt in). A query's RESULT is
  * served from a prior materialization when BOTH the plan and every
  * scanned input are unchanged:
  *
  *   fingerprint = sha256( canonicalized optimized plan
  *                         + every input's file listing (name, size,
  *                           modification time) )
  *
  * The canonicalized plan normalizes expression ids, so two
  * differently-built but equivalent DataFrames share an entry, while
  * any literal/column/path difference separates them. The file
  * listing makes staleness STRUCTURAL — an append, rebuild, compact
  * or pointer swap under any scanned table moves the fingerprint, so
  * there is no invalidation protocol to get wrong (same discipline
  * Redshift applies: any write to a referenced table invalidates).
  *
  * Queries with non-deterministic expressions (rand, current_
  * timestamp) BYPASS the cache, exactly as Redshift refuses to serve
  * cached results for them.
  *
  * Scale shape: a hit costs one parquet read of the RESULT (typically
  * KBs for analytic answers) instead of a 100 TB scan; a miss costs
  * the query plus one result write. Entries are immutable files —
  * safe under concurrent readers. Nothing evicts them: entries
  * accumulate until the cache directory is cleared.
  */
final class ResultCache(spark: SparkSession, cacheDir: String) {

  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Input-version stamp: every scanned file's (name, len, mtime),
    * ordered. Directory-listing only — no data read. */
  private def inputStamp(df: DataFrame): String = {
    val roots = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Seq(s"nonfs:${l.relation.getClass.getName}")
      }
    }.flatten.sorted
    roots.map { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = fs(p)
      if (!f.exists(p)) s"$r|absent"
      else {
        val it = f.listFiles(p, true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val s = it.next()
          b += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
        }
        r + "|" + b.result().sorted.mkString(",")
      }
    }.mkString(";")
  }

  private[etl] def deterministic(df: DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(!_.deterministic)))

  /** LocalRelation omits its rows from plan strings (stringArgs is
    * output-only), so two inline VALUES/createDataFrame inputs with
    * the same schema canonicalize identically. Fold the actual row
    * data into the key — LocalRelation data is driver-resident by
    * construction, so the dump is bounded. */
  private def localDataStamp(df: DataFrame,
      md: java.security.MessageDigest): Unit = {
    df.queryExecution.optimizedPlan.foreach {
      case l: LocalRelation if l.data.nonEmpty =>
        val proj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(l.output.map(_.dataType).toArray)
        l.data.foreach { row =>
          val u = proj(row)
          md.update(u.getBytes)
          md.update(0x1e.toByte)
        }
        md.update(0x1d.toByte)
      case _ => ()
    }
  }

  /** The cache key. Exposed for the spec's equivalence assertions. */
  private[etl] def fingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.optimizedPlan.canonicalized.toString
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(inputStamp(df).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    localDataStamp(df, md)
    md.digest().take(16).map("%02x".format(_)).mkString
  }

  private def entryPath(fp: String) =
    new org.apache.hadoop.fs.Path(cacheDir, fp)

  /** Serve `df`'s result, from cache when possible. Returns the
    * result plus whether it was a hit. A miss materializes the result
    * into the entry ATOMICALLY (temp dir + rename) so a crash
    * mid-write never leaves a servable half-result. */
  // Result row ORDER must survive the parquet round-trip (an ORDER BY
  // answer served in a different order is a different answer —
  // Redshift's cache returns identical results): the write stamps
  // each row's position, reads sort by it and drop it. The id is
  // partition-prefixed and rows of an ordered frame are range-
  // partitioned, so the sort restores the exact original order.
  private val PosCol = "__rc_pos"

  private def readEntry(dest: org.apache.hadoop.fs.Path): DataFrame = {
    val raw = spark.read.parquet(dest.toString)
    raw.orderBy(org.apache.spark.sql.functions.col(PosCol)).drop(PosCol)
  }

  def lookup(df: DataFrame): (DataFrame, Boolean) = {
    if (!deterministic(df)) return (df, false)
    val fp = fingerprint(df)
    val dest = entryPath(fp)
    val f = fs(dest)
    if (f.exists(new org.apache.hadoop.fs.Path(dest, "_SUCCESS")))
      (readEntry(dest), true)
    else {
      val tmp = new org.apache.hadoop.fs.Path(cacheDir, s".tmp_$fp")
      if (f.exists(tmp)) f.delete(tmp, true)
      df.withColumn(PosCol,
          org.apache.spark.sql.functions.monotonically_increasing_id())
        .write.mode("overwrite").parquet(tmp.toString)
      if (!f.rename(tmp, dest)) {
        // concurrent miss on the same key: the other writer won — use
        // its entry if complete, else serve the computed frame as-is
        f.delete(tmp, true)
        if (f.exists(new org.apache.hadoop.fs.Path(dest, "_SUCCESS")))
          return (readEntry(dest), true)
        return (df, false)
      }
      (readEntry(dest), false)
    }
  }

  def run(df: DataFrame): DataFrame = lookup(df)._1
}
