package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed IDENTITY(1,1) surrogate-key assignment
  * (/root/reference/python/etl/load.py:529-551,
  * dialect/redshift.py:44-76). Redshift hands out arbitrary ids; for a
  * deterministic engine we number 1..N over a declared total order —
  * but WITHOUT a global single-partition window (Spark's
  * `Window.orderBy` with no partition spec moves all rows to one
  * partition; its own WindowExec warns about it).
  *
  * Two-phase plan that scales to 100 TB:
  *   1. range-repartition on the key order (so partition p holds keys
  *      strictly below partition p+1) and sort within partitions;
  *   2. count rows per partition — a metadata-sized driver collect
  *      (one long per partition, same order of magnitude as AQE
  *      statistics);
  *   3. per-row index from `monotonically_increasing_id()` (its low
  *      33 bits are the row's position within its partition, assigned
  *      downstream of the sort) plus the partition's cumulative
  *      offset via a broadcast join — NO second shuffle: a window
  *      partitioned by pid would re-hash and re-sort the whole table.
  *
  * The INPUT is persisted across the range partitioner: a range
  * exchange executes its child TWICE (once for the boundary sampling
  * job, once for the shuffle map), so an unpersisted CTAS input
  * recomputed its whole source join per pass — stage telemetry on the
  * dag_final_table lifecycle showed the duplicate pass as the single
  * largest serial stage of the build. The input cache is dropped as
  * soon as the sorted frame is materialized, and the caller receives
  * a cleanup for the sorted frame itself (the prior shape leaked one
  * persisted frame per identity build for the session's lifetime).
  *
  * The result is bit-identical to `row_number() OVER (ORDER BY keys)`,
  * so it is independent of input partitioning only for a total order.
  * The warehouse's CTAS builds pass one (the declared sort keys, then
  * every other orderable column), so the input is numbered as it
  * comes, with no repartition to spread it first.
  */
object Identity {

  /** Convenience overload that DISCARDS the cache cleanup: the sorted
    * intermediate stays persisted for the session (or until
    * `spark.catalog.clearCache()`). Long-lived sessions building many
    * identity relations must use [[withSurrogateKeyManaged]] and run
    * the returned cleanup after their terminal action. */
  def withSurrogateKey(df: DataFrame, name: String, order: Seq[Column],
                       numPartitions: Int = 0): DataFrame =
    withSurrogateKeyManaged(df, name, order, numPartitions)._1

  /** As [[withSurrogateKey]], also returning the cache cleanup to run
    * AFTER the caller's terminal action over the frame (the sorted
    * intermediate must stay persisted until then — the counts below
    * are only valid for the exact partitioning the final plan reads). */
  def withSurrogateKeyManaged(df: DataFrame, name: String, order: Seq[Column],
                              numPartitions: Int = 0): (DataFrame, () => Unit) = {
    val n = if (numPartitions > 0) numPartitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val pid = col("__pid")
    // Persist only when the frame is not already cached: persist() is
    // a no-op on an already-cached plan, so the unconditional
    // persist/unpersist pair would silently drop a CALLER's cache.
    val ownCache = df.storageLevel == StorageLevel.NONE
    val input = if (ownCache) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    val parted = input
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      // mono = (pid << 33) + rowIndexInPartition, in sorted row order
      .withColumn("__mono", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = parted.groupBy(pid).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // the counts action materialized `parted`; the input cache has
    // served both passes of the range exchange and is dead weight now
    if (ownCache) input.unpersist(blocking = false)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _).init
    // Offsets ride back in via a broadcast join (a when-chain would
    // stop codegen at high partition counts).
    // built from Rows and a schema, not `toDF`: a TypeTag encoder
    // builds Scala's runtime-reflection universe in a cold JVM
    val offsetDf = df.sparkSession.createDataFrame(
      counts.map(_._1).zip(offsets).map { case (p, o) => Row(p, o) }.toSeq.asJava,
      StructType(Seq(StructField("__pid2", IntegerType), StructField("__offset", LongType))))
    val rowIdxInPartition = col("__mono").bitwiseAND(lit((1L << 33) - 1))
    val out = parted
      .join(broadcast(offsetDf), pid === col("__pid2"))
      .withColumn(name, rowIdxInPartition + col("__offset") + 1L)
      .drop("__pid", "__pid2", "__offset", "__mono")
    (out, () => { parted.unpersist(blocking = false); () })
  }
}
