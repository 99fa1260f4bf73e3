package graft.streaming

import org.apache.spark.sql.DataFrame

/** Structured Streaming maintainers of warehouse tables. The reference
  * is batch-only (README.md:31); these three keep a stored table
  * current from a stream and are each checked against the DuckDB oracle
  * by a [[StreamOracles]] entry that replays a multi-batch sequence.
  *
  * The warehouse table, not the state store, is the cross-batch state:
  * it is durable, shared with batch readers, and written through the
  * same versioned pointer swap as every other build. `foreachBatch` is
  * at-least-once, so each maintainer makes a replayed batch id a no-op
  * or a re-landing of identical rows:
  *   - [[heavyHittersStream]] stores the last applied batch id and skips
  *     a replay;
  *   - [[incrementalDedupStream]] appends with the batch-id-tagged
  *     idempotent append, so a replay replaces its own files;
  *   - [[scd2Stream]] rewrites the dimension with a convergent merge.
  */
object EventStreams {

  /** Streaming heavy hitters — the streaming twin of
    * `text_heavy_hitters`: a bounded Misra–Gries summary of the
    * WHOLE stream maintained as a warehouse table. Each micro-batch
    * computes its own distributed MG summary (per-partition pass +
    * driver merge — ≤ k counters however large the batch), then
    * folds it into the stored state with the MERGEABLE-summaries
    * merge, whose error bound (≤ n_total/(k+1), superset guarantee
    * for every token above that rate) holds across ANY merge tree —
    * so the state never rescans history and never exceeds k rows.
    * State lives as a versioned warehouse table (atomic pointer-swap
    * writes), carrying `n_total` and the last applied `batch_id`:
    * foreachBatch is at-least-once, and a REPLAYED batch id is
    * skipped, keeping the fold exactly-once. The batch operator's
    * exact second pass remains the authority; this is the standing
    * candidate set a pipeline consults between full runs. Readers of
    * the state table filter `token IS NOT NULL` (a null-token row is
    * the metadata sentinel an all-cancel merge leaves behind). */
  def heavyHittersStream(wh: graft.etl.Warehouse,
                         state: graft.etl.TableName,
                         docs: DataFrame,
                         checkpointDir: String,
                         k: Int = (graft.queries.TextOps.HeavyHitterPhiDen /
                           graft.queries.TextOps.HeavyHitterPhiNum).toInt)
                        (emit: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (applyHeavyHitterBatch(wh, state, batch, id, k))
          emit(batch.sparkSession.table(state.quoted), id)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One micro-batch fold (factored for direct replay testing).
    * Returns false when `id` was already applied — the at-least-once
    * replay no-op. */
  private[streaming] def applyHeavyHitterBatch(
      wh: graft.etl.Warehouse, state: graft.etl.TableName,
      batch: DataFrame, id: Long, k: Int): Boolean = {
    import graft.queries.TextOps
    val spark = batch.sparkSession
    import spark.implicits._
    val (prevN, prevSum, prevId) =
      if (!spark.catalog.tableExists(state.quoted)) (0L, Map.empty[String, Long], -1L)
      else {
        // foreachBatch runs in a CLONED session with its own relation
        // cache: refresh, or from the third micro-batch on this read
        // serves the location cached in batch 1 and silently drops
        // batch 1's fold
        spark.catalog.refreshTable(state.quoted)
        val rows = spark.table(state.quoted)
          .select($"token", $"cnt", $"n_total", $"batch_id").collect()
        if (rows.isEmpty) (0L, Map.empty[String, Long], -1L)
        else (rows.head.getLong(2),
          // null-token row = the metadata sentinel (see below)
          rows.filter(!_.isNullAt(0))
            .map(r => r.getString(0) -> r.getLong(1)).toMap,
          rows.head.getLong(3))
      }
    if (id <= prevId) false
    else {
      val (bn, bsum) = TextOps.mgSummarize(TextOps.hhTokens(batch), k)
      val merged = TextOps.mgMerge(prevSum, bsum, k)
      // an ALL-CANCEL merge (k+1 distinct singletons) leaves zero
      // counters; n_total and batch_id must survive it or the error
      // bound's denominator resets and a replay double-applies —
      // a null-token sentinel row carries the metadata (readers of
      // the state table filter token IS NOT NULL)
      val dataRows = merged.toSeq.map { case (t, c) => (t, c, prevN + bn, id) }
      val outRows =
        if (dataRows.nonEmpty) dataRows
        else Seq((null.asInstanceOf[String], 0L, prevN + bn, id))
      // ≤ k+1 rows by the MG bound (k is a constant): one write task —
      // a driver-local Seq otherwise parallelizes to the session's
      // full width, and the 32-near-empty-task state write per batch
      // was the largest stage family of the streaming replay
      wh.writeTable(state,
        outRows.toDF("token", "cnt", "n_total", "batch_id").coalesce(1))
      // fresh view for the emit read in the SAME cloned session
      spark.catalog.refreshTable(state.quoted)
      true
    }
  }

  /** Streaming NEAR-dup detection — the streaming twin of
    * `dedup_minhash_incremental`: each micro-batch plays the
    * "incoming batch" of the incremental lifecycle — banded with the
    * SAME [[graft.queries.DedupOps.minhashBandsOf]] expressions as
    * the batch operator, joined against the MATERIALIZED band index,
    * which then absorbs the batch. The warehouse table, not the state
    * store, is the cross-batch state: a state-store copy of a
    * corpus-scale band index cannot fit an executor and cannot be
    * shared with batch runs, while the warehouse table is durable,
    * O(batch) to extend, and identical for batch and stream by
    * construction. Candidate pairs per micro-batch go to `emit`.
    *
    * foreachBatch is AT-LEAST-ONCE — after a failure the same batch id
    * replays — so the index append is the batch-tagged idempotent form
    * ([[graft.etl.Warehouse.appendToTableIdempotent]]): a replay
    * replaces its own files instead of duplicating band rows, keeping
    * the durable index exactly-once. The batch's bands are cached for
    * the append + join, then unpersisted once `emit` returns, so a
    * long-running stream holds no accumulating cache entries.
    *
    * Seed discipline: the caller seeds `index` EMPTY (schema only)
    * before the first batch, so every data write goes through the
    * batch-tagged append. Seeding with batch 0's own rows would leave
    * them unmarked, and a crash between the seed and the checkpoint
    * commit would re-deliver batch 0 into the append path and
    * double-apply it. With the empty seed every data write is
    * marker-guarded, and at-least-once replay converges in every crash
    * interleaving. */
  def incrementalDedupStream(wh: graft.etl.Warehouse,
                             index: graft.etl.TableName,
                             docs: DataFrame,
                             checkpointDir: String)
                            (emit: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        import graft.queries.DedupOps
        val bands = DedupOps.minhashBandsOf(batch)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          wh.appendToTableIdempotent(index, bands, s"b$id")
          emit(DedupOps.pairsAgainstIndex(wh, index, bands), id)
        } finally { bands.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Streaming SCD2 maintenance — the streaming twin of
    * [[graft.queries.DimOps.scd2MergeDim]]: each micro-batch carries
    * partial-dimension upserts (key, attrs, as_of) and is merged into
    * the WAREHOUSE dim table by the shared
    * [[graft.queries.DimOps.scd2Upsert]] core — like the band index,
    * the warehouse table (not the state store) is the cross-batch
    * state, durable and shared with batch readers. The merge reads
    * the table's current pointer and `writeTable` lands the merged
    * history at a NEW versioned location before atomically
    * re-pointing, so concurrent readers never see a half-written
    * dimension and foreachBatch's at-least-once replay just re-lands
    * an identical version (scd2Upsert is convergent: re-applied
    * attributes change nothing). Cost per batch is one scan of the
    * dimension + a join of its current slice against the batch —
    * dimensions are the small side of a warehouse, which is what
    * makes the rewrite-and-re-point form viable where a fact table
    * would need partition-level merge. */
  def scd2Stream(wh: graft.etl.Warehouse, dim: graft.etl.TableName,
                 key: String, attrs: Seq[String],
                 updates: DataFrame, checkpointDir: String)
                (afterBatch: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the dimension is a batch-lifecycle artifact; a loud contract
        // beats refreshTable's obscure NoSuchTableException on batch 0
        require(batch.sparkSession.catalog.tableExists(dim.quoted),
          s"scd2Stream requires dimension '${dim.identifier}' to exist " +
            "- build it with the batch SCD2 lifecycle first")
        // foreachBatch runs in a CLONED session with its own relation
        // cache — refresh so this batch sees the location the previous
        // batch re-pointed to, not a stale cached file index
        batch.sparkSession.catalog.refreshTable(dim.quoted)
        val current = batch.sparkSession.table(dim.quoted)
        val merged = graft.queries.DimOps.scd2Upsert(current, batch, key, attrs)
        wh.writeTable(dim, merged)
        afterBatch(id)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
