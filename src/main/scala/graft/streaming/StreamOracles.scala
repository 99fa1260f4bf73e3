package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.{DedupOps, DimOps, Tables, TextOps}

/** DuckDB-oracle entries for the streaming maintainers — the
  * correctness story the rest of the engine already has, applied to
  * [[EventStreams]]: each entry REPLAYS a deterministic multi-batch
  * sequence through the REAL streaming query (MemoryStream source →
  * `writeStream.foreachBatch` → warehouse tables, exactly the
  * production path minus the network), then returns the maintained
  * END STATE as a DataFrame the driver hash-compares against a DuckDB
  * derivation of the same fold computed batch-free from the raw
  * parquet. A bug anywhere in the streaming path — a dropped batch, a
  * double-applied replay, a stale relation-cache read, a wrong merge —
  * diverges the final table and fails the hash.
  *
  * Replay-harness shape vs 100 TB: the `collect()` calls below feed
  * the in-memory SOURCE with the sf-bounded fixture (the same thing
  * the ScalaTest specs do) — they are the test harness's stand-in for
  * `readStream` on files/Kafka, not part of any maintainer. The
  * maintainers themselves stay Θ(batch) per micro-batch (see each
  * [[EventStreams]] scaladoc); nothing here adds driver state that
  * grows with the corpus.
  *
  * Batch determinism: batches are fixed predicates over stable keys
  * (doc_id ranges / c_custkey residues), each fed as ONE
  * `addData` + `processAllAvailable` round, so micro-batch boundaries
  * and ids (0, 1, 2) are identical on every run and in every
  * environment. Entries drop their state tables up front so a warm
  * re-run (Bench runs every entry several times in one session)
  * replays the full lifecycle from scratch instead of hitting the
  * previous run's end state.
  */
object StreamOracles {

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def freshWarehouse(spark: SparkSession, sfDir: String): graft.etl.Warehouse =
    new graft.etl.Warehouse(spark, tempDir("graft_stream_wh_"), sfDir)

  // ------------------------------------------------ incremental dedup
  /** Replay the corpus in three doc_id-range batches through
    * [[EventStreams.incrementalDedupStream]] and return the UNION of
    * the candidate-pair deltas it emitted. Ranges are ascending, so a
    * pair's larger member never arrives before its smaller one and
    * every corpus pair is emitted in EXACTLY the batch its second
    * member lands — the union must equal the one-shot batch operator's
    * full pair set ([[DedupOps.dedupMinhashPairsSql]] is the oracle,
    * unchanged), and any duplicate emission (a replay bug, a
    * non-idempotent index append) shows up as an extra row and fails
    * the row-count + hash compare. No `distinct` is applied across
    * batches for exactly that reason. */
  def streamIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents").select($"doc_id", $"text")
    val maxId = docs.agg(max($"doc_id")).head.getLong(0)
    val (b1, b2) = (maxId / 3, 2 * maxId / 3)
    val batches = Seq(
      docs.filter($"doc_id" <= b1),
      docs.filter($"doc_id" > b1 && $"doc_id" <= b2),
      docs.filter($"doc_id" > b2))
    val wh = freshWarehouse(spark, sfDir)
    val index = graft.etl.TableName.parse("stream.minhash_band_index")
    spark.sql(s"DROP TABLE IF EXISTS ${index.quoted}")
    // seed-empty discipline (see incrementalDedupStream's scaladoc):
    // schema only, so every data write is the batch-tagged append
    wh.writeTable(index, DedupOps.minhashBandsOf(docs.limit(0)))
    val pairsDir = tempDir("graft_stream_pairs_")
    // few source partitions: MemoryStream defaults to the session's
    // parallelism, packing each micro-batch's rows into 32 task
    // binaries whose deserialization dominated every batch stage
    // (probe: 22 s summed task-deser per entry); the harness fixture
    // is ~1.7k rows per batch.
    val input = MemoryStream[(Long, String)](spark, numPartitions = 4)
    val q = EventStreams.incrementalDedupStream(wh, index,
      input.toDF().toDF("doc_id", "text"), tempDir("graft_ckpt_dedup_")) {
      (pairs, _) => pairs.write.mode("append").parquet(pairsDir); ()
    }
    try {
      batches.foreach { b =>
        input.addData(b.collect().toSeq.map(r => (r.getLong(0), r.getString(1))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.read.parquet(pairsDir).orderBy($"d1", $"d2")
  }

  /** The streamed pair deltas must union to the batch operator's full
    * candidate set — same oracle, derived batch-free. */
  val streamIncrementalDedupSql: String = DedupOps.dedupMinhashPairsSql

  // --------------------------------------------------- heavy hitters
  /** Replay the corpus in three doc_id-residue batches through
    * [[EventStreams.heavyHittersStream]], then serve the answer the
    * state table exists to provide: the final Misra–Gries candidate
    * set recounted EXACTLY (one broadcast-semi pass over the corpus)
    * and thresholded with the STATE's `n_total` bookkeeping. The MG
    * superset guarantee makes this exact — every true ≥ φ token must
    * survive the cross-batch folds into the final state — so the
    * oracle is the plain GROUP BY + HAVING derivation; a fold that
    * loses a batch (wrong `n_total` → wrong threshold), misses the
    * replay guard, or evicts a true heavy hitter diverges the rows. */
  def streamHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents").select($"doc_id", $"text")
    val wh = freshWarehouse(spark, sfDir)
    val state = graft.etl.TableName.parse("stream.hh_state")
    spark.sql(s"DROP TABLE IF EXISTS ${state.quoted}")
    val input = MemoryStream[(Long, String)](spark, numPartitions = 4)
    val q = EventStreams.heavyHittersStream(wh, state,
      input.toDF().toDF("doc_id", "text"), tempDir("graft_ckpt_hh_"))()
    try {
      (0 until 3).foreach { i =>
        input.addData(docs.filter(pmod($"doc_id", lit(3)) === i)
          .collect().toSeq.map(r => (r.getLong(0), r.getString(1))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.catalog.refreshTable(state.quoted)
    val st = spark.table(state.quoted)
    val candidates = st.filter($"token".isNotNull).select($"token")
    // every row carries the same fold metadata; max() reads it without
    // a driver collect
    val meta = st.select(max($"n_total").as("n_total"))
    val toks = Tables.load(spark, sfDir, "documents")
      .select(explode(split(TextOps.normText($"text"), " ")).as("token"))
      .filter(length($"token") > 0)
    toks.join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy($"token").agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(meta)) // one-row metadata, broadcast NL join
      .filter($"tf" * TextOps.HeavyHitterPhiDen >=
        $"n_total" * TextOps.HeavyHitterPhiNum)
      .select($"token", $"tf", $"n_total")
      .orderBy($"tf".desc, $"token")
  }

  val streamHeavyHittersSql: String =
    s"""WITH t AS (
       |  SELECT token FROM (
       |    SELECT unnest(string_split(${TextOps.normTextSql}, ' ')) AS token FROM documents
       |  ) WHERE token <> ''
       |), n AS (SELECT COUNT(*) AS total FROM t)
       |SELECT token, CAST(COUNT(*) AS BIGINT) AS tf, CAST(total AS BIGINT) AS n_total
       |FROM t CROSS JOIN n
       |GROUP BY token, total
       |HAVING COUNT(*) * ${TextOps.HeavyHitterPhiDen} >= total * ${TextOps.HeavyHitterPhiNum}
       |ORDER BY tf DESC, token""".stripMargin

  // ------------------------------------------------------------- SCD2
  private val SD1 = "2024-01-01" // seed snapshot's open date
  private val SD2 = "2024-02-01" // batch 0: acctbal bump for key%7=3
  private val SD3 = "2024-03-01" // batch 1: segment move for key%11=5
  private val SD4 = "2024-04-01" // batch 2: second bump + new members
  private val SHi = "9999-12-31"

  /** Replay three deterministic update batches through
    * [[EventStreams.scd2Stream]] against a seeded customer dimension
    * and return the final SCD2 history. The batches overlap on
    * purpose: a key with both residues changes in batches 0 AND 1
    * (three-version history), every key%7=3 changes again in batch 2,
    * batch 1 re-delivers the then-current acctbal (so a key whose
    * segment already was MACHINERY gets a NO-OP update — the
    * attrs-equal guard must not open an empty version), and batch 2
    * introduces brand-new keys. The oracle derives the same history
    * batch-free: the per-key state TIMELINE as closed-form expressions
    * of the raw customer columns, consecutive-duplicate states removed
    * with a lag() compare (equivalent to scd2Upsert's compare-against-
    * current because a dropped state equals its predecessor), interval
    * endpoints from lead(). */
  def streamScd2Dim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cust = Tables.load(spark, sfDir, "customer")
    val wh = freshWarehouse(spark, sfDir)
    val dim = graft.etl.TableName.parse("stream.scd2_customer")
    spark.sql(s"DROP TABLE IF EXISTS ${dim.quoted}")
    val attrs = Seq("c_acctbal", "c_mktsegment")
    wh.writeTable(dim, DimOps.scd2Init(
      cust.select($"c_custkey".as("customer_key"), $"c_acctbal", $"c_mktsegment"),
      "customer_key", attrs, SD1))
    // update batches carry the FULL intended attribute state at their
    // as_of (the CDC contract scd2Upsert expects)
    val batch0 = cust.filter(pmod($"c_custkey", lit(7)) === 3)
      .select($"c_custkey", ($"c_acctbal" + lit(100.0)).as("a"),
        $"c_mktsegment".as("s"), lit(SD2).as("d"))
    val batch1 = cust.filter(pmod($"c_custkey", lit(11)) === 5)
      .select($"c_custkey",
        when(pmod($"c_custkey", lit(7)) === 3, $"c_acctbal" + lit(100.0))
          .otherwise($"c_acctbal").as("a"),
        lit("MACHINERY").as("s"), lit(SD3).as("d"))
    val batch2 = cust.filter(pmod($"c_custkey", lit(7)) === 3)
      .select($"c_custkey", ($"c_acctbal" + lit(300.0)).as("a"),
        when(pmod($"c_custkey", lit(11)) === 5, lit("MACHINERY"))
          .otherwise($"c_mktsegment").as("s"), lit(SD4).as("d"))
      .unionByName(cust.filter(pmod($"c_custkey", lit(13)) === 0)
        .select(($"c_custkey" + lit(1000000L)).as("c_custkey"),
          lit(50.0).as("a"), lit("BUILDING").as("s"), lit(SD4).as("d")))
    val input = MemoryStream[(Long, Double, String, String)](spark, numPartitions = 4)
    val q = EventStreams.scd2Stream(wh, dim, "customer_key", attrs,
      input.toDF().toDF("customer_key", "c_acctbal", "c_mktsegment", "as_of"),
      tempDir("graft_ckpt_scd2_"))()
    try {
      Seq(batch0, batch1, batch2).foreach { b =>
        input.addData(b.collect().toSeq.map(r =>
          (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.catalog.refreshTable(dim.quoted)
    spark.table(dim.quoted).orderBy($"customer_key", $"valid_from")
  }

  val streamScd2DimSql: String =
    s"""WITH timeline AS (
       |  SELECT c_custkey AS customer_key, c_acctbal, c_mktsegment, '$SD1' AS as_of
       |  FROM customer
       |  UNION ALL
       |  SELECT c_custkey, c_acctbal + 100.0, c_mktsegment, '$SD2'
       |  FROM customer WHERE c_custkey % 7 = 3
       |  UNION ALL
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 7 = 3 THEN c_acctbal + 100.0 ELSE c_acctbal END,
       |    'MACHINERY', '$SD3'
       |  FROM customer WHERE c_custkey % 11 = 5
       |  UNION ALL
       |  SELECT c_custkey, c_acctbal + 300.0,
       |    CASE WHEN c_custkey % 11 = 5 THEN 'MACHINERY' ELSE c_mktsegment END, '$SD4'
       |  FROM customer WHERE c_custkey % 7 = 3
       |  UNION ALL
       |  SELECT c_custkey + 1000000, 50.0, 'BUILDING', '$SD4'
       |  FROM customer WHERE c_custkey % 13 = 0
       |), laggy AS (
       |  SELECT customer_key, c_acctbal, c_mktsegment, as_of,
       |    LAG(c_acctbal) OVER w AS prev_a, LAG(c_mktsegment) OVER w AS prev_s
       |  FROM timeline WINDOW w AS (PARTITION BY customer_key ORDER BY as_of)
       |), changes AS (
       |  SELECT customer_key, c_acctbal, c_mktsegment, as_of FROM laggy
       |  WHERE prev_a IS NULL OR c_acctbal <> prev_a OR c_mktsegment <> prev_s
       |)
       |SELECT customer_key, c_acctbal, c_mktsegment,
       |  as_of AS valid_from,
       |  COALESCE(LEAD(as_of) OVER (PARTITION BY customer_key ORDER BY as_of), '$SHi') AS valid_to,
       |  (LEAD(as_of) OVER (PARTITION BY customer_key ORDER BY as_of) IS NULL) AS is_current
       |FROM changes
       |ORDER BY customer_key, valid_from""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_incremental_dedup" -> (streamIncrementalDedup _),
    "stream_heavy_hitters" -> (streamHeavyHitters _),
    "stream_scd2_dim" -> (streamScd2Dim _))

  val oracles: Map[String, String] = Map(
    "stream_incremental_dedup" -> streamIncrementalDedupSql,
    "stream_heavy_hitters" -> streamHeavyHittersSql,
    "stream_scd2_dim" -> streamScd2DimSql)
}
