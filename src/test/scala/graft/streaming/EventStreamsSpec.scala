package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class EventStreamsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("hourlyCounts: watermarked tumbling windows close and emit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF.toDF("ts", "event_type", "value")
    val q = EventStreams.hourlyCounts(events).writeStream
      .format("memory").queryName("hourly_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:45:00"), "click", 2.0),
      (ts("2024-01-01 11:10:00"), "view", 5.0))
    q.processAllAvailable()
    // advance the watermark far enough to close the 10:00 window
    input.addData((ts("2024-01-01 14:00:00"), "click", 0.0))
    q.processAllAvailable()
    val rows = spark.table("hourly_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    q.stop()
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
  }

  test("rangeJoinStream: streamed points attach to static intervals per batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val intervals = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")),
      (1L, 11L, ts("2024-01-01 11:00:00"), ts("2024-01-01 13:00:00")),
      (2L, 20L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("user_id", "iid", "lo", "hi")
    val input = MemoryStream[(Long, Long, Timestamp)]
    val points = input.toDF.toDF("user_id", "pid", "t")
    val q = EventStreams.rangeJoinStream(points, intervals,
      Seq("user_id"), "t", "lo", "hi", widthSec = 3600).writeStream
      .format("memory").queryName("rj_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: one point in the overlap of both user-1 intervals, one
    // outside every window, one matching user 2
    input.addData(
      (1L, 100L, ts("2024-01-01 11:30:00")),
      (1L, 101L, ts("2024-01-01 14:00:00")),
      (2L, 200L, ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    // batch 2: boundary semantics — hi is exclusive, lo inclusive
    input.addData(
      (1L, 102L, ts("2024-01-01 12:00:00")),
      (2L, 201L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    val got = spark.table("rj_out")
      .select("iid", "pid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(got == Set((10L, 100L), (11L, 100L), (20L, 200L),
      (11L, 102L), (20L, 201L)), s"got $got")
  }

  test("attributionJoinStream: stream-stream join spans batches within the horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.attributionJoinStream(
      clicks.toDF.toDF("user_id", "ts", "event_id"),
      purchases.toDF.toDF("user_id", "ts", "event_id")).writeStream
      .format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: clicks only — buffered as join state
    clicks.addData(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (2L, ts("2024-01-01 08:00:00"), 200L))
    q.processAllAvailable()
    // batch 2: user 1's purchase is 30 min after its click (inside the
    // 1h horizon, MUST join across micro-batches); user 2's purchase is
    // 3h after its click (outside); user 3 never clicked
    purchases.addData(
      (1L, ts("2024-01-01 10:30:00"), 1000L),
      (2L, ts("2024-01-01 11:00:00"), 2000L),
      (3L, ts("2024-01-01 10:30:00"), 3000L))
    q.processAllAvailable()
    // batch 3: a second user-1 click, then a purchase that matches BOTH
    // user-1 clicks still inside the horizon
    clicks.addData((1L, ts("2024-01-01 10:40:00"), 101L))
    q.processAllAvailable()
    purchases.addData((1L, ts("2024-01-01 10:50:00"), 1001L))
    q.processAllAvailable()
    val got = spark.table("attr_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(got == Set((1000L, 100L), (1001L, 100L), (1001L, 101L)),
      s"got $got")
  }

  test("attributionJoinStream leftOuter: unmatched purchases null-pad after the horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.attributionJoinStream(
      clicks.toDF.toDF("user_id", "ts", "event_id"),
      purchases.toDF.toDF("user_id", "ts", "event_id"),
      joinType = "leftOuter").writeStream
      .format("memory").queryName("attr_outer_out")
      .outputMode(OutputMode.Append()).start()
    // user 1 clicked then purchased (matched); user 3 purchased with
    // NO click anywhere in the horizon (must survive, null-padded)
    clicks.addData((1L, ts("2024-01-01 10:00:00"), 100L))
    purchases.addData(
      (1L, ts("2024-01-01 10:30:00"), 1000L),
      (3L, ts("2024-01-01 10:30:00"), 3000L))
    q.processAllAvailable()
    // BEFORE the watermark passes, the unmatched purchase is still
    // held in state — a click for it could yet arrive
    val early = spark.table("attr_outer_out")
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(!early.contains(3000L),
      s"outer row emitted before the horizon passed: $early")
    // advance BOTH watermarks past p_ts + horizon; the held purchase
    // can no longer match and must emit with a null click
    clicks.addData((9L, ts("2024-01-01 14:00:00"), 900L))
    purchases.addData((9L, ts("2024-01-01 14:00:00"), 9000L))
    q.processAllAvailable()
    // one more empty-ish batch lets the outer-row eviction flush
    clicks.addData((9L, ts("2024-01-01 15:00:00"), 901L))
    purchases.addData((9L, ts("2024-01-01 15:00:00"), 9001L))
    q.processAllAvailable()
    val rows = spark.table("attr_outer_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq
    q.stop()
    // matched purchase unchanged; unmatched emitted exactly once,
    // null-padded, after the horizon passed
    assert(rows.contains((1000L, Some(100L))), s"matched row lost: $rows")
    assert(rows.count(_ == ((3000L, None))) == 1,
      s"unmatched purchase must emit exactly once, null-padded: $rows")
  }

  test("heavyHittersStream: mergeable MG state with guarantee, replay no-op, bounded size") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val whDir = java.nio.file.Files.createTempDirectory("graft_hh_wh_").toString
    val wh = new graft.etl.Warehouse(spark, whDir, "/root/testdata/sf0.001")
    val state = graft.etl.TableName.parse("hh.state")
    val k = 5
    // skewed vocabulary: 'alpha' dominates, tail words are rare
    def doc(words: String*) = words.mkString(" ")
    val b0 = Seq((1L, doc(Seq.fill(30)("alpha") ++ Seq.fill(10)("beta") ++
      Seq("t1", "t2", "t3", "t4", "t5", "t6"): _*))).toDF("doc_id", "text")
    val b1 = Seq((2L, doc(Seq.fill(25)("alpha") ++ Seq.fill(12)("gamma") ++
      Seq("t7", "t8", "t9", "t10"): _*))).toDF("doc_id", "text")
    assert(EventStreams.applyHeavyHitterBatch(wh, state, b0, 0L, k))
    // replay of the SAME batch id is a no-op (at-least-once safety)
    val afterB0 = spark.table(state.quoted).collect().map(_.toSeq).toSet
    assert(!EventStreams.applyHeavyHitterBatch(wh, state, b0, 0L, k))
    assert(spark.table(state.quoted).collect().map(_.toSeq).toSet == afterB0)
    assert(EventStreams.applyHeavyHitterBatch(wh, state, b1, 1L, k))
    val st = spark.table(state.quoted)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // exact truth over both batches (hhTokens is the shared tokenizer)
    val exact: Map[String, Long] = Seq(b0, b1)
      .flatMap(df => graft.queries.TextOps.hhTokens(df).collect())
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = exact.values.sum
    assert(st.head._3 == n, "n_total tracks the whole stream")
    assert(st.size <= k, "state never exceeds k rows")
    // superset guarantee: every token with freq > n/(k+1) is present
    val mustHave = exact.filter(_._2 > n / (k + 1)).keySet
    assert(mustHave.nonEmpty && mustHave.subsetOf(st.map(_._1).toSet),
      s"missing guaranteed hitters: ${mustHave -- st.map(_._1).toSet}")
    // residuals under-count by at most n/(k+1), never over-count
    st.foreach { case (t, c, _) =>
      val ex = exact.getOrElse(t, 0L)
      assert(c <= ex && ex - c <= n / (k + 1), s"$t: mg=$c exact=$ex")
    }
    // end-to-end through a real stream: same fold, driven by foreachBatch
    val wh2 = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_hh_wh2_").toString,
      "/root/testdata/sf0.001")
    val state2 = graft.etl.TableName.parse("hh.state2")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.heavyHittersStream(wh2, state2,
      input.toDF.toDF("doc_id", "text"),
      java.nio.file.Files.createTempDirectory("graft_hh_ck_").toString, k)()
    input.addData((1L, doc(Seq.fill(20)("alpha") ++ Seq("x1", "x2"): _*)))
    q.processAllAvailable()
    input.addData((2L, doc(Seq.fill(15)("alpha") ++ Seq("x3"): _*)))
    q.processAllAvailable()
    // batch 2: a THIRD batch through the same cloned session — the
    // relation cache primed in batch 1 must not serve batch 2 a stale
    // pre-batch-1 state (n_total would read 22+11=33 instead of 49)
    input.addData((3L, doc(Seq.fill(10)("alpha") ++ Seq("x4"): _*)))
    q.processAllAvailable()
    q.stop()
    val st2 = spark.table(state2.quoted)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(st2.head._3 == 49L,
      s"third batch must fold against batch 1's state, not a stale cache: $st2")
    assert(st2.exists(_._1 == "alpha"), s"alpha must survive: $st2")
  }

  test("heavyHittersStream: an all-cancel merge keeps n_total and batch_id (sentinel row)") {
    val s = spark
    import s.implicits._
    val whDir = java.nio.file.Files.createTempDirectory("graft_hhs_wh_").toString
    val wh = new graft.etl.Warehouse(spark, whDir, "/root/testdata/sf0.001")
    val state = graft.etl.TableName.parse("hh.state_sentinel")
    val k = 3
    // k+1 distinct singletons: every MG counter cancels, the summary
    // is EMPTY — n_total and the applied batch id must survive via
    // the null-token sentinel or the error bound's denominator resets
    // and a replay double-applies
    val b0 = Seq((1L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    assert(EventStreams.applyHeavyHitterBatch(wh, state, b0, 0L, k))
    val rows0 = spark.table(state.quoted).collect()
    assert(rows0.length == 1 && rows0.head.isNullAt(0) &&
      rows0.head.getLong(2) == 4L, rows0.mkString(", "))
    // replay of batch 0 is still a no-op
    assert(!EventStreams.applyHeavyHitterBatch(wh, state, b0, 0L, k))
    // the next batch folds against the surviving n_total
    val b1 = Seq((2L, "alpha alpha alpha alpha alpha")).toDF("doc_id", "text")
    assert(EventStreams.applyHeavyHitterBatch(wh, state, b1, 1L, k))
    val st = spark.table(state.quoted).collect()
      .filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(st.exists(_._1 == "alpha"), st.toString)
    assert(st.head._3 == 9L, s"n_total must accumulate through the sentinel: $st")
  }

  test("skipIndexStream: appended batches become prunable; index never lies") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.{FileSkipIndex, TableName, Warehouse}
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_sis_wh_").toString,
      "/root/testdata/sf0.001")
    val t = TableName.parse("skip.stream_vals")
    wh.writeTable(t, spark.range(0, 100).select($"id".as("v")).coalesce(1))
    FileSkipIndex.build(wh, t, Seq("v"))
    val input = MemoryStream[Long]
    val q = EventStreams.skipIndexStream(wh, t, Seq("v"),
      input.toDF.toDF("v"),
      java.nio.file.Files.createTempDirectory("graft_sis_ck_").toString)
    input.addData(1000L, 1001L)
    q.processAllAvailable()
    input.addData(2000L)
    q.processAllAvailable()
    q.stop()
    // the streamed batches are reachable through a PRUNED scan that
    // skips the seed file entirely
    val p = FileSkipIndex.prunedScan(spark, t, "v",
      org.apache.spark.sql.functions.lit(1000L),
      org.apache.spark.sql.functions.lit(2500L))
    assert(!p.stale, "index must be current after the stream")
    assert(p.filesRead < p.filesTotal, s"${p.filesRead}/${p.filesTotal}")
    assert(p.df.orderBy($"v").collect().map(_.getLong(0)).toSeq ==
      Seq(1000L, 1001L, 2000L))
  }

  test("retrievalIndexStream: streamed docs become searchable; equals batch index") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.Warehouse
    import graft.queries.{Tables, TextOps}
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val queriesSpec = Seq(1L -> "data model layer", 2L -> "quick brown fox")
    // batch ground truth: one-shot index over the full corpus
    val whB = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_rets_whb_").toString, sfDir)
    TextOps.buildRetrievalIndex(whB,
      docs.toDF("doc_id", "text"), "search.batch_docs")
    val expected = TextOps.retrievalTopkStored(spark, "search.batch_docs",
      queriesSpec).collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty)
    // streaming: same corpus in three micro-batches
    val whS = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_rets_whs_").toString, sfDir)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.retrievalIndexStream(whS, "search.stream_docs",
      input.toDF.toDF("doc_id", "text"),
      java.nio.file.Files.createTempDirectory("graft_rets_ck_").toString)
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    Seq(b1, b2, b3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = TextOps.retrievalTopkStored(spark, "search.stream_docs",
      queriesSpec).collect().map(_.toSeq).toSeq
    assert(got == expected, "streamed index must answer exactly like batch")
    // a replayed batch tag is a no-op: re-append batch 2 under its tag
    TextOps.appendRetrievalBatch(whS, b2.toDF("doc_id", "text"),
      "search.stream_docs", "ret-batch-1")
    val replayed = TextOps.retrievalTopkStored(spark, "search.stream_docs",
      queriesSpec).collect().map(_.toSeq).toSeq
    assert(replayed == expected, "replay must not change scores")
  }

  test("erIndexStream: streamed records resolve to the batch golden records") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.Warehouse
    import graft.queries.{FuzzyJoin, Tables}
    val sfDir = "/root/testdata/sf0.001"
    val names = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey".as("id"), $"c_name".as("name"))
    val rows = names.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = FuzzyJoin.goldenRecordsOf(names).collect().map(_.toSeq).toSeq
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_ers_wh_").toString, sfDir)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.erIndexStream(wh, "ers.cust",
      input.toDF.toDF("id", "name"),
      java.nio.file.Files.createTempDirectory("graft_ers_ck_").toString)()
    val (b1, rest) = rows.splitAt(rows.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    Seq(b1, b2, b3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = FuzzyJoin.erServeGoldenRecords(spark, "ers.cust")
      .collect().map(_.toSeq).toSeq
    assert(got == expected,
      "streamed entity index must equal the one-shot batch resolution")
    // at-least-once: replay batch 1's tag through the batch API
    FuzzyJoin.erIndexAppend(wh, b2.toDF("id", "name"), "ers.cust", "er-b1")
    assert(FuzzyJoin.erServeGoldenRecords(spark, "ers.cust")
      .collect().map(_.toSeq).toSeq == expected, "replay must converge")
  }

  test("incrementalViewStream: streamed facts joined to a static dim equal the batch join") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.{TableName, Warehouse}
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_mv_wh_").toString,
      "/root/testdata/sf0.001")
    val t = TableName.parse("mart.fact_enriched_s")
    val dim = Seq((1L, "gold"), (2L, "silver"), (3L, "bronze"))
      .toDF("k", "tier")
    val enrich: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      facts => facts.join(dim.hint("shuffle_hash"), facts("dk") === dim("k"))
        .select(facts("fid"), facts("dk"), dim("tier"))
    val input = MemoryStream[(Long, Long)]
    val q = EventStreams.incrementalViewStream(wh, t, enrich,
      input.toDF.toDF("fid", "dk"),
      java.nio.file.Files.createTempDirectory("graft_mv_ck_").toString)
    val facts = (0L until 30L).map(i => (i, i % 4 + 1)) // dk=4 has no dim row
    facts.grouped(10).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = spark.table(t.quoted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val expected = facts.toDF("fid", "dk")
      .join(dim, $"dk" === $"k").select($"fid", $"dk", $"tier").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(got == expected, "streamed view must equal the batch join")
    // replaying a batch tag is a no-op
    assert(!wh.appendToTableIdempotent(t,
      enrich(facts.take(10).toDF("fid", "dk")), "mv-batch-0"))
    assert(spark.table(t.quoted).count() == expected.length.toLong)
  }

  test("valueHistogramStream: stored rollup converges to the batch histogram") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.DimOps
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_vh_wh_").toString,
      "/root/testdata/sf0.001")
    val table = graft.etl.TableName.parse("rollup.stream_hist")
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = EventStreams.valueHistogramStream(wh, table,
      input.toDF.toDF("ts", "event_type", "value"),
      java.nio.file.Files.createTempDirectory("graft_vh_ck_").toString)
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 10:00:00")
    val all = Seq(
      (ts("2024-01-01"), "click", 1.23), (ts("2024-01-01"), "click", 4.56),
      (ts("2024-01-01"), "view", 0.5), (ts("2024-01-02"), "click", 1.27),
      (ts("2024-01-02"), "view", 99.9), (ts("2024-01-02"), "view", 0.55))
    input.addData(all.take(3): _*)
    q.processAllAvailable()
    input.addData(all.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      DimOps.histQuantiles(df).collect().map(_.toSeq).toSeq
    // the streamed store answers quantiles exactly like the batch
    // histogram over the same events (integer monoid convergence)
    val batchHist = DimOps.valueHistogram(
      all.toDF("ts", "event_type", "value"))
    assert(rows(spark.table(table.quoted)) == rows(batchHist))
    // bins with equal values collapsed identically: 1.23 and 1.27
    // share bin 12 across DIFFERENT batches
    val bin12 = spark.table(table.quoted)
      .filter($"event_type" === "click" && $"bin" === 12L)
      .agg(org.apache.spark.sql.functions.sum($"n")).collect()(0).getLong(0)
    assert(bin12 == 2L)
  }

  test("decontaminateStream: batch-parity drop decisions, stateless plan, hits ride along") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val bloom = graft.queries.DedupOps.evalShingleBloom(spark, sfDir)
    // ground truth: the batch operator's flagged corpus docs
    val flagged = graft.queries.DedupOps.dedupDecontaminate(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter($"doc_id" >= graft.queries.DedupOps.EvalDocMax)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(flagged.nonEmpty, "fixture has no contaminated docs — parity vacuous")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.decontaminateStream(
      input.toDF.toDF("doc_id", "text"), bloom).writeStream
      .format("memory").queryName("decon_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(corpus.toIndexedSeq)
    q.processAllAvailable()
    val kept = spark.table("decon_out").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    q.stop()
    // parity: exactly the batch-flagged docs are dropped (bloom fpp ~0
    // at fixture scale, and a false positive can only ADD hits)
    assert(kept.keySet == corpus.map(_._1).toSet -- flagged)
    // hits column is a real per-doc count: clean docs sit far below
    // the threshold on this corpus
    assert(kept.values.forall(_ < graft.queries.DedupOps.ContaminationMinShingles))
  }

  test("dedupStream keeps first arrival per fingerprint within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF.toDF("doc_id", "ts", "text")
    val q = EventStreams.dedupStream(docs).writeStream
      .format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      (1L, ts("2024-01-01 10:00:00"), "Hello,  WORLD!"),
      (2L, ts("2024-01-01 10:01:00"), "hello world"),   // same normText
      (3L, ts("2024-01-01 10:02:00"), "something else"))
    q.processAllAvailable()
    // advance the watermark to 13:00 — fp state from 10:00 (+2h
    // horizon) is evicted after this batch
    input.addData((5L, ts("2024-01-01 15:00:00"), "watermark advancer"))
    q.processAllAvailable()
    input.addData((4L, ts("2024-01-01 15:01:00"), "hello world"))
    q.processAllAvailable()
    val kept = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
    q.stop()
    // doc 2 dropped (duplicate of 1 inside the horizon); doc 4's
    // duplicate arrived beyond the watermark horizon, so it SURVIVES —
    // the documented prefilter semantics, batch dedup is ground truth
    assert(kept == Set(1L, 3L, 5L, 4L))
  }

  test("curateStream: lang+quality gate and PII redaction on a stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF.toDF("doc_id", "lang", "text")
    val q = EventStreams.curateStream(docs).writeStream
      .format("memory").queryName("curate_out")
      .outputMode(OutputMode.Append()).start()
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "runs off to the forest for a long rest in the shade of a tall tree"
    input.addData(
      (1L, "en", good + " mail me at fox@example.com or 555-123-4567"),
      (2L, "de", good),                       // dropped: lang gate
      (3L, "en", "%%% ### !!! @@@ ***"))      // dropped: quality gate
    q.processAllAvailable()
    val rows = spark.table("curate_out").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getString(4)))
    q.stop()
    assert(rows.map(_._1).toSeq == Seq(1L), s"wrong docs kept: ${rows.toSeq}")
    val (_, nPii, redacted) = rows.head
    assert(nPii == 2L)
    assert(redacted.contains("[EMAIL]") && redacted.contains("[PHONE]"))
    assert(!redacted.contains("fox@example.com") && !redacted.contains("555-123-4567"))
    // batch/stream parity: the same frame through the batch expressions
    // scores identically (shared Column functions)
    val batch = EventStreams.curateStream(
      Seq((1L, "en", good)).toDF("doc_id", "lang", "text"))
    assert(batch.count() == 1L)
  }

  test("incrementalDedupStream: micro-batches accumulate in the shared band index") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words with no overlap at all in here"
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_sdix_").toString,
      "/root/testdata/sf0.001")
    val index = graft.etl.TableName.parse("dedup.stream_band_index")
    // day 0: the batch pipeline indexed the corpus
    graft.queries.DedupOps.buildBandIndex(wh,
      Seq((1L, dup), (2L, other)).toDF("doc_id", "text"), index)
    val input = MemoryStream[(Long, String)]
    val pairs = scala.collection.mutable.Buffer[(Long, Long)]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sdck_").toString
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val q = EventStreams.incrementalDedupStream(wh, index,
      input.toDF.toDF("doc_id", "text"), ckpt) { (cands, _) =>
      pairs ++= cands.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    input.addData((401L, dup))
    q.processAllAvailable()
    assert(pairs.toSet == Set((1L, 401L)),
      s"first micro-batch must pair with the indexed corpus: $pairs")
    // the second micro-batch must see the FIRST one through the index —
    // warehouse-table state, not stream state
    input.addData((451L, dup))
    q.processAllAvailable()
    q.stop()
    assert(pairs.toSet == Set((1L, 401L), (1L, 451L), (401L, 451L)),
      s"cross-micro-batch pair missing: $pairs")
    // per-batch band caches are unpersisted once emit returns — a
    // long-running stream must not accumulate cache entries
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
      "micro-batch band caches leaked")
    // and a BATCH run against the same index sees the streamed docs too
    val batchPairs = graft.queries.DedupOps
      .incrementalAgainstIndex(wh, index, Seq((461L, dup)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs == Set((1L, 461L), (401L, 461L), (451L, 461L)),
      s"batch run must share the stream's index: $batchPairs")
  }

  test("scd2Stream: micro-batches version the warehouse dimension; batch readers share it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_scd2_wh_").toString,
      "/root/testdata/sf0.001")
    val dim = graft.etl.TableName.parse("dim.stream_customer")
    val attrs = Seq("name", "seg")
    // day 0: the batch pipeline seeded the dimension
    wh.writeTable(dim, graft.queries.DimOps.scd2Init(
      Seq((1L, "a", "X"), (2L, "b", "Y")).toDF("k", "name", "seg"),
      "k", attrs, from = "2024-01-01"))
    val input = MemoryStream[(Long, String, String, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2_ck_").toString
    val q = EventStreams.scd2Stream(wh, dim, "k", attrs,
      input.toDF.toDF("k", "name", "seg", "as_of"), ckpt)()
    // batch 1: k1 changes, k3 appears
    input.addData((1L, "a2", "X", "2024-02-01"), (3L, "c", "Z", "2024-02-01"))
    q.processAllAvailable()
    val afterOne = spark.table(dim.quoted).collect().map(_.toSeq.toList).toSet
    assert(afterOne == Set(
      List(1L, "a", "X", "2024-01-01", "2024-02-01", false),
      List(1L, "a2", "X", "2024-02-01", "9999-12-31", true),
      List(2L, "b", "Y", "2024-01-01", "9999-12-31", true),
      List(3L, "c", "Z", "2024-02-01", "9999-12-31", true)), s"got $afterOne")
    // batch 2: the SECOND change must chain off the table state batch 1
    // left behind — warehouse-table state, not stream state
    input.addData((1L, "a3", "X", "2024-03-01"))
    q.processAllAvailable()
    q.stop()
    val k1 = spark.table(dim.quoted).filter($"k" === 1L)
      .collect().map(_.toSeq.toList).toSet
    assert(k1 == Set(
      List(1L, "a", "X", "2024-01-01", "2024-02-01", false),
      List(1L, "a2", "X", "2024-02-01", "2024-03-01", false),
      List(1L, "a3", "X", "2024-03-01", "9999-12-31", true)), s"got $k1")
    // and a BATCH upsert against the same table continues the history
    val merged = graft.queries.DimOps.scd2Upsert(spark.table(dim.quoted),
      Seq((2L, "b2", "Y", "2024-04-01")).toDF("k", "name", "seg", "as_of"),
      "k", attrs)
    assert(merged.filter($"k" === 2L && $"is_current").collect()
      .map(r => (r.getString(1), r.getString(3))).toSeq == Seq(("b2", "2024-04-01")))
  }

  test("ivfIndexStream: streamed vectors extend the stored ANN index; probe matches batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_sivf_").toString, sfDir)
    val centsT = graft.etl.TableName.parse("ann.s_centroids")
    val idxT = graft.etl.TableName.parse("ann.s_index")
    val corpus = graft.queries.Tables.load(spark, sfDir, "embeddings")
    val n = corpus.count()
    val split = n / 2
    // day 0: the batch pipeline built the index over the first half
    graft.queries.AnnOps.buildIvfIndex(wh, sfDir, centsT, idxT,
      corpus.filter($"vec_id" < split))
    val rest = corpus.filter($"vec_id" >= split)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val (m1, m2) = rest.splitAt(rest.length / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sivf_ck_").toString
    val q = EventStreams.ivfIndexStream(wh, centsT, idxT,
      input.toDF.toDF("vec_id", "embedding"), ckpt)()
    input.addData(m1.toSeq: _*)
    q.processAllAvailable()
    assert(spark.table(idxT.quoted).count() == split + m1.length,
      "first micro-batch must land in the stored index")
    input.addData(m2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // streamed index must equal the one-shot batch encode of the full
    // corpus — same rows, same cells, same sq8 codes (codes checked
    // via the bit-equal probe below)
    val streamedCells = spark.table(idxT.quoted)
      .select($"vec_id", $"cell".cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedCells.size == n, s"index must cover the corpus: ${streamedCells.size} of $n")
    // and the probe over the streamed index is bit-equal to the
    // in-memory sq8 path — batch probes share the stream's index
    val probed = graft.queries.AnnOps.probeIvfIndex(spark, sfDir, centsT, idxT).collect()
    val direct = graft.queries.AnnOps.annIvfTopkSq8(spark, sfDir).collect()
    assert(probed.length == direct.length && probed.nonEmpty)
    probed.zip(direct).foreach { case (a, b) =>
      assert(a == b, s"streamed-index/direct divergence: $a vs $b")
    }
  }

  test("sessionize: 30-min gaps split sessions; timeout closes the last one") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Ev]
    val q = EventStreams.sessionize(input.toDS).writeStream
      .format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    // user 1: two events 10 min apart (one session), then a 40-min gap
    // event (second session)
    input.addData(
      EventStreams.Ev(1L, 1L, ts("2024-01-01 10:00:00")),
      EventStreams.Ev(1L, 2L, ts("2024-01-01 10:10:00")),
      EventStreams.Ev(1L, 3L, ts("2024-01-01 10:50:00")))
    q.processAllAvailable()
    // push the watermark past 10:50 + 30min gap + 1h watermark delay
    input.addData(EventStreams.Ev(2L, 9L, ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions_out").as[EventStreams.SessionOut]
      .collect().toSet
    q.stop()
    // first session: 2 events over 600s (closed by the gap);
    // second session: 1 event, closed by event-time timeout.
    assert(rows.contains(EventStreams.SessionOut(1L, 2L, 600L)))
    assert(rows.contains(EventStreams.SessionOut(1L, 1L, 0L)))
  }

  test("sessionize: a late within-watermark event never moves the session end backward") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Ev]
    val q = EventStreams.sessionize(input.toDS).writeStream
      .format("memory").queryName("sessions_late_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(EventStreams.Ev(1L, 1L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    // batch 2: a LATE event 10 min older, within the 1-hour watermark —
    // it joins the session by EXTENDING its start (the native
    // session_window merge), never by pulling the end back to 11:50
    // (negative duration, premature timeout)
    input.addData(EventStreams.Ev(1L, 2L, ts("2024-01-01 11:50:00")))
    q.processAllAvailable()
    // close by pushing the watermark past 12:00 + gap
    input.addData(EventStreams.Ev(2L, 9L, ts("2024-01-01 14:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions_late_out")
      .as[EventStreams.SessionOut].collect().toSet
    q.stop()
    assert(rows.contains(EventStreams.SessionOut(1L, 2L, 600L)),
      s"late event extends the session start, never the end backward: $rows")
  }

  test("sessionize: an event more than a gap OLDER than the open session opens its own") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Ev]
    val q = EventStreams.sessionize(input.toDS).writeStream
      .format("memory").queryName("sessions_sep_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      EventStreams.Ev(1L, 1L, ts("2024-01-01 12:00:00")),
      EventStreams.Ev(1L, 2L, ts("2024-01-01 12:05:00")))
    q.processAllAvailable()
    // a late event 45 min older than the session start — above the
    // watermark (11:05, so the operator delivers it) but more than a
    // gap older: its window [11:15, 11:45) does not overlap
    // [12:00, 12:35) — the native session_window keeps them separate,
    // so the custom state must too (folding it in because
    // ts - last <= gap is trivially true for any older ts inflates
    // the session to 50 minutes)
    input.addData(EventStreams.Ev(1L, 3L, ts("2024-01-01 11:15:00")))
    q.processAllAvailable()
    input.addData(EventStreams.Ev(2L, 9L, ts("2024-01-01 14:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions_sep_out")
      .as[EventStreams.SessionOut].collect().toSet
    q.stop()
    assert(rows == Set(
      EventStreams.SessionOut(1L, 2L, 300L),
      EventStreams.SessionOut(1L, 1L, 0L)), rows.toString)
  }

  test("sessionizeNative agrees on the detached-late-event fixture") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Ev]
    val q = EventStreams.sessionizeNative(input.toDS.toDF).writeStream
      .format("memory").queryName("sessions_sep_native_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      EventStreams.Ev(1L, 1L, ts("2024-01-01 12:00:00")),
      EventStreams.Ev(1L, 2L, ts("2024-01-01 12:05:00")))
    q.processAllAvailable()
    // same detached-late-event input as the custom-state fixture:
    // 11:15 is above the 11:05 watermark but > gap older than 12:00
    input.addData(EventStreams.Ev(1L, 3L, ts("2024-01-01 11:15:00")))
    q.processAllAvailable()
    input.addData(EventStreams.Ev(2L, 9L, ts("2024-01-01 14:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions_sep_native_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set((1L, 2L, 300L), (1L, 1L, 0L)), rows.toString)
  }

  test("sessionizeNative (session_window) matches the custom-state sessionizer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Ev]
    val q = EventStreams.sessionizeNative(input.toDS.toDF).writeStream
      .format("memory").queryName("sessions_native_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      EventStreams.Ev(1L, 1L, ts("2024-01-01 10:00:00")),
      EventStreams.Ev(1L, 2L, ts("2024-01-01 10:10:00")),
      EventStreams.Ev(1L, 3L, ts("2024-01-01 10:50:00")))
    q.processAllAvailable()
    input.addData(EventStreams.Ev(2L, 9L, ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions_native_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    // identical sessions to the custom sessionize fixture: 2-event
    // 600 s session closed by the gap, 1-event session closed by the
    // watermark passing its window
    assert(rows.contains((1L, 2L, 600L)), rows.toString)
    assert(rows.contains((1L, 1L, 0L)), rows.toString)
  }

  test("asofEnrich: purchases carry the latest prior click; state spans batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def cp(u: Long, id: Long, t: String, ty: String) =
      EventStreams.ClickOrPurchase(u, id, ts(t), ty)
    val input = MemoryStream[EventStreams.ClickOrPurchase]
    val q = EventStreams.asofEnrich(input.toDS).writeStream
      .format("memory").queryName("asof_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: user 1 clicks, purchases, clicks again, purchases again;
    // user 2 purchases with NO prior click
    input.addData(
      cp(1L, 10L, "2024-01-01 10:00:00", "click"),
      cp(1L, 11L, "2024-01-01 10:05:00", "purchase"),
      cp(1L, 12L, "2024-01-01 10:10:00", "click"),
      cp(1L, 13L, "2024-01-01 10:15:00", "purchase"),
      cp(2L, 20L, "2024-01-01 10:00:00", "purchase"))
    q.processAllAvailable()
    // batch 2: user 1 purchases again — the click STATE carries over
    input.addData(cp(1L, 14L, "2024-01-01 11:00:00", "purchase"))
    q.processAllAvailable()
    // batch 3: a LATE click OLDER than the stored one arrives within
    // the watermark — it must NOT overwrite the newer stored click
    input.addData(
      cp(1L, 15L, "2024-01-01 10:08:00", "click"),   // older than 12@10:10
      cp(1L, 16L, "2024-01-01 11:30:00", "purchase"))
    q.processAllAvailable()
    val rows = spark.table("asof_out").as[EventStreams.AsofOut]
      .collect().map(r => r.purchase_id -> r.last_click_id).toMap
    q.stop()
    assert(rows(11L).contains(10L))
    assert(rows(13L).contains(12L))
    assert(rows(20L).isEmpty)          // no prior click -> None
    assert(rows(14L).contains(12L))    // state survived the batch boundary
    assert(rows(16L).contains(12L),    // late OLDER click didn't regress it
      s"late older click must not overwrite the newer stored click: $rows")
  }

  test("asofEnrich: a purchase BEFORE the stored click matches an in-batch older click") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def cp(u: Long, id: Long, t: String, ty: String) =
      EventStreams.ClickOrPurchase(u, id, ts(t), ty)
    val input = MemoryStream[EventStreams.ClickOrPurchase]
    val q = EventStreams.asofEnrich(input.toDS).writeStream
      .format("memory").queryName("asof_back_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(cp(1L, 12L, "2024-01-01 10:10:00", "click"))
    q.processAllAvailable()
    // batch 2, out of order but within the watermark: a click at
    // 10:08 and a purchase at 10:09. The as-of contract (latest
    // click AT OR BEFORE the purchase) demands click 15@10:08 — a
    // single-scalar "last click" state cannot answer this: an
    // only-advance guard hands the purchase the FUTURE 10:10 click,
    // a blind overwrite loses 10:10 for later purchases
    input.addData(
      cp(1L, 15L, "2024-01-01 10:08:00", "click"),
      cp(1L, 16L, "2024-01-01 10:09:00", "purchase"))
    q.processAllAvailable()
    // a later purchase still sees the newest click
    input.addData(cp(1L, 17L, "2024-01-01 11:00:00", "purchase"))
    q.processAllAvailable()
    val rows = spark.table("asof_back_out").as[EventStreams.AsofOut]
      .collect().map(r => r.purchase_id -> r.last_click_id).toMap
    q.stop()
    assert(rows(16L).contains(15L),
      s"purchase@10:09 must match click@10:08, never the future 10:10: $rows")
    assert(rows(17L).contains(12L), rows.toString)
  }

  test("availableNowRefresh drains a directory once and applies each batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ck_").toString
    val s = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(dir)
    var seen = 0L
    EventStreams.availableNowRefresh(spark, dir,
      spark.read.parquet(dir).schema, ckpt) { (batch, _) =>
      seen += batch.count()
    }
    assert(seen == 2L)
  }
}
