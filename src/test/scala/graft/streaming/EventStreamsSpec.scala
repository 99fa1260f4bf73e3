package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class EventStreamsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

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
}
