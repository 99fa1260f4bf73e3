package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Stored inverted-index retrieval: incremental build+append answers
  * exactly like the one-shot in-memory operator, and a replayed
  * append batch changes nothing (idempotent monoid partials). */
class RetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stored index == in-memory retrieval; replayed append is a no-op") {
    val s = spark
    import s.implicits._
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_ret_spec_").toString, sfDir)
    val docs = Tables.load(spark, sfDir, "documents")
    TextOps.buildRetrievalIndex(wh, docs.filter($"doc_id" < 30), "srch.d")
    TextOps.appendRetrievalBatch(wh, docs.filter($"doc_id" >= 30), "srch.d", "b1")
    def ask() = TextOps.retrievalTopkStored(spark, "srch.d",
      TextOps.RetrievalQueries).collect().map(_.toSeq).toSeq
    val stored = ask()
    val direct = TextOps.retrievalTopk(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(stored == direct, "stored index diverged from the one-shot operator")
    // at-least-once replay of the SAME batch tag: partials unchanged
    TextOps.appendRetrievalBatch(wh, docs.filter($"doc_id" >= 30), "srch.d", "b1")
    assert(ask() == stored, "replayed append must not change the index")
    // df partials really are partial (multiple rows per common token
    // across batches) and merge at query time
    val dfRows = spark.table("`srch`.`d_df`")
      .groupBy($"token").count().filter($"count" > 1).count()
    assert(dfRows > 0, "expected per-batch df partials for shared tokens")
  }

  test("memoized stored-index entry rebuilds when the corpus changes at the same path") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ret_memo_")
    val sf = dir.toString
    def writeCorpus(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("t"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length($"text").cast("long"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$sf/documents.parquet")
    // RetrievalQueries terms appear only in corpus v1
    writeCorpus(Seq(1L -> "join the filter scan", 2L -> "window over rows"))
    val v1 = TextOps.retrievalTopkStoredEntry(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(v1.nonEmpty, "v1 corpus must produce hits")
    // regenerate the corpus AT THE SAME PATH with disjoint content:
    // the memo key carries a corpus fingerprint, so the entry must
    // REBUILD — serving v1 scores here is the silent-staleness bug
    Thread.sleep(1100)   // parquet mtime granularity can be 1 s
    writeCorpus(Seq(10L -> "completely unrelated words here",
      11L -> "nothing matching any query term"))
    val v2 = TextOps.retrievalTopkStoredEntry(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(v2 != v1,
      s"entry served memoized v1 results after the corpus changed: $v2")
  }

  test("token skip index prunes the postings scan; answers unchanged") {
    val s = spark
    import s.implicits._
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_ret_prune_").toString,
      sfDir)
    val docs = Tables.load(spark, sfDir, "documents")
    TextOps.buildRetrievalIndex(wh, docs.filter($"doc_id" < 250), "srch.p")
    TextOps.appendRetrievalBatch(wh, docs.filter($"doc_id" >= 250), "srch.p", "b1")
    val tfTable = graft.etl.TableName.parse("srch.p_tf")
    // the pruned scan plans FEWER files than the table holds (postings
    // are token-range-clustered, a narrow term set hits few ranges)...
    val terms = Seq("join")
    val pruned = graft.etl.FileSkipIndex
      .prunedScanInRange(spark, tfTable, "token", terms)
    assert(!pruned.stale, "index must be fresh right after build+append")
    assert(pruned.filesRead < pruned.filesTotal,
      s"expected pruning, read ${pruned.filesRead}/${pruned.filesTotal}")
    assert(pruned.filesRead > 0)
    // ...and reads fewer bytes end-to-end (metrics listener evidence)
    def bytesOf(body: => Unit): Long =
      graft.etl.Telemetry.scoped(spark) { scope =>
        body
        // listener events deliver async — the profile drains the bus
        scope.profile().map(_.scanBytes).getOrElse(fail("listener bus did not drain"))
      }
    val prunedBytes = bytesOf { pruned.df.count(); () }
    val fullBytes = bytesOf {
      spark.table(tfTable.quoted).filter($"token".isin(terms: _*)).count(); ()
    }
    assert(prunedBytes < fullBytes,
      s"pruned scan must read fewer bytes: $prunedBytes vs $fullBytes")
    // the pruned and full scans agree on the rows
    assert(pruned.df.count() ==
      spark.table(tfTable.quoted).filter($"token".isin(terms: _*)).count())
    // and the stored-retrieval answers stay identical to the one-shot
    val stored = TextOps.retrievalTopkStored(spark, "srch.p",
      TextOps.RetrievalQueries).collect().map(_.toSeq).toSeq
    val direct = TextOps.retrievalTopk(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(stored == direct)
  }

  test("posting file count scales with data volume, floored for pruning") {
    // tiny corpus: the floor wins (4 range files so the skip index
    // still has something to prune; 1 for appends so a small batch
    // doesn't shatter)
    val docs = Tables.load(spark, sfDir, "documents")
    assert(TextOps.postingRanges(docs, minFiles = 4) == 4)
    assert(TextOps.postingRanges(docs, minFiles = 1) == 1)
    // large input (plan-stats driven — spark.range advertises 8 B/row,
    // no data materialized): ~1.6 GB → ~64 MB per posting file. The
    // session's shuffle-partition setting (4 here) must be irrelevant.
    val big = spark.range(200L * 1000 * 1000).toDF("doc_id")
    val n = TextOps.postingRanges(big, minFiles = 4)
    assert(n >= 20 && n <= 30, s"expected ~25 files for ~1.6 GB, got $n")
    // JOIN-derived docs: the whole-plan size estimate is
    // multiplicative (~GB x ~GB), but postings volume is bounded by
    // the INPUT text — the count must come from the LEAF sizes' sum,
    // not shatter into the 16384-file cap
    val l = spark.range(100L * 1000 * 1000).toDF("doc_id")
    val r = spark.range(100L * 1000 * 1000).toDF("doc_id")
    val joined = l.join(r, "doc_id")
    val nj = TextOps.postingRanges(joined, minFiles = 4)
    assert(nj >= 20 && nj <= 40,
      s"join-derived docs must size from leaf sums (~1.6 GB), got $nj")
  }
}
