package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bigram LM train + perplexity: exact pair counts on a planted
  * corpus, and the CCNet-style filter property — in-distribution text
  * scores LOWER perplexity than shuffled/unseen text under the same
  * model. */
class LmSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("trainer emits exact bigram sufficient statistics") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "x")   // single token: no bigrams, dropped
    ).toDF("doc_id", "text")
    val m = TextOps.lmTrain(docs, "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // 'the cat' appears twice; 'the' starts 3 bigrams total
    assert(m.contains(("the", "cat", 2L, 3L)))
    assert(m.contains(("on", "the", 1L, 1L)))
    assert(!m.exists(_._1 == "x"), "a one-token doc contributes nothing")
    // continuation totals are consistent: sum of n per tok == n_tok
    m.groupBy(_._1).foreach { case (tok, rows) =>
      assert(rows.map(_._3).sum == rows.head._4, s"inconsistent n_tok for $tok")
    }
    assert(m.sortBy(r => (r._1, r._2)).toSeq == m.toSeq, "ordered output")
  }

  test("perplexity separates in-distribution from out-of-distribution text") {
    val s = spark
    import s.implicits._
    val train = Seq.tabulate(20)(i =>
      (i.toLong, "alpha beta gamma delta alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val model = TextOps.lmTrain(train, "text")
    val test = Seq(
      (100L, "alpha beta gamma delta alpha beta"),   // in-distribution
      (101L, "delta gamma beta alpha delta gamma"),  // reversed transitions
      (102L, "zz qq ww ee rr tt")                    // fully unseen
    ).toDF("doc_id", "text")
    val ppl = TextOps.lmPerplexity(test, model, "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the guarantee is in-distribution < both OOD forms; the two OOD
    // forms are NOT ordered between themselves (with a tiny vocab the
    // unseen-token backoff 1/V can beat wrong-transition 1/(n_tok+V))
    assert(ppl(100L) < ppl(101L), s"$ppl")
    assert(ppl(100L) < ppl(102L), s"$ppl")
    // deterministic across runs
    val again = TextOps.lmPerplexity(test, model, "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == ppl)
  }
}
