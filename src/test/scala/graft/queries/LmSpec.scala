package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bigram LM training: exact pair counts on a planted corpus. */
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
}
