package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Naive Bayes training: the trainer's sufficient statistics are
  * pinned on a planted corpus. */
class NbSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planted() = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "sports", "goal match striker goal penalty"),
      (2L, "sports", "match referee goal corner"),
      (3L, "sports", "striker penalty match"),
      (4L, "finance", "bond yield equity dividend"),
      (5L, "finance", "equity bond market dividend yield"),
      (6L, "finance", "market yield bond"),
      (7L, "science", "quark photon neutrino lab"),
      (8L, "science", "photon lab experiment quark"),
      (9L, "science", "neutrino experiment photon")
    ).toDF("doc_id", "lang", "text")
  }

  test("trainer emits exact per-class sufficient statistics") {
    val s = spark
    import s.implicits._
    val model = TextOps.nbTrain(planted(), "lang", "text")
    val rows = model.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    // hand-counted: 'goal' appears 3x in sports; sports has 3 docs and
    // 12 token occurrences
    assert(rows.contains(("sports", "goal", 3L, 3L, 12L)))
    assert(rows.contains(("finance", "bond", 3L, 3L, 12L)))
    // no cross-class contamination: 'goal' has no finance/science row
    assert(rows.count(_._2 == "goal") == 1)
    // ordered by (class, token) for the oracle hash
    assert(rows.sortBy(r => (r._1, r._2)).toSeq == rows.toSeq)
  }
}
