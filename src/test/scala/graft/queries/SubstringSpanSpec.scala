package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the duplicated-substring span detector
  * ([[DedupOps.substringSpansOf]] — the distributed ExactSubstr of
  * Lee et al. 2021) on planted fixtures where the expected maximal
  * spans are known by construction. */
class SubstringSpanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // 12 distinct filler words so fillers never collide into 5-grams
  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  private def spans(docs: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    DedupOps.substringSpansOf(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  test("a shared 8-token run is found as one maximal span in both docs") {
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      1L -> s"${words("u", 6)} $shared ${words("v", 6)}",
      2L -> s"${words("x", 3)} $shared ${words("y", 9)}")
    val out = spans(docs)
    // doc 1: tokens 6..13 shared -> grams at 6..9 -> span [6, 13]
    // doc 2: tokens 3..10 shared -> grams at 3..6 -> span [3, 10]
    assert(out == Seq((1L, 6L, 13L, 8L), (2L, 3L, 10L, 8L)))
  }

  test("a repeat shorter than K tokens is invisible (the resolution bound)") {
    val short = "red green blue taupe" // 4 tokens < K=5: no shared 5-gram
    val docs = Seq(
      1L -> s"${words("u", 6)} $short ${words("v", 6)}",
      2L -> s"${words("x", 6)} $short ${words("y", 6)}")
    assert(spans(docs).isEmpty)
  }

  test("two separated duplicated regions stay two islands; adjacent merge") {
    val a = "alpha bravo charlie delta echo"     // 5 tokens
    val b = "kilo lima mike november oscar"      // 5 tokens
    val docs = Seq(
      // a ... gap(7) ... b  ->  two islands in doc 1
      1L -> s"$a ${words("g", 7)} $b",
      // the same regions elsewhere so both are duplicated
      2L -> s"${words("p", 4)} $a ${words("q", 8)} $b")
    val out = spans(docs)
    assert(out == Seq(
      (1L, 0L, 4L, 5L), (1L, 12L, 16L, 5L),
      (2L, 4L, 8L, 5L), (2L, 17L, 21L, 5L)))
    // butt the two regions together in a third doc: they merge into
    // one contiguous maximal span (islands merge on adjacency, and
    // the bridging grams across the boundary are NOT required)
    val out2 = spans(docs :+ (3L -> s"$a $b"))
    assert(out2.filter(_._1 == 3L) == Seq((3L, 0L, 9L, 10L)))
  }

  test("intra-document repetition counts as duplication (suffix-array parity)") {
    val rep = "sierra tango uniform victor whiskey"
    val docs = Seq(1L -> s"$rep ${words("m", 6)} $rep")
    val out = spans(docs)
    assert(out == Seq((1L, 0L, 4L, 5L), (1L, 11L, 15L, 5L)))
  }
}
