package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one entry selector every main (Bench, Verify, DumpPlan) uses. */
class SparkEntrySpec extends AnyFunSuite {

  test("select: names pick entries, absent picks all, an unknown name is refused") {
    assert(SparkEntry.select(Some(" q1_agg ,")).map(_._1) == Seq("q1_agg"))
    val all = SparkEntry.select(None).map(_._1)
    assert(all.size == SparkEntry.queries.size && all == all.sorted)
    // a typo must fail loudly, not run nothing and exit green
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some("q1_agg,q1_ag")))
    assert(e.getMessage.contains("q1_ag") && !e.getMessage.contains("q1_agg"))
  }
}
