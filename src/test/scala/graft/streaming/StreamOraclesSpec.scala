package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic assertions on the stream oracle entries beyond the
  * DuckDB hash: exactly-once pair emission, stream/batch equivalence,
  * SCD2 interval integrity. Runs the full MemoryStream replays at
  * sf0.001 (the entries are their own harness). */
class StreamOraclesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stream_incremental_dedup: emitted deltas union to the batch pair set, exactly once") {
    val streamed = StreamOracles.streamIncrementalDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: no pair may be emitted by two different batches
    assert(streamed.length == streamed.distinct.length,
      "duplicate pair emission across micro-batches")
    val batch = graft.queries.DedupOps.dedupMinhashPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.toSet == batch.toSet,
      s"stream union ${streamed.length} pairs != batch ${batch.length}")
    spark.catalog.clearCache()
  }

  test("stream_heavy_hitters: state-served answer equals the batch two-pass operator") {
    val streamed = StreamOracles.streamHeavyHitters(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val batch = graft.queries.TextOps.textHeavyHitters(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(streamed.toSeq == batch.toSeq)
    spark.catalog.clearCache()
  }

  test("stream_scd2_dim: versions tile [seed, 9999-12-31) with one current row per key") {
    val rows = StreamOracles.streamScd2Dim(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(3), r.getString(4), r.getBoolean(5)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    var multiVersionKeys = 0
    rows.foreach { case (key, versions) =>
      val sorted = versions.sortBy(_._2)
      // exactly one open row, and it is the last version
      assert(sorted.count(_._4) == 1, s"key $key: != 1 current row")
      assert(sorted.last._4 && sorted.last._3 == "9999-12-31", s"key $key")
      // intervals are contiguous: each valid_to is the next valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 == b._2,
          s"key $key: gap between ${a._3} and ${b._2}")
        case _ => ()
      }
      if (sorted.length > 2) multiVersionKeys += 1
    }
    // the overlapping batch design must actually produce 3-version
    // histories (keys hit by two+ update batches)
    assert(multiVersionKeys > 0, "no key saw more than one applied update")
    spark.catalog.clearCache()
  }
}
