package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-point PageRank invariants on hand-built graphs: symmetry,
  * centrality ordering, bounded mass loss from integer truncation,
  * and bit-identical re-runs (the determinism the fixed-point
  * arithmetic exists to provide). */
class GraphOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ranksOf(undirected: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val half = undirected.toDF("src", "dst")
    val edges = half.union(half.select($"dst".as("src"), $"src".as("dst")))
    val deg = edges.groupBy($"src".as("node"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("outdeg"))
    GraphOps.pagerank(edges, deg)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("cycle: perfect symmetry gives identical ranks") {
    val ranks = ranksOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(ranks.values.toSet.size == 1, ranks.toString)
  }

  test("star: the hub outranks every leaf, leaves tie") {
    val ranks = ranksOf(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    val leaves = (1L to 4L).map(ranks)
    assert(leaves.toSet.size == 1)
    assert(ranks(0L) > leaves.head,
      s"hub ${ranks(0L)} must outrank leaf ${leaves.head}")
  }

  test("mass is conserved up to integer truncation") {
    val ranks = ranksOf(Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L), (5L, 1L)))
    val total = ranks.values.sum
    val scale = 1000000000000L
    // each of the 4 iterations can only LOSE mass to truncation, and
    // at most (#nodes * 100) per round — far below this slack
    assert(total <= scale && total > scale - 1000000L, s"total=$total")
  }

  test("re-running yields bit-identical ranks") {
    val g = (1L to 40L).flatMap(i => Seq((i, (i * 7) % 41 + 1)))
    assert(ranksOf(g) == ranksOf(g))
  }
}
