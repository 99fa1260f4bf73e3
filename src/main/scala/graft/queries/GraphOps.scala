package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over warehouse relations — the link-quality
  * signal a web-scale curation pipeline computes next to dedup
  * (PageRank over the domain/link graph is the classic crawl-quality
  * prior). The reference has no graph operators (Redshift SQL can't
  * iterate); connected components already live in
  * [[DedupOps.connectedComponents]] — this adds power iteration.
  *
  * Determinism discipline: PageRank in floating point is
  * order-dependent across partitions, so ranks are carried as
  * FIXED-POINT BIGINT (SCALE = 1e12): contributions use integral
  * division `rank div outdeg`, the damping update is
  * `(15*init + 85*sum) div 100` — every operation is an integer op
  * with one defined answer, so Spark and the DuckDB oracle (the same
  * four iterations unrolled as plain CTEs, HUGEINT sums cast back
  * down) agree bit-for-bit, regardless of partitioning or order.
  *
  * Scale shape: per iteration one graph-sized join (contributions)
  * plus a |nodes| aggregate — the standard BSP PageRank round.
  * Edges+degrees are computed once and cached; the customer–supplier
  * bipartite graph is built from orders⋈lineitem with node ids
  * disambiguated (cust*2, supp*2+1). */
object GraphOps {

  private val Scale = 1000000000000L
  private val Iters = 4

  /** Undirected customer–supplier edge list with per-node degree. */
  private[graft] def edgesAndDegrees(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val orders = Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
    val half = orders.join(lineitem.hint("shuffle_hash"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct()
    val edges = half.union(half.select($"dst".as("src"), $"src".as("dst")))
    val deg = edges.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("outdeg"))
    (edges, deg)
  }

  /** Power iteration, fixed-point. Returns (node, rank_scaled). */
  private[graft] def pagerank(edges: DataFrame, deg: DataFrame,
                              iters: Int = Iters): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.persist()
    val d = deg.persist()
    val n = d.count()
    val init = Scale / n
    // The degree lookup is loop-INVARIANT: join it to the edge list
    // once (the subplan is identical in every round, so exchange reuse
    // executes it once) instead of re-probing a degree hash table per
    // round — one join per iteration instead of two.
    val eDeg = e.join(d.select($"node".as("dn"), $"outdeg").hint("shuffle_hash"),
        $"src" === $"dn")
      .select($"src", $"dst", $"outdeg")
    var rank = d.select($"node", lit(init).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = eDeg.join(rank.hint("shuffle_hash"), $"src" === $"node")
        .select($"dst", expr("rank div outdeg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("contrib"))
      rank = d.select($"node")
        .join(contrib.hint("shuffle_hash"), $"node" === $"dst", "left")
        .select($"node",
          expr(s"(15 * ${init}L + 85 * coalesce(contrib, 0L)) div 100")
            .as("rank"))
    }
    // Return the LAZY plan: its repeated references to the edge build
    // collapse to one execution via ReusedExchange (measured: eager
    // localCheckpoint materialization costs ~1.5× the whole query),
    // and the caches — populated by d.count() above — have served
    // their purpose once the shuffle files exist.
    val out = rank
    e.unpersist(blocking = false)
    d.unpersist(blocking = false)
    out
  }

  /** Oracle entry: 4 PageRank iterations over the customer–supplier
    * graph, bit-exact vs DuckDB's unrolled recomputation. */
  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (edges, deg) = edgesAndDegrees(spark, sfDir)
    pagerank(edges, deg).orderBy($"node")
  }

  val graphPagerankSql: String = {
    def step(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT d.node,
         |    (15 * (SELECT init FROM params)
         |     + 85 * COALESCE(c.contrib, 0)) // 100 AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM(r.rank // dg.outdeg) AS BIGINT) AS contrib
         |    FROM edges e
         |    JOIN $prev r ON e.src = r.node
         |    JOIN deg dg ON dg.node = e.src
         |    GROUP BY e.dst
         |  ) c ON c.node = d.node)""".stripMargin
    s"""WITH
       |half AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT src, dst FROM half
       |          UNION SELECT dst AS src, src AS dst FROM half),
       |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |params AS (SELECT 1000000000000 // COUNT(*) AS init FROM deg),
       |r0 AS (SELECT node, (SELECT init FROM params) AS rank FROM deg),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")},
       |${step("r3", "r4")}
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r4 ORDER BY node"""
      .stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (graphPagerank _))

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> graphPagerankSql)
}
