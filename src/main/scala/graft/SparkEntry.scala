package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator from SURVEY.md §2
  * (plus the LLM-pipeline operator set); `oracleSql` holds the
  * DuckDB-equivalent ANSI SQL for each hash-checked entry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SqlSurface.q1Agg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SqlSurface.queries ++ EtlOps.queries ++ TextOps.queries ++
      DedupOps.queries ++ AnnOps.queries ++ MultimodalOps.queries ++
      RangeJoinOps.queries ++ DimOps.queries ++ FuzzyJoin.queries ++
      MvOps.queries ++ GraphOps.queries ++ graft.etl.DemoDag.queries ++
      graft.streaming.StreamOracles.queries

  /** The entries named by a comma-separated list (`SPARK_GRAFT_ONLY`
    * for Bench and Verify, DumpPlan's third argument), sorted by name;
    * every entry when the list is absent or empty. An unknown name is
    * refused: a typo would otherwise run nothing and exit green. */
  def select(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = only.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    queries.toSeq.filter { case (n, _) => names.isEmpty || names(n) }.sortBy(_._1)
  }

  def oracleSql: Map[String, String] =
    SqlSurface.oracles ++ EtlOps.oracles ++ TextOps.oracles ++
      DedupOps.oracles ++ AnnOps.oracles ++ MultimodalOps.oracles ++
      RangeJoinOps.oracles ++ DimOps.oracles ++ FuzzyJoin.oracles ++
      MvOps.oracles ++ GraphOps.oracles ++ graft.etl.DemoDag.oracles ++
      graft.streaming.StreamOracles.oracles
}
