package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A multi-level design set over the test data, driving the whole
  * engine end-to-end: YAML designs → validation → DAG ordering →
  * staging build (COPY stand-in, CTAS with identity + NA row, VIEW) →
  * constraint checks → publish. This is the reference's `arthur load`
  * path (load.py:1131-1214) as one callable, and the basis of the
  * dag_* correctness entries. */
object DemoDag {

  val designYaml: Seq[String] = Seq(
    """name: src.orders
      |source_name: src
      |columns:
      |  - name: o_orderkey
      |    type: long
      |    not_null: true
      |  - name: o_custkey
      |    type: long
      |    not_null: true
      |  - name: o_orderdate
      |    type: timestamp
      |  - name: o_totalprice
      |    type: double
      |  - name: o_orderstatus
      |    type: string
      |constraints:
      |  - primary_key: [o_orderkey]
      |""".stripMargin,
    """name: src.lineitem
      |source_name: src
      |columns:
      |  - name: l_orderkey
      |    type: long
      |    not_null: true
      |  - name: l_linenumber
      |    type: int
      |    not_null: true
      |  - name: l_extendedprice
      |    type: double
      |  - name: l_discount
      |    type: double
      |""".stripMargin,
    """name: src.customer
      |source_name: src
      |columns:
      |  - name: c_custkey
      |    type: long
      |    not_null: true
      |  - name: c_name
      |    type: string
      |  - name: c_nationkey
      |    type: int
      |    not_null: true
      |  - name: c_mktsegment
      |    type: string
      |constraints:
      |  - primary_key: [c_custkey]
      |""".stripMargin,
    """name: src.nation
      |source_name: src
      |columns:
      |  - name: n_nationkey
      |    type: int
      |    not_null: true
      |  - name: n_name
      |    type: string
      |constraints:
      |  - primary_key: [n_nationkey]
      |""".stripMargin,
    """name: rep.dim_customer
      |source_name: CTAS
      |depends_on: [src.customer, src.nation]
      |columns:
      |  - name: customer_key
      |    type: long
      |    not_null: true
      |  - name: c_name
      |    type: string
      |  - name: c_mktsegment
      |    type: string
      |    not_null: true
      |  - name: n_name
      |    type: string
      |    not_null: true
      |constraints:
      |  - primary_key: [customer_key]
      |query: >
      |  SELECT c_custkey AS customer_key, c_name, c_mktsegment, n_name
      |  FROM src.customer JOIN src.nation ON c_nationkey = n_nationkey
      |""".stripMargin,
    """name: rep.fact_order_line
      |source_name: CTAS
      |depends_on: [src.lineitem, src.orders]
      |columns:
      |  - name: order_line_key
      |    type: long
      |    not_null: true
      |    identity: true
      |  - name: o_orderkey
      |    type: long
      |    not_null: true
      |  - name: l_linenumber
      |    type: int
      |    not_null: true
      |  - name: customer_key
      |    type: long
      |    not_null: true
      |  - name: gross_revenue
      |    type: double
      |constraints:
      |  - surrogate_key: [order_line_key]
      |attributes:
      |  compound_sort: [o_orderkey, l_linenumber]
      |query: >
      |  SELECT o_orderkey, l_linenumber, o_custkey AS customer_key,
      |    CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS DOUBLE) AS gross_revenue
      |  FROM src.lineitem JOIN src.orders ON l_orderkey = o_orderkey
      |""".stripMargin,
    """name: rep.v_order_revenue
      |source_name: VIEW
      |depends_on: [rep.fact_order_line]
      |columns:
      |  - name: customer_key
      |  - name: gross_revenue
      |query: >
      |  SELECT customer_key, gross_revenue FROM rep.fact_order_line
      |""".stripMargin,
    """name: rep.sales_by_segment
      |source_name: CTAS
      |depends_on: [rep.v_order_revenue, rep.dim_customer]
      |columns:
      |  - name: c_mktsegment
      |    type: string
      |    not_null: true
      |  - name: n_lines
      |    type: long
      |    not_null: true
      |  - name: revenue
      |    type: double
      |constraints:
      |  - primary_key: [c_mktsegment]
      |query: >
      |  SELECT d.c_mktsegment, COUNT(*) AS n_lines,
      |    CAST(SUM(CAST(f.gross_revenue AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |  FROM rep.v_order_revenue f JOIN rep.dim_customer d ON f.customer_key = d.customer_key
      |  GROUP BY d.c_mktsegment
      |""".stripMargin)

  def relations: Seq[Relation] =
    designYaml.map(y => Relation(TableDesign.load(y)))

  private def freshWarehouse(spark: SparkSession, sfDir: String): Warehouse =
    new Warehouse(spark,
      Files.createTempDirectory("graft_wh_").toString, sfDir)

  /** The DAG ordering itself, hash-checked: identifier, total order,
    * parallelism level (D1). */
  def dagLoadOrder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Dag.orderByDependencies(relations)
      .map(r => (r.identifier, r.executionOrder, r.executionLevel))
      .toDF("identifier", "execution_order", "execution_level")
      .orderBy($"execution_order")
  }

  val dagLoadOrderSql: String = {
    // Independent hand-computed expectation (the input declaration
    // order is orders, lineitem, customer, nation, dim, fact, view,
    // final — sources are level 1 ties broken by position).
    val rows = Seq(
      ("src.orders", 1, 1), ("src.lineitem", 2, 1), ("src.customer", 3, 1),
      ("src.nation", 4, 1), ("rep.dim_customer", 5, 2),
      ("rep.fact_order_line", 6, 2), ("rep.v_order_revenue", 7, 3),
      ("rep.sales_by_segment", 8, 4))
      .map { case (i, o, l) => s"('$i', $o, $l)" }.mkString(", ")
    s"""SELECT identifier, CAST(execution_order AS INT) AS execution_order,
       |  CAST(execution_level AS INT) AS execution_level
       |FROM (VALUES $rows) t(identifier, execution_order, execution_level)
       |ORDER BY execution_order""".stripMargin
  }

  /** Full lifecycle: staging build of every relation → publish →
    * read the PUBLISHED standard-position dimension (with its T3 NA
    * row, typed per design). */
  def dagDimCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wh = freshWarehouse(spark, sfDir)
    val subset = relations.filter(r => Set("src.customer", "src.nation",
      "rep.dim_customer").contains(r.identifier))
    wh.loadWithStagingAndPublish(subset)
    spark.table("`rep`.`dim_customer`").orderBy($"customer_key")
  }

  val dagDimCustomerSql: String =
    """SELECT * FROM (
      |  SELECT c_custkey AS customer_key, c_name, c_mktsegment, n_name
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT CAST(0 AS BIGINT), NULL, 'N/A', 'N/A'
      |) ORDER BY customer_key""".stripMargin

  /** Full DAG to the final table: sources (COPY stand-in with design
    * schema enforcement) → dim (NA row) + fact (identity) → view →
    * aggregate CTAS, all in staging, then published. */
  def dagFinalTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wh = freshWarehouse(spark, sfDir)
    wh.loadWithStagingAndPublish(relations)
    spark.table("`rep`.`sales_by_segment`").orderBy($"c_mktsegment")
  }

  val dagFinalTableSql: String =
    """WITH dim AS (
      |  SELECT c_custkey AS customer_key, c_mktsegment
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL SELECT 0, 'N/A'
      |), fact AS (
      |  SELECT o_custkey AS customer_key,
      |    CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS DOUBLE) AS gross_revenue
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)
      |SELECT d.c_mktsegment, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(f.gross_revenue AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM fact f JOIN dim d ON f.customer_key = d.customer_key
      |GROUP BY d.c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Writes the design set in the CLI's
    * `schemas/{schema}/{source}-{table}.yaml` layout under `root`. */
  def writeDesigns(root: Path): Unit = designYaml.foreach { yaml =>
    val d = TableDesign.load(yaml)
    val source = if (d.isSourceTable) d.sourceName else d.name.schema
    val file = root.resolve(s"schemas/${d.name.schema}/$source-${d.name.table}.yaml")
    Files.createDirectories(file.getParent)
    Files.write(file, yaml.getBytes(UTF_8))
  }

  /** A few rows per source table as `dir/{table}.parquet`, typed as the
    * TPC-H test data is: unique primary keys, and join keys that match
    * (every order's customer and every line's order exist). */
  def writeSources(spark: SparkSession, dir: String): Unit = Seq(
    "nation" -> "SELECT CAST(id AS INT) AS n_nationkey, concat('NATION', id) AS n_name FROM range(5)",
    "customer" -> """SELECT id AS c_custkey, concat('Customer#', id) AS c_name,
      |  CAST(id % 5 AS INT) AS c_nationkey,
      |  element_at(array('BUILDING', 'MACHINERY', 'HOUSEHOLD'), CAST(id % 3 AS INT) + 1) AS c_mktsegment
      |FROM range(1, 31)""".stripMargin,
    "orders" -> """SELECT id AS o_orderkey, 1 + id % 30 AS o_custkey,
      |  CASE WHEN id % 2 = 0 THEN 'F' ELSE 'O' END AS o_orderstatus,
      |  CAST(100 + id * 7.25 AS DOUBLE) AS o_totalprice,
      |  timestamp_seconds(820454400 + id * 86400) AS o_orderdate
      |FROM range(1, 61)""".stripMargin,
    "lineitem" -> """SELECT 1 + id DIV 4 AS l_orderkey, CAST(1 + id % 4 AS INT) AS l_linenumber,
      |  CAST(10 + id * 1.5 AS DOUBLE) AS l_extendedprice, CAST((id % 10) / 100.0 AS DOUBLE) AS l_discount
      |FROM range(240)""".stripMargin
  ).foreach { case (table, sql) =>
    spark.sql(sql).write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  /** The nightly rebuild in one JVM and one session: writes the design
    * set and its sources under WORKDIR, then runs `graft.Cli extract`
    * over them and `graft.Cli load` (staging and publish) over the
    * extract's output. The build dumps the CLI's class-data-sharing
    * archive from this run, so one archive holds what both commands
    * load. Exits non-zero when either command does.
    *
    * usage: graft.etl.DemoDag WORKDIR */
  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      System.err.println("usage: graft.etl.DemoDag WORKDIR")
      sys.exit(2)
    }
    val work = Paths.get(args(0)).toAbsolutePath
    def at(name: String) = work.resolve(name).toString
    writeDesigns(work.resolve("designs"))
    val spark = graft.Session.build()
    val code = try {
      writeSources(spark, at("data"))
      val extracted = graft.Cli.run(spark, "extract", Map(
        "designs" -> at("designs"), "data" -> at("data"), "out" -> at("extract")))
      if (extracted != 0) extracted
      else graft.Cli.run(spark, "load", Map(
        "designs" -> at("designs"), "data" -> at("extract"),
        "warehouse" -> at("wh"), "events" -> at("events.jsonl")))
    } finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dag_load_order" -> (dagLoadOrder _),
    "dag_dim_customer" -> (dagDimCustomer _),
    "dag_final_table" -> (dagFinalTable _))

  val oracles: Map[String, String] = Map(
    "dag_load_order" -> dagLoadOrderSql,
    "dag_dim_customer" -> dagDimCustomerSql,
    "dag_final_table" -> dagFinalTableSql)
}
