package graft.etl

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Column-level lineage over analyzed plans: projections, renames,
  * expressions, joins, aggregates, windows, explode, UNION, CTEs,
  * nested views — and the direct-vs-indirect boundary (filter/join
  * predicate columns deliberately excluded). */
class LineageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark
    import s.implicits._
    Seq((1L, "a", 10.0, 5L), (2L, "b", 20.0, 6L))
      .toDF("id", "name", "price", "qty").createOrReplaceTempView("sales")
    Seq((1L, "east"), (2L, "west"))
      .toDF("id", "region").createOrReplaceTempView("dims")
    Seq((1L, Seq("x", "y")))
      .toDF("id", "tags").createOrReplaceTempView("tagged")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def lineage(sql: String): Map[String, Seq[String]] =
    Lineage.columnLineage(spark.sql(sql)).toMap

  test("projection, rename, and expression lineage; filter cols excluded") {
    val l = lineage(
      "SELECT id AS sale_id, price * qty AS revenue FROM sales WHERE name = 'a'")
    assert(l("sale_id") == Seq("sales.id"))
    assert(l("revenue") == Seq("sales.price", "sales.qty"))
    // `name` feeds only the WHERE — direct lineage excludes it
    assert(!l.values.flatten.toSet.contains("sales.name"))
  }

  test("join + aggregate traces each column to its side") {
    val l = lineage(
      """SELECT d.region, SUM(s.price) AS total
        |FROM sales s JOIN dims d ON s.id = d.id
        |GROUP BY d.region""".stripMargin)
    assert(l("region") == Seq("dims.region"))
    assert(l("total") == Seq("sales.price"))
  }

  test("window, explode, and literal columns") {
    val w = lineage(
      "SELECT name, RANK() OVER (ORDER BY price) AS rk, 1 AS one FROM sales")
    assert(w("rk") == Seq("sales.price"))
    assert(w("one").isEmpty)
    val g = lineage("SELECT id, explode(tags) AS tag FROM tagged")
    assert(g("tag") == Seq("tagged.tags"))
    assert(g("id") == Seq("tagged.id"))
  }

  test("UNION merges positionally; CTEs resolve through the ref") {
    val u = lineage(
      "SELECT id FROM sales UNION ALL SELECT id FROM dims")
    assert(u("id") == Seq("dims.id", "sales.id"))
    val c = lineage(
      """WITH r AS (SELECT id, price * 2 AS p2 FROM sales)
        |SELECT p2 FROM r""".stripMargin)
    assert(c("p2") == Seq("sales.price"))
  }

  test("lineage traces THROUGH a nested view to base tables") {
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW enriched AS
        |SELECT s.id, s.price, d.region
        |FROM sales s JOIN dims d ON s.id = d.id""".stripMargin)
    val l = lineage("SELECT region, price FROM enriched")
    assert(l("region") == Seq("dims.region"))
    assert(l("price") == Seq("sales.price"))
  }

  test("report renders one line per column with sources") {
    val r = Lineage.report(spark.sql("SELECT id AS k, 7 AS c FROM sales"))
    assert(r.linesIterator.toSeq == Seq("k <- sales.id", "c <- <literal/generated>"))
  }

  test("indirect sources: filter and join condition columns, traced to leaves") {
    val df = spark.sql(
      """SELECT s.price FROM sales s JOIN dims d ON s.id = d.id
        |WHERE d.region = 'east' AND s.qty > 1""".stripMargin)
    assert(Lineage.indirectSources(df) ==
      Seq("dims.id", "dims.region", "sales.id", "sales.qty"))
    // and the report carries them on the trailing line
    val last = Lineage.report(df).linesIterator.toSeq.last
    assert(last ==
      "[rows selected by] dims.id, dims.region, sales.id, sales.qty", last)
    // a pure projection has no row-selection line
    assert(!Lineage.report(spark.sql("SELECT id FROM sales"))
      .contains("[rows selected by]"))
    // filters INSIDE a CTE body are visible too
    val cte = spark.sql(
      """WITH r AS (SELECT id FROM sales WHERE name = 'a')
        |SELECT id FROM r""".stripMargin)
    assert(Lineage.indirectSources(cte) == Seq("sales.name"))
  }
}
