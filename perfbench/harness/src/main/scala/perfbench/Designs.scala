package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.etl.{Dag, DemoDag, DialectShims, FileSets, TableDesign, TableSelector}

/** The nightly design set, from outside the program.
  *
  *   write DIR  — writes the 8 designs of `DemoDag.designYaml` in the
  *                `schemas/{schema}/{source}-{table}.yaml` layout, and
  *                `designs.json` with each relation's DAG level and the
  *                DuckDB SQL that the published `rep.sales_by_segment`
  *                and `rep.dim_customer` must match.
  *   time DIR N — times `FileSets.discover`, `Dag.selectInExecutionOrder`
  *                and `DialectShims.rewriteRedshiftSql` over that set, N
  *                times each, and prints one JSON line of span lists.
  */
object Designs {
  def main(args: Array[String]): Unit = args.toList match {
    case "write" :: dir :: Nil => write(Paths.get(dir))
    case "time" :: dir :: n :: Nil => println(time(dir, n.toInt))
    case _ =>
      System.err.println("usage: perfbench.Designs write DIR | time DIR N")
      sys.exit(2)
  }

  def write(root: Path): Unit = {
    DemoDag.designYaml.foreach { yaml =>
      val d = TableDesign.load(yaml)
      val source = if (d.isSourceTable) d.sourceName else d.name.schema
      val file = root.resolve(s"schemas/${d.name.schema}/$source-${d.name.table}.yaml")
      Files.createDirectories(file.getParent)
      Files.write(file, yaml.getBytes(UTF_8))
    }
    val levels = Dag.orderByDependencies(DemoDag.relations)
      .map(r => r.identifier -> Json.num(r.executionLevel.toLong))
    val oracles = Seq(
      "rep.sales_by_segment" -> DemoDag.dagFinalTableSql,
      "rep.dim_customer" -> DemoDag.dagDimCustomerSql)
    Files.write(root.resolve("designs.json"), Json.obj(Seq(
      "levels" -> Json.obj(levels),
      "oracles" -> Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }))).getBytes(UTF_8))
  }

  def time(dir: String, n: Int): String = {
    def spans(f: => Any): String =
      Json.arr((1 to n).map { _ =>
        val t0 = System.nanoTime(); f; Json.num((System.nanoTime() - t0) / 1e9)
      })
    val rels = FileSets.discover(dir)
    val queries = DemoDag.designYaml.map(TableDesign.load).map(_.query).filter(_.nonEmpty)
    Json.obj(Seq(
      "designs.discover_s" -> spans(FileSets.discover(dir)),
      "dag.order_s" -> spans(Dag.selectInExecutionOrder(rels, TableSelector.all,
        includeDependents = true)),
      "shims.rewrite_s" -> spans(queries.foreach(DialectShims.rewriteRedshiftSql)),
      "relations" -> Json.num(rels.size)))
  }
}
