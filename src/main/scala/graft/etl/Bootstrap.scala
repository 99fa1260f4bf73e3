package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Design bootstrap (B1-B8): the reference infers table designs from
  * upstream catalogs (`pg_class`/`pg_attribute`/`pg_index`/`pg_depend`,
  * /root/reference/python/etl/design/bootstrap.py:27-640). In Spark
  * the same information comes from the catalog + the analyzer, and
  * the reference's EXPLAIN-text scraping (B6) collapses into plan
  * introspection. */
object Bootstrap {

  // ------------------------------------------------------------- B5
  /** Dependencies of a transform query from its PARSED plan: every
    * relation reference, without executing or even analyzing against
    * live tables (bootstrap.py:182-205's pg_depend lookup; the
    * EXPLAIN fallback B6 at bootstrap.py:208-278 is unnecessary —
    * the parser sees every reference, however nested). */
  def dependenciesOf(spark: SparkSession, query: String): Seq[String] =
    dependenciesOf(spark.sessionState.sqlParser.parsePlan(query))

  private def dependenciesOf(parsed: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    val ctes = scala.collection.mutable.Set[String]()
    val rels = scala.collection.mutable.Set[String]()
    // Explicit recursion: plan.collect alone misses CTE definitions
    // (innerChildren of UnresolvedWith) and subquery-expression plans
    // (EXISTS/IN/scalar subqueries live inside expressions).
    def walk(plan: LogicalPlan): Unit = plan.foreach { node =>
      node match {
        case w: UnresolvedWith =>
          w.cteRelations.foreach { case (name, _, _) => ctes += name.toLowerCase }
          w.cteRelations.foreach { case (_, sub, _) => walk(sub) }
        case r: UnresolvedRelation =>
          rels += r.multipartIdentifier.map(_.toLowerCase).mkString(".")
        case _ => ()
      }
      node.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => walk(sq.plan)
        case _ => ()
      })
    }
    walk(parsed)
    (rels -- ctes).toSeq.sorted
  }

  /** Rewrite relation references in a query's TEXT using the PARSED
    * plan (T5's staging rewrite; SURVEY §7.3). The reference
    * regex-rewrites `schema.table` tokens, which can corrupt string
    * literals containing a dependency name (load.py:221-245's known
    * flaw). Here every `UnresolvedRelation`'s parser `Origin` gives
    * the exact [start, stop] character span of the reference in the
    * original text, and the mapped names are spliced in back-to-front
    * — a string literal is structurally unreachable, and the output
    * is still SQL text (required for `CREATE VIEW ... AS`, where a
    * LogicalPlan cannot be stored). CTE names shadow dependencies,
    * exactly as in [[dependenciesOf]]. */
  def rewriteReferences(spark: SparkSession, query: String,
                        mapping: Map[String, TableName]): String = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val ctes = scala.collection.mutable.Set[String]()
    val spans = scala.collection.mutable.Buffer[(Int, Int, String)]()
    def walk(plan: LogicalPlan): Unit = plan.foreach { node =>
      node match {
        case w: UnresolvedWith =>
          // register every sibling name BEFORE walking any body: a CTE
          // may reference one defined after it in the same WITH list
          w.cteRelations.foreach { case (name, _, _) => ctes += name.toLowerCase }
          w.cteRelations.foreach { case (_, sub, _) => walk(sub) }
        case r: UnresolvedRelation =>
          val id = r.multipartIdentifier.map(_.toLowerCase).mkString(".")
          if (!ctes.contains(id))
            for {
              target <- mapping.get(id)
              s <- r.origin.startIndex
              e <- r.origin.stopIndex
            } spans += ((s, e, target.quoted))
        case _ => ()
      }
      node.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => walk(sq.plan)
        case _ => ()
      })
    }
    walk(spark.sessionState.sqlParser.parsePlan(query))
    splice(query, spans.toSeq)
  }

  /** `text` with each edit `(start, stop, replacement)` applied back to
    * front: characters `start..stop` (parser origin indexes, inclusive)
    * give way to the replacement, and `stop = start - 1` inserts. Edits
    * must not overlap; insertions at one offset keep their order. */
  private[etl] def splice(text: String, edits: Seq[(Int, Int, String)]): String =
    edits.zipWithIndex.sortBy { case ((s, _, _), i) => (-s, -i) }.foldLeft(text) {
      case (q, ((s, e, rep), _)) => q.substring(0, s) + rep + q.substring(e + 1)
    }

  // ------------------------------------------------------------- B1
  /** Table discovery (bootstrap.py:27-82): list a database's tables,
    * filtered by allow/deny glob selectors. */
  def discoverTables(spark: SparkSession, database: String,
                     allow: TableSelector = TableSelector.all,
                     deny: TableSelector = TableSelector(Seq.empty)): Seq[TableName] = {
    import scala.jdk.CollectionConverters._
    // listTables also returns session temp views (isTemporary, with no
    // database) — those are not source tables any more than VIEWs are.
    spark.catalog.listTables(database).collectAsList().asScala.toSeq
      .filter(t => t.tableType != "VIEW" && !t.isTemporary)
      .map(t => TableName(database, t.name))
      .filter(allow.matches)
      .filterNot(t => deny.patterns.nonEmpty && deny.matches(t))
  }

  // ------------------------------------------------------- B2+B3+B8
  /** Design generation for a source table from its live schema
    * (B2 attribute fetch + B3 type mapping; bootstrap.py:281-316). */
  def designForSource(spark: SparkSession, table: TableName): TableDesign = {
    val schema = spark.table(table.quoted).schema
    TableDesign(
      name = table,
      sourceName = table.schema,
      columns = schema.fields.toSeq.map { f =>
        val (generic, sqlType) = TableDesign.sparkToGeneric(f.dataType)
        ColumnDef(f.name, generic, sqlType, sourceSqlType = sqlType,
          notNull = !f.nullable)
      })
  }

  /** CTAS/VIEW design from a query in Redshift SQL (B8,
    * bootstrap.py:572-640): the reference creates a temp view and
    * reads the catalog back; here the analyzer gives the schema of the
    * query read through the dialect, without touching the catalog. */
  def designFromQuery(spark: SparkSession, name: TableName, query: String,
                      asView: Boolean = false): TableDesign = {
    val df = DialectShims.sql(spark, query)   // analysis only, not executed
    val schema = df.schema
    val deps = dependenciesOf(df.queryExecution.logical).map(TableName.parse)
    if (asView)
      TableDesign(name, "VIEW",
        schema.fields.toSeq.map(f => ColumnDef(f.name)),
        dependsOn = deps, query = query)
    else
      TableDesign(name, "CTAS",
        schema.fields.toSeq.map { f =>
          val (generic, sqlType) = TableDesign.sparkToGeneric(f.dataType)
          ColumnDef(f.name, generic, sqlType, notNull = !f.nullable)
        },
        dependsOn = deps, query = query)
  }

  /** Write a design to disk under the `schemas/` path convention —
    * `save_table_design` (bootstrap.py:643-676): validate before
    * writing, refuse to clobber an existing file unless `overwrite`,
    * and put the transform query in the sibling `.sql` file (the
    * [[FileSets]] convention keeps YAML design and SQL query apart).
    * Returns the paths actually written. */
  def saveTableDesign(design: TableDesign, designsRoot: String,
                      overwrite: Boolean = false): Seq[java.nio.file.Path] = {
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Path, Paths}
    design.validate()
    val dir = Paths.get(designsRoot, "schemas", design.name.schema)
    Files.createDirectories(dir)
    val base =
      if (design.isTransformation) design.name.table
      else s"${design.sourceName}-${design.name.table}"
    def write(p: Path, text: String): Option[Path] =
      if (Files.exists(p) && !overwrite) {
        System.err.println(s"[bootstrap] skipping existing '$p' (use overwrite)")
        None
      } else Some(Files.write(p,
        text.getBytes(StandardCharsets.UTF_8)))
    val yamlOut = write(dir.resolve(s"$base.yaml"), TableDesign.toYaml(design))
    val sqlOut =
      if (design.isTransformation && design.query.trim.nonEmpty)
        write(dir.resolve(s"$base.sql"), design.query.trim + "\n")
      else None
    yamlOut.toSeq ++ sqlOut
  }

  /** Bootstrap designs for every discovered table of a database
    * (`create_table_designs_from_source`, bootstrap.py:697-760):
    * discover → design → merge with any existing design (B7) →
    * save. Returns (table, warnings) per relation. */
  def bootstrapSources(spark: SparkSession, database: String,
                       designsRoot: String,
                       allow: TableSelector = TableSelector.all,
                       overwrite: Boolean = false): Seq[(TableName, Seq[String])] = {
    val existingDesigns = FileSets.discover(designsRoot)
    discoverTables(spark, database, allow).map { t =>
      val fresh = designForSource(spark, t)
      val existing = existingDesigns.find(_.name == t).map(_.design)
      val (design, warnings) = existing match {
        case Some(old) if old.isSourceTable => mergeDesigns(old, fresh)
        case _ => (fresh, Seq.empty[String])
      }
      saveTableDesign(design, designsRoot, overwrite = overwrite || existing.nonEmpty)
      (t, warnings)
    }
  }

  /** Bootstrap designs for orphan `.sql` transform files — the
    * `bootstrap_transformations` command (bootstrap.py:763-810): any
    * `schemas/<s>/<t>.sql` without a sibling `.yaml` gets a design
    * generated from its query's analyzed schema (B8). */
  def bootstrapTransformations(spark: SparkSession, designsRoot: String,
                               asView: Boolean = false): Seq[TableName] = {
    import java.nio.charset.StandardCharsets
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(designsRoot)
    if (!Files.exists(root)) return Seq.empty
    val files = Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_)).flatMap(FileSets.parseFilename).toSeq
    val byTable = files.groupBy(f => (f.schema, f.table))
    byTable.toSeq.sortBy(_._1).flatMap { case ((schema, table), fs) =>
      fs.find(_.ext == "sql") match {
        case Some(sqlFile) if !fs.exists(_.ext == "yaml") =>
          // the file's own Redshift text: designFromQuery reads it
          // through the dialect
          val query = new String(Files.readAllBytes(sqlFile.path),
            StandardCharsets.UTF_8).trim
          val name = TableName(schema, table)
          val design = designFromQuery(spark, name, query, asView = asView)
          // the query stays in the existing .sql (saveTableDesign will
          // not clobber it without overwrite); only the .yaml is new
          saveTableDesign(design, designsRoot)
          Some(name)
        case _ => None
      }
    }
  }

  // ------------------------------------------------------------- B7
  /** Merge a freshly bootstrapped design with an existing one
    * (bootstrap.py:319-399): keep the human-authored parts (identity
    * flags, expressions, constraints), adopt upstream type changes,
    * widen int → long without complaint, and report every change. */
  def mergeDesigns(existing: TableDesign, bootstrapped: TableDesign)
      : (TableDesign, Seq[String]) = {
    val warnings = scala.collection.mutable.Buffer[String]()
    val bootCols = bootstrapped.columns.map(c => c.name -> c).toMap
    val merged = existing.columns.map { old =>
      bootCols.get(old.name) match {
        case None =>
          warnings += s"column '${old.name}' no longer exists upstream"
          old
        case Some(fresh) =>
          val widened = old.tpe == "int" && fresh.tpe == "long"
          if (fresh.tpe != old.tpe && !widened)
            warnings += s"column '${old.name}' type changed: ${old.tpe} -> ${fresh.tpe}"
          old.copy(
            tpe = fresh.tpe, sqlType = fresh.sqlType,
            sourceSqlType = fresh.sourceSqlType,
            notNull = fresh.notNull)
      }
    }
    val newCols = bootstrapped.columns.filterNot(c =>
      existing.columns.exists(_.name == c.name))
    newCols.foreach(c => warnings += s"new upstream column '${c.name}' added")
    (existing.copy(columns = merged ++ newCols), warnings.toSeq)
  }

  // ------------------------------------------------------------- B4
  /** Constraint fetch (bootstrap.py:123-179): the reference reads
    * `pg_index` for PK/unique; the JDBC-standard equivalent is
    * `DatabaseMetaData.getPrimaryKeys`, ordered by KEY_SEQ. */
  def fetchPrimaryKeys(url: String, table: String,
                       props: java.util.Properties = new java.util.Properties)
      : Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getPrimaryKeys(null, null, table)
      val cols = scala.collection.mutable.Buffer[(Short, String)]()
      while (rs.next())
        cols += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME").toLowerCase))
      cols.sortBy(_._1).map(_._2).toSeq
    } finally conn.close()
  }

  def constraintsFromJdbcMetadata(pks: Seq[String]): Seq[Constraint] =
    if (pks.nonEmpty) Seq(Constraint("primary_key", pks)) else Seq.empty
}
