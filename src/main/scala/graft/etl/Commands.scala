package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The introspection/ops command surface (Q1, Q4, Q5, Q10, §2.11)
  * over the design + DAG model. */
object Commands {

  // ------------------------------------------------------------- Q1
  /** run_query (load.py:1373-1404): execute a query, Redshift SQL
    * through the dialect, with a LIMIT. `limit = None` means `LIMIT
    * NULL` (all rows). */
  def runQuery(spark: SparkSession, query: String, limit: Option[Int] = Some(100)): DataFrame = {
    val df = DialectShims.sql(spark, query)
    limit.map(df.limit).getOrElse(df)
  }

  // ------------------------------------------------------------- Q4
  /** show_downstream_dependents (load.py:1424-1564): the DAG with
    * index, level, kind, and required flag — and the mirror view for
    * upstream dependencies. */
  def describeDependents(relations: Seq[Relation], selector: TableSelector,
                         continueFrom: Option[String] = None): String = {
    val ordered = Dag.orderByDependencies(relations)
    val shown = Dag.selectInExecutionOrder(relations, selector,
      includeDependents = true, continueFrom = continueFrom)
      .map(_.identifier).toSet
    // load.py:1457-1463: each relation is flagged by HOW it entered
    // the list — directly matched, an immediate dependent view, or a
    // transitive dependent.
    val directly = ordered.filter(r => selector.matches(r.name))
      .map(_.identifier).toSet
    val immediate = Dag.findImmediateViews(ordered, selector)
      .map(_.identifier).toSet
    ordered.filter(r => shown.contains(r.identifier)).map { r =>
      val kind = if (r.isView) "VIEW" else if (r.design.isCtas) "CTAS" else "TABLE"
      val flag =
        if (directly.contains(r.identifier)) "selected"
        else if (immediate.contains(r.identifier)) "immediate"
        else "dependent"
      val req = if (r.isRequired) " required" else ""
      f"${r.executionOrder}%4d ${r.executionLevel}%4d  $kind%-5s $flag%-9s ${r.identifier}$req"
    }.mkString("\n")
  }

  def describeDependencies(relations: Seq[Relation], selector: TableSelector): String = {
    val ordered = Dag.orderByDependencies(relations)
    val selected = ordered.filter(r => selector.matches(r.name))
    // upstream closure: walk dependencies transitively
    val closure = scala.collection.mutable.Set[String](selected.map(_.identifier): _*)
    ordered.reverse.foreach { r =>
      if (closure.contains(r.identifier))
        r.dependencies.foreach(d => closure += d.identifier)
    }
    ordered.filter(r => closure.contains(r.identifier)).map { r =>
      f"${r.executionOrder}%4d ${r.executionLevel}%4d  ${r.identifier}"
    }.mkString("\n")
  }

  // ------------------------------------------------------------- Q5
  /** create_index (relation.py:817-885): a Markdown index of schemas,
    * relations, and columns with key markers. */
  def createIndex(relations: Seq[Relation]): String = {
    val bySchema = relations.groupBy(_.name.schema).toSeq.sortBy(_._1)
    bySchema.map { case (schema, rels) =>
      val tables = rels.sortBy(_.name.table).map { r =>
        val keys = r.design.constraints
          .filter(c => c.kind == "primary_key" || c.kind == "surrogate_key")
          .flatMap(_.columns).toSet
        val cols = r.design.activeColumns.map { c =>
          val marker = if (keys.contains(c.name)) " *[PK]*" else ""
          s"  - `${c.name}` (${c.tpe})$marker"
        }.mkString("\n")
        s"### ${r.identifier}\n\n$cols"
      }.mkString("\n\n")
      s"## $schema\n\n$tables"
    }.mkString("# Warehouse index\n\n", "\n\n", "\n")
  }

  // ------------------------------------------------------------- S14
  /** `create_external_schemas` (commands.py:1371-1400,
    * data_warehouse.py:34-80): register external-LOCATION databases
    * and their tables from config. The reference issues Redshift
    * Spectrum `CREATE EXTERNAL SCHEMA ... DATA CATALOG` statements;
    * the Spark analog creates a database anchored at the configured
    * location and one external parquet table per child directory —
    * metadata only, no data is read or moved, so registration cost is
    * O(#tables) regardless of data volume.
    *
    * Config shape (a settings file):
    * {{{
    * external_schemas:
    *   landing:
    *     location: /data/landing      # each subdir = one table
    * }}}
    *
    * Returns the registered (schema, table) pairs. */
  def createExternalSchemas(spark: SparkSession, settings: Settings,
                            selectSchemas: Seq[String] = Seq.empty,
                            dryRun: Boolean = false): Seq[(String, String)] = {
    val prefix = "external_schemas."
    val configured = settings.configMap.collect {
      case (k, loc) if k.startsWith(prefix) && k.endsWith(".location") =>
        k.stripPrefix(prefix).stripSuffix(".location") -> loc
    }.toSeq.sortBy(_._1)
    if (configured.isEmpty)
      throw new SettingsError("no external_schemas configured")
    val unknown = selectSchemas.filterNot(s => configured.exists(_._1 == s))
    if (unknown.nonEmpty)
      throw new SettingsError(
        s"selected schema is not external: ${unknown.mkString(", ")}")
    val selected =
      if (selectSchemas.isEmpty) configured
      else configured.filter { case (s, _) => selectSchemas.contains(s) }
    selected.flatMap { case (schema, location) =>
      val root = new org.apache.hadoop.fs.Path(location)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.isDirectory(root))
        throw new SettingsError(
          s"external schema '$schema' location not found: $location")
      val tables = fs.listStatus(root).filter(_.isDirectory)
        .map(_.getPath).sortBy(_.getName)
        .filter(p => fs.listStatus(p).exists(f => f.isFile &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
      if (!dryRun) {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS `$schema`")
        tables.foreach { t =>
          spark.sql(s"CREATE TABLE IF NOT EXISTS `$schema`.`${t.getName}` " +
            s"USING parquet LOCATION '$t'")
        }
      }
      tables.map(t => (schema, t.getName)).toSeq
    }
  }

  // ------------------------------------------------------------- Q10
  /** Split a SQL script into statements on TOP-LEVEL `;` only: a
    * semicolon inside a single/double-quoted string, a backquoted
    * identifier, a `--` line comment, or a block comment never splits.
    * Comment text stays attached to its statement (the parser accepts
    * it); fragments that hold nothing but comments/whitespace are
    * dropped. */
  private[etl] def splitSqlStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var hasCode = false   // any non-comment, non-whitespace char seen
    var i = 0
    val n = script.length
    def emit(): Unit = {
      val s = cur.toString.trim
      if (hasCode && s.nonEmpty) out += s
      cur.clear(); hasCode = false
    }
    while (i < n) {
      val c = script.charAt(i)
      c match {
        case ';' => emit(); i += 1
        case '-' if i + 1 < n && script.charAt(i + 1) == '-' =>
          val end = script.indexOf('\n', i)
          val stop = if (end < 0) n else end
          cur.append(script.substring(i, stop)); i = stop
        case '/' if i + 1 < n && script.charAt(i + 1) == '*' =>
          val end = script.indexOf("*/", i + 2)
          val stop = if (end < 0) n else end + 2
          cur.append(script.substring(i, stop)); i = stop
        case '$' =>
          // PostgreSQL dollar-quoting: `$$…$$` or `$tag$…$tag$`. The
          // reference's UDF scripts put whole function bodies inside
          // one (sql/001_ETL_create_f_sha256.sql:7-11) and a `;` in
          // the body must not split. A lone `$` or `$5` is not an
          // opener (tag = empty or identifier, not digit-led); an
          // unclosed quote swallows to end-of-script like the other
          // literal forms. PostgreSQL's lexer only opens a dollar
          // quote when the `$` does NOT continue an identifier
          // (`$` is a legal identifier char there): without that rule
          // `a$b$c` — or a `$var$` templating placeholder glued to a
          // name — falsely opened a quote whose "close tag" never
          // recurs and the rest of the script collapsed into one
          // statement.
          val afterIdentChar = cur.nonEmpty && {
            val p = cur.charAt(cur.length - 1)
            p.isLetterOrDigit || p == '_' || p == '$'
          }
          val tagEnd: Int = if (afterIdentChar) -1 else {
            var j = i + 1
            if (j < n && script.charAt(j) == '$') j + 1
            else if (j < n &&
                (script.charAt(j).isLetter || script.charAt(j) == '_')) {
              j += 1
              while (j < n && (script.charAt(j).isLetterOrDigit ||
                script.charAt(j) == '_')) j += 1
              if (j < n && script.charAt(j) == '$') j + 1 else -1
            } else -1
          }
          hasCode = true
          if (tagEnd < 0) { cur.append(c); i += 1 }
          else {
            val tag = script.substring(i, tagEnd)
            val close = script.indexOf(tag, tagEnd)
            val stop = if (close < 0) n else close + tag.length
            cur.append(script.substring(i, stop)); i = stop
          }
        case q @ ('\'' | '"' | '`') =>
          hasCode = true
          cur.append(q); i += 1
          var closed = false
          while (i < n && !closed) {
            val d = script.charAt(i)
            cur.append(d)
            // backslash escapes stay inside the literal ('it\'s');
            // doubled quotes ('') read as exit+enter, same net effect
            if (d == '\\' && q != '`' && i + 1 < n) {
              cur.append(script.charAt(i + 1)); i += 2
            } else {
              if (d == q) closed = true
              i += 1
            }
          }
        case _ =>
          if (!c.isWhitespace) hasCode = true
          cur.append(c); i += 1
      }
    }
    emit()
    out.result()
  }

  /** RunSql admin command (commands.py:772-821): execute a SQL script,
    * each statement through the dialect, returning the last result.
    * EVERY statement runs — the reference
    * executes each in order — so intermediate SELECTs are forced with
    * an executor-side no-op action (no driver collect; a script-sized
    * intermediate result never lands on the driver); only the LAST
    * statement is returned lazily for the caller to shape. */
  def runSqlScript(spark: SparkSession, script: String): Option[DataFrame] = {
    val stmts = splitSqlStatements(script)
    stmts.zipWithIndex.foldLeft(Option.empty[DataFrame]) {
      case (_, (stmt, ix)) =>
        val df = DialectShims.sql(spark, stmt)   // commands (DDL/DML) execute here
        if (ix < stmts.length - 1) df.foreach(_ => ())
        Some(df)
    }
  }

  // -------------------------------------------------------- selftest
  /** `selftest` (commands.py:2141-2149, selftest.py): the reference
    * runs its packaged doctests; the engine analog is an embedded
    * deterministic smoke suite over the core machinery — pure
    * in-process checks with literal data, no test corpus, safe to run
    * on any installation. Returns (check, passed, detail). */
  def selfTest(spark: SparkSession): Seq[(String, Boolean, String)] = {
    def check(name: String)(body: => Unit): (String, Boolean, String) =
      try { body; (name, true, "ok") }
      catch { case e: Throwable =>
        (name, false, Option(e.getMessage).getOrElse(e.getClass.getName)) }
    import spark.implicits._
    Seq(
      check("functions.native") {
        val r = spark.sql(
          "SELECT dot_f(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d, " +
            "dot_i8(sq8_quantize(array(0.5F, -1.0F)), " +
            "       sq8_quantize(array(0.5F, -1.0F))) AS q").head
        require(r.getDouble(0) == 11.0, s"dot_f: ${r.getDouble(0)}")
        // q8 of [0.5,-1] is [64,-127] (round-half-up) -> 64^2+127^2
        require(r.getLong(1) == 64L * 64 + 127L * 127, s"dot_i8: ${r.getLong(1)}")
      },
      check("functions.udf") {
        val r = spark.sql(
          "SELECT f_sha256('arthur') = sha2('arthur', 256) AS same").head
        require(r.getBoolean(0), "f_sha256 != sha2")
      },
      check("dialect.shim") {
        val d = DialectShims.sql(spark,
          "SELECT DATEDIFF(day, DATE '2024-01-31', DATE '2024-02-01') AS d").head.getLong(0)
        require(d == 1L, "boundary datediff")
      },
      check("asof.native") {
        val l = Seq((1L, 10L, 100L)).toDF("k", "lt", "lid")
        val r = Seq((1L, 5L, 7L), (1L, 11L, 8L)).toDF("rk", "rt", "rid")
        val m = graft.plans.AsofJoin.asof(l, r, "k", "rk", "lt", "rt", "rid")
          .select($"rid").head
        require(m.getLong(0) == 7L, "asof picked wrong row")
        val b = graft.plans.AsofJoin.asofBucketed(l, r, "k", "rk", "lt", "rt", "rid", 4L)
          .select($"rid").head
        require(b.getLong(0) == 7L, "bucketed asof disagrees")
      },
      check("design.parse") {
        val d = TableDesign.load(
          "name: st.t\nsource_name: CTAS\ncolumns:\n  - name: x\n    type: int\n" +
            "query: SELECT 1 AS x\n")
        require(d.isCtas && d.activeColumns.size == 1, "design parse")
        try { TableDesign.load("name: st.t\nbogus_key: 1\n"); require(false, "no reject") }
        catch { case _: TableDesignError => () }
      },
      check("sql.split") {
        val ss = splitSqlStatements("SELECT ';' AS a; -- x;\nSELECT 2")
        require(ss.size == 2 && ss.head.contains("';'"), s"split: $ss")
      },
      check("settings.render") {
        val s = Settings.load()
        require(s.value("graft_settings.extract_retries") == "1", "defaults")
        require(Templates.render(s, "run_banner").contains(s.value("version")),
          "template render")
      },
      check("monitor.roundtrip") {
        val p = java.nio.file.Files.createTempDirectory("graft_st_")
          .resolve("ev.jsonl").toString
        val mon = new Monitor(Some(p))
        mon.monitored("st.t", "load") { ((), Some(3L)) }
        val back = Monitor.readLog(p)
        require(back.exists(e => e.event == "finish" && e.rowcount.contains(3L)),
          "event log roundtrip")
      },
      check("warehouse.lifecycle") {
        val wh = new Warehouse(spark,
          java.nio.file.Files.createTempDirectory("graft_stwh_").toString, "/tmp")
        val t = TableName.parse("st.cycle")
        wh.writeTable(t, Seq((1L, "a")).toDF("id", "v"))
        require(wh.appendToTableIdempotent(t, Seq((2L, "b")).toDF("id", "v"), "s1"),
          "first append applies")
        require(!wh.appendToTableIdempotent(t, Seq((2L, "b")).toDF("id", "v"), "s1"),
          "replay must no-op")
        require(spark.table(t.quoted).count() == 2, "lifecycle rowcount")
      })
  }
}
