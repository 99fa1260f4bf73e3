package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Validation suite (C3-C9), bootstrap (B1-B8), unload round-trip
  * (S12-S13), DDL generation (T8/Q3), and file-set discovery (Q6). */
class FrameworkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .createOrReplaceTempView("fw_nation")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // --------------------------------------------------------- validate
  test("C3: design columns must exist upstream with not-null parity") {
    val design = TableDesign.load(
      """name: src.t
        |source_name: src
        |columns:
        |  - name: a
        |    type: long
        |    not_null: true
        |  - name: ghost
        |    type: string
        |""".stripMargin)
    val upstream = StructType(Seq(
      StructField("a", LongType, nullable = true),   // design says not_null
      StructField("extra", StringType)))
    val msgs = Validate.upstreamColumns(design, upstream).map(_.message)
    assert(msgs.exists(_.contains("'ghost' is not in the upstream")))
    assert(msgs.exists(_.contains("'a' is not_null in the design but nullable upstream")))
    assert(msgs.exists(_.contains("upstream column 'extra' is not in the design")))
  }

  test("C5: dry-run catches column-order and dependency drift") {
    val design = TableDesign.load(
      """name: rep.x
        |source_name: CTAS
        |depends_on: [fw_nation, rep.phantom]
        |columns:
        |  - name: n_name
        |    type: string
        |  - name: n_nationkey
        |    type: long
        |query: SELECT n_nationkey, n_name FROM fw_nation
        |""".stripMargin)
    val msgs = Validate.transformDryRun(spark, design).map(_.message)
    assert(msgs.exists(_.contains("column order mismatch")))
    assert(msgs.exists(_.contains("depends_on lists 'rep.phantom' which the query does not read")))
    // A consistent design validates clean.
    val ok = design.copy(
      columns = Seq(ColumnDef("n_nationkey", "long"), ColumnDef("n_name", "string")),
      dependsOn = Seq(TableName.parse("fw_nation")))
    assert(Validate.transformDryRun(spark, ok).isEmpty)
  }

  test("C5: external dependencies validate with late-binding tolerance") {
    // relation.py:475-498 + validate.py:128,162-163,208: a transform
    // depending on a schema OUTSIDE the managed set is validated
    // through a NO-SCHEMA-BINDING view — an unresolvable external
    // relation is NOT an error (it re-resolves at load time).
    val design = TableDesign.load(
      """name: rep.ext_reader
        |source_name: CTAS
        |depends_on: [ext_raw.events_feed]
        |columns:
        |  - name: n
        |    type: long
        |query: SELECT COUNT(*) AS n FROM ext_raw.events_feed
        |""".stripMargin)
    // strict binding (standalone call): unresolvable is an error
    assert(Validate.transformDryRun(spark, design)
      .exists(_.message.contains("failed analysis")))
    // managed set excludes ext_raw → late-binding: no finding
    assert(Validate.transformDryRun(spark, design, Some(Set("rep"))).isEmpty)
    // and validateAll derives the managed set from the relation set
    assert(!Validate.validateAll(spark, Seq(Relation(design)))
      .exists(_.check == "dry_run"))
    // a MISSING MANAGED dep still fails under the same call
    val managedMiss = design.copy(
      dependsOn = Seq(TableName.parse("rep.phantom")),
      query = "SELECT COUNT(*) AS n FROM rep.phantom")
    assert(Validate.transformDryRun(spark, managedMiss, Some(Set("rep")))
      .exists(_.message.contains("failed analysis")))
  }

  test("C4: design keys must be enforced upstream (PK may serve as unique)") {
    val design = TableDesign(TableName.parse("src.t"), "src", Seq(
      ColumnDef("id", "long", notNull = true), ColumnDef("code", "string")),
      constraints = Seq(Constraint("primary_key", Seq("id")),
        Constraint("unique", Seq("code"))))
    val upstreamPkOnly = Seq(Constraint("primary_key", Seq("id")))
    val findings = Validate.upstreamConstraints(design, upstreamPkOnly)
    assert(findings.map(_.message) ==
      Seq("unique (code) is not enforced upstream"))
    // upstream PK satisfies a design unique over the same columns
    val asUnique = design.copy(constraints = Seq(Constraint("unique", Seq("id"))))
    assert(Validate.upstreamConstraints(asUnique, upstreamPkOnly).isEmpty)
  }

  test("C7: reload consistency compares column lists") {
    val a = TableDesign(TableName.parse("u.t"), "src",
      Seq(ColumnDef("x"), ColumnDef("y")))
    val b = a.copy(columns = Seq(ColumnDef("x")))
    assert(Validate.reloadConsistency(a, a).isEmpty)
    assert(Validate.reloadConsistency(a, b).nonEmpty)
  }

  test("C9: execution-order validation reports cycles") {
    def ctas(n: String, dep: String) = Relation(TableDesign(
      TableName.parse(n), "CTAS", Seq(ColumnDef("c")),
      dependsOn = Seq(TableName.parse(dep)), query = "SELECT 1 AS c"))
    assert(Validate.executionOrder(
      Seq(ctas("t.a", "t.b"), ctas("t.b", "t.a"))).nonEmpty)
  }

  // -------------------------------------------------------- bootstrap
  test("B5: dependencies from the parsed plan, CTEs excluded, nested seen") {
    val deps = Bootstrap.dependenciesOf(spark,
      """WITH cte AS (SELECT * FROM src.a)
        |SELECT * FROM cte
        |JOIN rep.b ON cte.id = b.id
        |WHERE EXISTS (SELECT 1 FROM deep.c WHERE c.id = cte.id)""".stripMargin)
    assert(deps == Seq("deep.c", "rep.b", "src.a"))
  }

  test("B8: CTAS design bootstrapped from a query (schema + deps)") {
    val d = Bootstrap.designFromQuery(spark, TableName.parse("rep.nations"),
      "SELECT n_nationkey, n_name FROM fw_nation")
    assert(d.isCtas)
    assert(d.columns.map(_.name) == Seq("n_nationkey", "n_name"))
    assert(d.columns.map(_.tpe) == Seq("int", "string"))
    assert(d.dependsOn.map(_.identifier) == Seq("fw_nation"))
    d.validate()   // bootstrapped designs must pass their own validation
    val v = Bootstrap.designFromQuery(spark, TableName.parse("rep.v_n"),
      "SELECT n_name FROM fw_nation", asView = true)
    assert(v.isView && v.columns.map(_.name) == Seq("n_name"))
    v.validate()
  }

  test("B7: design merge keeps authored parts, widens int->long, reports changes") {
    val existing = TableDesign(TableName.parse("src.t"), "src", Seq(
      ColumnDef("id", "int", notNull = true),
      ColumnDef("gone", "string"),
      ColumnDef("amt", "double")))
    val bootstrapped = TableDesign(TableName.parse("src.t"), "src", Seq(
      ColumnDef("id", "long", notNull = true),    // widened
      ColumnDef("amt", "string"),                 // type change
      ColumnDef("brand_new", "string")))
    val (merged, warnings) = Bootstrap.mergeDesigns(existing, bootstrapped)
    assert(merged.columns.map(_.name) == Seq("id", "gone", "amt", "brand_new"))
    assert(merged.columns.find(_.name == "id").get.tpe == "long")
    assert(!warnings.exists(_.contains("'id'")), "int->long widening is silent")
    assert(warnings.exists(_.contains("'gone' no longer exists")))
    assert(warnings.exists(_.contains("'amt' type changed")))
    assert(warnings.exists(_.contains("'brand_new' added")))
  }

  // ----------------------------------------------------------- unload
  test("S12+S13: unload writes csv+columns.yaml+manifest; reload round-trips") {
    val dest = Files.createTempDirectory("graft_unload_").toString + "/out"
    val design = TableDesign(TableName.parse("u.nation"), "src", Seq(
      ColumnDef("n_nationkey", "long", notNull = true),
      ColumnDef("n_name", "string")))
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select("n_nationkey", "n_name")
    val n = Artifact.write(df, design, dest)
    assert(n == 25)
    assert(Files.exists(Paths.get(dest, "columns.yaml")))
    assert(Files.exists(Paths.get(dest, "manifest.json")))
    val manifest = new String(Files.readAllBytes(Paths.get(dest, "manifest.json")),
      StandardCharsets.UTF_8)
    assert(manifest.contains("\"mandatory\": true") && manifest.contains("part-"))
    val back = Artifact.reload(spark, dest)
    assert(back.count() == 25)
    assert(back.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
    // value round-trip
    val orig = df.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    val rt = back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    assert(orig == rt)
  }

  test("UNLOAD PARTITION BY: nested col=value layout, recursive manifest, typed round-trip") {
    val s = spark
    import s.implicits._
    val dest = Files.createTempDirectory("graft_unloadp_").toString + "/out"
    val design = TableDesign(TableName.parse("u.nation_p"), "src", Seq(
      ColumnDef("n_nationkey", "long", notNull = true),
      ColumnDef("n_name", "string"),
      ColumnDef("n_regionkey", "long")))
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val n = Artifact.write(df, design, dest, partitionBy = Seq("n_regionkey"))
    assert(n == 25)
    // the Redshift PARTITION BY layout: one prefix per region value
    val parts = new java.io.File(dest).listFiles
      .filter(_.getName.startsWith("n_regionkey=")).map(_.getName).sorted
    assert(parts.length == 5, s"got ${parts.toSeq}")
    // the manifest reaches inside the partition dirs
    val manifest = new String(Files.readAllBytes(Paths.get(dest, "manifest.json")),
      StandardCharsets.UTF_8)
    assert(manifest.contains("n_regionkey=0/"), manifest.take(300))
    // round-trip: partition column comes back TYPED and in design order
    val back = Artifact.reload(spark, dest)
    assert(back.schema.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(back.schema("n_regionkey").dataType ==
      org.apache.spark.sql.types.LongType)
    val orig = df.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    val rt = back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    assert(orig == rt)
    // an unknown partition column is refused, not silently dropped
    intercept[IllegalArgumentException] {
      Artifact.write(df, design, dest, partitionBy = Seq("nope"))
    }
  }

  test("UNLOAD FORMAT AS PARQUET / JSON round-trip; bad format refused") {
    val design = TableDesign(TableName.parse("u.nation_f"), "src", Seq(
      ColumnDef("n_nationkey", "long", notNull = true),
      ColumnDef("n_name", "string"),
      ColumnDef("n_regionkey", "long")))
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val orig = df.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    for (fmt <- Seq("parquet", "json", "avro")) {
      val dest = Files.createTempDirectory(s"graft_unload_$fmt").toString + "/out"
      // parquet additionally exercises PARTITION BY composition
      val parts = if (fmt == "parquet") Seq("n_regionkey") else Nil
      val n = Artifact.write(df, design, dest, partitionBy = parts, format = fmt)
      assert(n == 25)
      val yaml = new String(Files.readAllBytes(Paths.get(dest, "columns.yaml")),
        StandardCharsets.UTF_8)
      assert(yaml.contains(s"format: $fmt"), yaml)
      assert(Files.exists(Paths.get(dest, "manifest.json")))
      val back = Artifact.reload(spark, dest)
      assert(back.schema.fieldNames.toSeq ==
        Seq("n_nationkey", "n_name", "n_regionkey"))
      assert(back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq == orig,
        s"$fmt round-trip")
    }
    intercept[IllegalArgumentException] {
      Artifact.write(df, design, "/tmp/never", format = "orc")
    }
  }

  // -------------------------------------------------------------- ddl
  test("T8/Q3: DDL generator emits columns, NOT NULL, constraint properties") {
    val d = TableDesign.load(
      """name: rep.fact
        |source_name: CTAS
        |depends_on: [src.t]
        |columns:
        |  - name: id
        |    type: long
        |    not_null: true
        |  - name: amount
        |    type: decimal
        |    sql_type: numeric(12,2)
        |constraints:
        |  - primary_key: [id]
        |attributes:
        |  compound_sort: [id]
        |query: SELECT 1
        |""".stripMargin)
    val ddl = Ddl.createTableSql(d)
    assert(ddl.contains("CREATE TABLE `rep`.`fact`"))
    assert(ddl.contains("id BIGINT NOT NULL"))
    assert(ddl.contains("amount DECIMAL(12,2)"))
    assert(ddl.contains("USING parquet"))
    assert(ddl.contains("'graft.constraint.primary_key' = 'id'"))
    assert(ddl.contains("'graft.sortkey' = 'id'"))
    // generated DDL must actually execute
    spark.sql("CREATE DATABASE IF NOT EXISTS rep")
    spark.sql("DROP TABLE IF EXISTS `rep`.`fact`")
    spark.sql(ddl)
    assert(spark.table("`rep`.`fact`").schema.fieldNames.toSeq == Seq("id", "amount"))
    spark.sql("DROP TABLE `rep`.`fact`")
  }

  // -------------------------------------------------------- file sets
  test("Q6: file-set discovery by path convention with .sql attachment") {
    val root = Files.createTempDirectory("graft_fs_").toString
    val schemaDir = Paths.get(root, "schemas", "rep")
    Files.createDirectories(schemaDir)
    Files.write(schemaDir.resolve("src-orders.yaml"),
      """name: rep.orders
        |source_name: CTAS
        |depends_on: [src.orders]
        |columns:
        |  - name: o_orderkey
        |    type: long
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    Files.write(schemaDir.resolve("src-orders.sql"),
      "SELECT o_orderkey FROM src.orders".getBytes(StandardCharsets.UTF_8))
    Files.write(schemaDir.resolve("README.txt"),
      "not a relation file".getBytes(StandardCharsets.UTF_8))
    val rels = FileSets.discover(root)
    assert(rels.map(_.identifier) == Seq("rep.orders"))
    assert(rels.head.design.query.contains("SELECT o_orderkey"))
    val listing = FileSets.ls(root)
    assert(listing.map(_._1) == Seq("rep.orders"))
    assert(listing.head._2.size == 2)
  }

  // ------------------------------------------------------- YAML emit
  test("toYaml round-trips a fully-loaded design through fromYaml") {
    val rich = TableDesign(
      TableName.parse("src.orders"), "src",
      columns = Seq(
        ColumnDef("o_orderkey", "long", "bigint", "bigint", notNull = true),
        ColumnDef("o_total", "decimal", "numeric(12,2)", "numeric(12,2)",
          expression = "CAST(o_total AS numeric(12,2))"),
        ColumnDef("o_custkey", "long", "bigint",
          references = Some(("src.customer", "c_custkey"))),
        ColumnDef("o_secret", skipped = true)),
      constraints = Seq(Constraint("primary_key", Seq("o_orderkey")),
        Constraint("unique", Seq("o_custkey", "o_total"))),
      extractSettings = Some(ExtractSettings(
        condition = "o_orderkey > 0", splitBy = Some("o_orderkey"),
        numPartitions = Some(8), boundaryQuery = Some("SELECT 1, 2"))),
      distribution = Some(Seq("o_custkey")),
      sortKeys = Seq("o_orderkey"))
    val back = TableDesign.fromYaml(TableDesign.toYaml(rich))
    assert(back == rich)
    // a CTAS with identity and a VIEW (columns reduced to names)
    val ctas = TableDesign(TableName.parse("rep.fact"), "CTAS",
      columns = Seq(ColumnDef("sk", "long", identity = true, notNull = true),
        ColumnDef("v", "double")),
      constraints = Seq(Constraint("surrogate_key", Seq("sk"))),
      dependsOn = Seq(TableName.parse("src.orders")),
      query = "SELECT o_total AS v FROM src.orders")
    assert(TableDesign.fromYaml(TableDesign.toYaml(ctas)) == ctas.copy(query = ""))
    val view = TableDesign(TableName.parse("rep.v"), "VIEW",
      columns = Seq(ColumnDef("v")), dependsOn = Seq(TableName.parse("rep.fact")),
      query = "SELECT v FROM rep.fact")
    assert(TableDesign.fromYaml(TableDesign.toYaml(view)) == view.copy(query = ""))
  }

  test("saveTableDesign + discover closes the bootstrap round-trip") {
    val root = Files.createTempDirectory("graft_boot_rt_").toString
    val design = Bootstrap.designFromQuery(spark,
      TableName.parse("rep.nations_rt"),
      "SELECT n_nationkey, n_name FROM fw_nation")
    val written = Bootstrap.saveTableDesign(design, root)
    assert(written.map(_.getFileName.toString).sorted ==
      Seq("nations_rt.sql", "nations_rt.yaml"))
    val rels = FileSets.discover(root)
    assert(rels.map(_.identifier) == Seq("rep.nations_rt"))
    // identical design back, query re-attached from the .sql sibling
    assert(rels.head.design == design.copy(query = rels.head.design.query))
    assert(rels.head.design.query.trim == design.query.trim)
    // no silent clobber without overwrite
    assert(Bootstrap.saveTableDesign(design, root).isEmpty)
    assert(Bootstrap.saveTableDesign(design, root, overwrite = true).size == 2)
  }

  test("bootstrapSources writes designs for a live database's tables") {
    spark.sql("CREATE DATABASE IF NOT EXISTS fwboot")
    spark.sql("""CREATE TABLE IF NOT EXISTS fwboot.nation
                 USING parquet LOCATION '/root/testdata/sf0.001/nation.parquet'""")
    val root = Files.createTempDirectory("graft_boot_src_").toString
    val results = Bootstrap.bootstrapSources(spark, "fwboot", root)
    assert(results.map(_._1.identifier) == Seq("fwboot.nation"))
    val rels = FileSets.discover(root)
    assert(rels.map(_.identifier) == Seq("fwboot.nation"))
    val d = rels.head.design
    assert(d.isSourceTable && d.sourceName == "fwboot")
    assert(d.columns.map(_.name) ==
      spark.table("fwboot.nation").schema.fields.map(_.name).toSeq)
    spark.sql("DROP TABLE fwboot.nation")
    spark.sql("DROP DATABASE fwboot")
  }

  test("bootstrapTransformations designs orphan .sql files (B8 end-to-end)") {
    val root = Files.createTempDirectory("graft_boot_tf_").toString
    val dir = Paths.get(root, "schemas", "rep")
    Files.createDirectories(dir)
    Files.write(dir.resolve("orphan.sql"),
      "SELECT n_name, COUNT(*) AS n FROM fw_nation GROUP BY n_name"
        .getBytes(StandardCharsets.UTF_8))
    val made = Bootstrap.bootstrapTransformations(spark, root)
    assert(made.map(_.identifier) == Seq("rep.orphan"))
    val rels = FileSets.discover(root)
    assert(rels.map(_.identifier) == Seq("rep.orphan"))
    assert(rels.head.design.isCtas)
    assert(rels.head.design.columns.map(_.tpe) == Seq("string", "long"))
    assert(rels.head.design.query.contains("GROUP BY"))
    // idempotent: a second run finds nothing orphaned
    assert(Bootstrap.bootstrapTransformations(spark, root).isEmpty)
  }

  test("Q6: filename regex matches the reference convention (file_sets.py:60-68)") {
    def parse(s: String) = FileSets.parseFilename(Paths.get(s))
    val fi = parse("/w/schemas/www/src-orders.yaml").get
    assert((fi.schema, fi.sourceSchema, fi.table, fi.ext) == ("www", "src", "orders", "yaml"))
    val noSrc = parse("schemas/rep/summary.sql").get
    assert((noSrc.schema, noSrc.sourceSchema, noSrc.table) == ("rep", "rep", "summary"))
    assert(parse("/w/data/www/src-orders.csv").isEmpty)
    assert(parse("/w/schemas/www/notes.txt").isEmpty)
  }
}
