package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI test: a designs directory in the reference layout
  * drives load/validate/show_ddl/create_index through Cli.run. */
class CliSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var designsDir: String = _
  private val dataDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
    designsDir = Files.createTempDirectory("graft_cli_designs_").toString
    val schemaDir = Paths.get(designsDir, "schemas", "cli")
    Files.createDirectories(schemaDir)
    Files.write(schemaDir.resolve("region.yaml"),
      """name: cli.region
        |source_name: cli
        |columns:
        |  - name: r_regionkey
        |    type: int
        |    not_null: true
        |  - name: r_name
        |    type: string
        |constraints:
        |  - primary_key: [r_regionkey]
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    Files.write(schemaDir.resolve("cli-summary.yaml"),
      """name: cli.summary
        |source_name: CTAS
        |depends_on: [cli.region]
        |columns:
        |  - name: n
        |    type: long
        |    not_null: true
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    Files.write(schemaDir.resolve("cli-summary.sql"),
      "SELECT COUNT(*) AS n FROM cli.region".getBytes(StandardCharsets.UTF_8))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("cli load builds the designs end-to-end via staging+publish") {
    val wh = Files.createTempDirectory("graft_cli_wh_").toString
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh))
    assert(spark.table("`cli`.`summary`").collect().head.getLong(0) == 5L)
  }

  test("cli load with a relative --warehouse publishes what an absolute one does") {
    def counts(wh: String): Seq[Long] = {
      assert(Cli.run(spark, "load", Map(
        "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh)) == 0)
      Seq("`cli`.`region`", "`cli`.`summary`").map(t => spark.table(t).count()) :+
        spark.table("`cli`.`summary`").collect().head.getLong(0)
    }
    val relative = s"target/graft_cli_relwh_${java.util.UUID.randomUUID()}"
    try {
      val fromRelative = counts(relative)
      val fromAbsolute = counts(Files.createTempDirectory("graft_cli_abswh_").toString)
      assert(fromRelative == fromAbsolute)
      assert(fromAbsolute == Seq(5L, 1L, 5L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(relative))
  }

  /** The demo design set (`DemoDag`) in the reference layout. */
  private def demoDesigns(): String = {
    val root = Files.createTempDirectory("graft_cli_demo_")
    graft.etl.DemoDag.writeDesigns(root)
    root.toString
  }

  /** Loads the demo design set into a new warehouse; returns the load's
    * options and its reported `rep.sales_by_segment` row count. */
  private def loadDemo(): (Map[String, String], String) = {
    val opts = Map("designs" -> demoDesigns(), "data" -> dataDir,
      "warehouse" -> Files.createTempDirectory("graft_cli_demo_wh_").toString)
    val (code, out) = captureOut(Cli.run(spark, "load", opts))
    assert(code == 0, out)
    (opts, "\\[load\\] rep.sales_by_segment: (\\d+) rows".r.findFirstMatchIn(out).get.group(1))
  }

  private def pointer(opts: Map[String, String], rel: String): String =
    new String(Files.readAllBytes(Paths.get(opts("warehouse"), "pointers", rel)),
      StandardCharsets.UTF_8)

  test("cli: a published warehouse outlives the session that loaded it") {
    val (opts, rows) = loadDemo()
    // a later process starts with an empty session catalog
    spark.stop()
    spark = Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
    val (q, out) = captureOut(Cli.run(spark, "run_query", opts - "designs" +
      ("sql" -> "select count(*) from rep.sales_by_segment")))
    assert(q == 0 && out.linesIterator.toSeq.last.trim == rows, out)
    val before = pointer(opts, "rep.sales_by_segment")
    assert(Cli.run(spark, "update", opts + ("select" -> "rep.sales_by_segment")) == 0)
    assert(pointer(opts, "rep.sales_by_segment") != before)
    assert(Cli.run(spark, "check_constraints", opts) == 0)
  }

  test("cli: forked CLI JVMs serve a published warehouse: run_query, update, check_constraints") {
    def prop(name: String) = sys.props.getOrElse(name,
      fail(s"no -D$name: run this spec through the build (sbt test)"))
    val launch = Seq(s"${sys.props("java.home")}/bin/java") ++
      prop("graft.cds.javaOptions").split('\t') ++ Seq("-cp", prop("graft.cds.classpath"))
    val (opts, rows) = loadDemo()
    val cwd = Files.createTempDirectory("graft_cli_fork_")
    def cli(command: String, extra: (String, String)*): (Int, String) = {
      val args = (opts ++ extra).toSeq.flatMap { case (k, v) => Seq(s"--$k", v) }
      val (out, err) = (cwd.resolve(s"$command.out"), cwd.resolve(s"$command.err"))
      val code = new ProcessBuilder((launch ++ Seq("graft.Cli", command) ++ args): _*)
        .directory(cwd.toFile).redirectOutput(out.toFile).redirectError(err.toFile)
        .start().waitFor()
      val text = new String(Files.readAllBytes(out), StandardCharsets.UTF_8)
      assert(code == 0, s"$command exited $code: $text\n" +
        new String(Files.readAllBytes(err), StandardCharsets.UTF_8).takeRight(3000))
      (code, text)
    }
    val (_, out) = cli("run_query", "sql" -> "select count(*) from rep.sales_by_segment")
    assert(out.linesIterator.toSeq.last.trim == rows, out)
    val before = pointer(opts, "rep.sales_by_segment")
    cli("update", "select" -> "rep.sales_by_segment")
    assert(pointer(opts, "rep.sales_by_segment") != before)
    cli("check_constraints")
  }

  test("cli snapshot verbs: pin, list, restore, drop; user errors exit 1") {
    val wh = Files.createTempDirectory("graft_cli_snap_").toString
    def run(cmd: String, extra: (String, String)*): Int =
      Cli.run(spark, cmd, Map(
        "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh) ++ extra)
    assert(run("load") == 0)
    assert(run("create_snapshot", "tag" -> "runA", "select" -> "cli.summary") == 0)
    // duplicate pin and malformed tag are user errors, not stack traces
    assert(run("create_snapshot", "tag" -> "runA", "select" -> "cli.summary") == 1)
    assert(run("create_snapshot", "tag" -> "no/slash", "select" -> "cli.summary") == 1)
    assert(run("list_snapshots") == 0)
    // rebuild changes the live table; restore rolls it back to the pin
    val before = spark.table("`cli`.`summary`").collect().head.getLong(0)
    assert(run("load") == 0)
    assert(run("restore_snapshot", "tag" -> "runA", "select" -> "cli.summary") == 0)
    assert(spark.table("`cli`.`summary`").collect().head.getLong(0) == before)
    assert(run("drop_snapshot", "tag" -> "runA") == 0)
    assert(run("drop_snapshot", "tag" -> "runA") == 1)
  }

  test("cli vacuum --dry-run gates --compact: preview rewrites nothing") {
    val s = spark
    import s.implicits._
    val whDir = Files.createTempDirectory("graft_cli_vacdry_").toString
    def run(cmd: String, extra: (String, String)*): (Int, String) =
      captureOut { Cli.run(spark, cmd, Map(
        "designs" -> designsDir, "data" -> dataDir, "warehouse" -> whDir) ++ extra) }
    assert(run("load")._1 == 0)
    val wh = new etl.Warehouse(spark, whDir, dataDir)
    val t = etl.TableName.parse("cli.summary")
    (0 until 20).foreach { i =>
      assert(wh.appendToTableIdempotent(t, Seq(100L + i).toDF("n"), s"d$i"))
    }
    def liveFiles(): Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            t.table, Some(t.schema))).location)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(loc).count { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
    }
    val filesBefore = liveFiles()
    assert(filesBefore > 8)
    // the safety preview must not rewrite files or re-point the table
    val (cDry, outDry) = run("vacuum",
      "dry-run" -> "true", "compact" -> "cli.summary", "max-files" -> "8")
    assert(cDry == 0 && outDry.contains("would compact cli.summary"), outDry)
    assert(liveFiles() == filesBefore,
      "vacuum --dry-run --compact must not touch the file set")
    // the real run compacts
    val (cReal, outReal) = run("vacuum",
      "compact" -> "cli.summary", "max-files" -> "8")
    assert(cReal == 0 && outReal.contains("compacted cli.summary"), outReal)
    assert(liveFiles() <= 8)
    assert(spark.table(t.quoted).count() == 21)
  }

  test("cli skip-index verbs: build, refresh after appends, unknown table errors") {
    val s = spark
    import s.implicits._
    val whDir = Files.createTempDirectory("graft_cli_sidx_").toString
    def run(cmd: String, extra: (String, String)*): (Int, String) =
      captureOut { Cli.run(spark, cmd, Map(
        "designs" -> designsDir, "data" -> dataDir, "warehouse" -> whDir) ++ extra) }
    assert(run("load")._1 == 0)
    val (c1, out1) = run("build_skip_index",
      "table" -> "cli.summary", "columns" -> "n")
    assert(c1 == 0 && out1.contains("built cli.summary__filestats"), out1)
    val wh = new etl.Warehouse(spark, whDir, dataDir)
    assert(wh.appendToTableIdempotent(etl.TableName.parse("cli.summary"),
      Seq(7L).toDF("n").coalesce(1), "b1"))
    val (c2, out2) = run("refresh_skip_index",
      "table" -> "cli.summary", "columns" -> "n")
    assert(c2 == 0 && out2.contains("indexed 1 new file(s)"), out2)
    // an unregistered table is a user error, not a stack trace
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try assert(run("build_skip_index",
      "table" -> "cli.nosuch", "columns" -> "n")._1 == 1)
    finally System.setErr(prevErr)
  }

  test("cli bloom-index and optimize verbs: build, refresh, clustered rewrite") {
    val s = spark
    import s.implicits._
    val whDir = Files.createTempDirectory("graft_cli_bidx_").toString
    def run(cmd: String, extra: (String, String)*): (Int, String) =
      captureOut { Cli.run(spark, cmd, Map(
        "designs" -> designsDir, "data" -> dataDir, "warehouse" -> whDir) ++ extra) }
    assert(run("load")._1 == 0)
    val (c1, out1) = run("build_bloom_index",
      "table" -> "cli.summary", "column" -> "n", "expected-items" -> "1024")
    assert(c1 == 0 && out1.contains("built cli.summary__filebloom"), out1)
    val wh = new etl.Warehouse(spark, whDir, dataDir)
    assert(wh.appendToTableIdempotent(etl.TableName.parse("cli.summary"),
      Seq(7L).toDF("n").coalesce(1), "b1"))
    val (c2, out2) = run("refresh_bloom_index",
      "table" -> "cli.summary", "column" -> "n", "expected-items" -> "1024")
    assert(c2 == 0 && out2.contains("indexed 1 new file(s)"), out2)
    // optimize --dry-run previews without re-pointing
    val before = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("summary", Some("cli")))
      .location.getPath
    val (cd, outd) = run("optimize",
      "table" -> "cli.summary", "zorder" -> "n", "dry-run" -> "true")
    assert(cd == 0 && outd.contains("would rewrite"), outd)
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("summary", Some("cli")))
      .location.getPath == before, "dry-run must not re-point")
    val rows = spark.table("`cli`.`summary`").orderBy($"n").collect().toSeq
    val (c3, out3) = run("optimize", "table" -> "cli.summary", "zorder" -> "n")
    assert(c3 == 0 && out3.contains("z-ordered on n"), out3)
    spark.catalog.refreshTable("`cli`.`summary`")
    assert(spark.table("`cli`.`summary`").orderBy($"n").collect().toSeq == rows,
      "optimize must not change table contents")
  }

  test("cli validate passes for a consistent design set") {
    // region must resolve for the dry-run: build it first (done above),
    // then validate sees matching deps/columns.
    Cli.run(spark, "validate", Map("designs" -> designsDir))
  }

  test("cli explain reports no hazards for the summary transform") {
    Cli.run(spark, "explain", Map("designs" -> designsDir))
  }

  test("cli show_lineage prints per-column leaf sources for transformations") {
    // self-contained: register the source tables whatever the run order
    val wh = Files.createTempDirectory("graft_cli_lin_").toString
    assert(Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh)) == 0)
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, "show_lineage", Map("designs" -> designsDir))
    }
    assert(code == 0)
    val text = out.toString("UTF-8")
    assert(text.contains("-- cli.summary"), text)
    // COUNT(*) reads rows, not columns — direct lineage is empty,
    // the standard column-lineage convention
    assert(text.contains("n <- <literal/generated>"), text)
  }

  test("parseArgs: interior boolean flags do not misalign later options") {
    assert(Cli.parseArgs(Seq("--no-staging", "--designs", "d", "--force")) ==
      Map("no-staging" -> "true", "designs" -> "d", "force" -> "true"))
    assert(Cli.parseArgs(Seq("--designs", "d", "--no-staging", "--data", "x")) ==
      Map("designs" -> "d", "no-staging" -> "true", "data" -> "x"))
  }

  test("cli extract lands csv.gz + manifest per source relation") {
    val out = Files.createTempDirectory("graft_cli_ex_").toString
    Cli.run(spark, "extract", Map(
      "designs" -> designsDir, "data" -> dataDir, "out" -> out,
      "select" -> "cli.region"))
    val dest = Paths.get(out, "cli.region")
    import scala.jdk.CollectionConverters._
    assert(Files.list(dest).iterator().asScala.exists(
      _.getFileName.toString.endsWith(".gz")))
    assert(Files.exists(dest.resolve("manifest.json")))
    assert(Files.exists(dest.resolve("columns.yaml")))
    // avro extract: container part files + the same manifest contract
    val outA = Files.createTempDirectory("graft_cli_exa_").toString
    Cli.run(spark, "extract", Map(
      "designs" -> designsDir, "data" -> dataDir, "out" -> outA,
      "select" -> "cli.region", "format" -> "avro"))
    val destA = Paths.get(outA, "cli.region")
    import scala.jdk.CollectionConverters._
    assert(Files.list(destA).iterator().asScala.exists(
      _.getFileName.toString.endsWith(".avro")))
    assert(Files.exists(destA.resolve("manifest.json")))
  }

  test("extract output round-trips through the warehouse COPY path (S10)") {
    // The reference workflow: `arthur extract` lands gzip CSV + a COPY
    // manifest; `arthur load` COPYs those files into the warehouse
    // (dialect/redshift.py:297-369). The engine's own extract artifact
    // must therefore be loadable by its own load path.
    import scala.jdk.CollectionConverters._
    for (format <- Seq("csv", "json", "parquet", "avro")) {
      val out = Files.createTempDirectory(s"graft_cli_rt_${format}_").toString
      assert(Cli.run(spark, "extract", Map(
        "designs" -> designsDir, "data" -> dataDir, "out" -> out,
        "select" -> "cli.region", "format" -> format)) == 0)
      // the part files are in the asked-for format
      val parts = Files.list(Paths.get(out, "cli.region")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
      assert(parts.nonEmpty && parts.forall(_.contains(s".$format")),
        s"$format extract wrote $parts")
      val wh = Files.createTempDirectory(s"graft_cli_rtwh_${format}_").toString
      // load with --data pointing at the EXTRACT output, not parquet
      assert(Cli.run(spark, "load", Map(
        "designs" -> designsDir, "data" -> out, "warehouse" -> wh,
        "select" -> "cli.region")) == 0)
      val loaded = spark.table("`cli`.`region`")
        .orderBy("r_regionkey").collect().toSeq
      val expected = spark.read.parquet(s"$dataDir/region.parquet")
        .selectExpr("CAST(r_regionkey AS INT) AS r_regionkey", "r_name")
        .orderBy("r_regionkey").collect().toSeq
      assert(loaded == expected, s"$format round-trip mismatch")
    }
    // a format typo is refused before anything is written
    val typo = Files.createTempDirectory("graft_cli_rt_typo_").toString
    intercept[IllegalArgumentException] {
      Cli.run(spark, "extract", Map(
        "designs" -> designsDir, "data" -> dataDir, "out" -> typo,
        "select" -> "cli.region", "format" -> "cvs"))
    }
    assert(!Files.exists(Paths.get(typo, "cli.region")))
  }

  test("COPY builds a relation from a parquet UNLOAD artifact") {
    // unload the published relation as parquet, then build it from
    // that artifact into a fresh warehouse; the assertions read the
    // build itself, not the session catalog an earlier build left
    val wh = Files.createTempDirectory("graft_cli_pqwh_").toString
    assert(Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "select" -> "cli.region")) == 0)
    val out = Files.createTempDirectory("graft_cli_pq_").toString
    assert(Cli.run(spark, "unload", Map(
      "designs" -> designsDir, "out" -> out, "select" -> "cli.region",
      "format" -> "parquet")) == 0)
    val region = graft.etl.FileSets.discover(designsDir)
      .find(_.identifier == "cli.region").get
    val fresh = new graft.etl.Warehouse(spark,
      Files.createTempDirectory("graft_cli_pqwh2_").toString, out)
    assert(fresh.buildOneRelation(region).rowcount == 5)
    val expected = spark.read.parquet(s"$dataDir/region.parquet")
      .selectExpr("CAST(r_regionkey AS INT) AS r_regionkey", "r_name")
      .orderBy("r_regionkey").collect().toSeq
    assert(fresh.sourceDataFrame(region.design)
      .orderBy("r_regionkey").collect().toSeq == expected)
  }

  test("COPY ingests a JSON 'auto' artifact and prefers artifacts over parquet") {
    // the reference's third COPY format (JSON 'auto',
    // dialect/redshift.py:307): field-name-matched, schema-on-load.
    val out = Files.createTempDirectory("graft_cli_json_").toString
    val dest = s"$out/cli.region"
    val src = spark.read.parquet(s"$dataDir/region.parquet")
      .selectExpr("CAST(r_regionkey AS INT) AS r_regionkey", "r_name")
    src.write.json(dest)
    // give the artifact the COPY manifest contract
    graft.etl.Artifact.writeManifest(dest)
    // ALSO drop a decoy parquet stand-in with different content: the
    // load path must prefer the manifest artifact, not silently fall
    // back to parquet
    src.limit(1).write.parquet(s"$out/region.parquet")
    val wh = Files.createTempDirectory("graft_cli_jsonwh_").toString
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> out, "warehouse" -> wh,
      "select" -> "cli.region"))
    val loaded = spark.table("`cli`.`region`")
      .orderBy("r_regionkey").collect().toSeq
    assert(loaded.size == 5, s"artifact not preferred: ${loaded.size} rows")
    assert(loaded == src.orderBy("r_regionkey").collect().toSeq)
  }

  test("extract --use-sampling is accepted; below 100MB the extract is complete") {
    // database_extractor.py:38-41: sampling only kicks in over 100 MB —
    // a small table must come through whole even with the flag set.
    val out = Files.createTempDirectory("graft_cli_smp_").toString
    Cli.run(spark, "extract", Map(
      "designs" -> designsDir, "data" -> dataDir, "out" -> out,
      "select" -> "cli.region", "use-sampling" -> "true"))
    val back = graft.etl.Artifact.reload(spark, s"$out/cli.region")
    assert(back.count() == 5)
  }

  test("query_events --summarize rolls up a run's event log per step") {
    val wh = Files.createTempDirectory("graft_cli_sum_").toString
    val events = Files.createTempDirectory("graft_cli_sumev_")
      .resolve("ev.jsonl").toString
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "events" -> events))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, "query_events", Map(
        "events" -> events, "summarize" -> "true"))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    // both relations loaded under the "load" step, zero failures
    assert(lines.exists(l => l.contains("load") && l.contains("finish=2")
      && l.contains("fail=0")), s"unexpected summary: $lines")
  }

  test("cli upgrade: default expands to dependents, --only-selected does not") {
    val wh = Files.createTempDirectory("graft_cli_upwh_").toString
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh))
    // default: upgrading cli.region rebuilds cli.summary too, like load
    val ev1 = Files.createTempDirectory("graft_cli_upev1_")
      .resolve("ev.jsonl").toString
    Cli.run(spark, "upgrade", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "select" -> "cli.region", "events" -> ev1))
    val targets1 = graft.etl.Monitor.readLog(ev1)
      .filter(e => e.step == "upgrade" && e.event == "finish").map(_.target)
    assert(targets1 == Seq("cli.region", "cli.summary"),
      s"default upgrade must include dependents, got $targets1")
    // --only-selected: ONLY the selection rebuilds — the reference's
    // debugging flag `load` cannot express (commands.py:1180-1186)
    val ev2 = Files.createTempDirectory("graft_cli_upev2_")
      .resolve("ev.jsonl").toString
    Cli.run(spark, "upgrade", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "select" -> "cli.region", "only-selected" -> "true", "events" -> ev2))
    val targets2 = graft.etl.Monitor.readLog(ev2)
      .filter(e => e.step == "upgrade" && e.event == "finish").map(_.target)
    assert(targets2 == Seq("cli.region"),
      s"--only-selected must not rebuild dependents, got $targets2")
    assert(!graft.etl.Monitor.readLog(ev2).exists(_.event == "fail"))
    // the standard tables still serve correct data after both upgrades
    assert(spark.table("`cli`.`summary`").collect().head.getLong(0) == 5L)
    // an --only-selected upgrade of the TRANSFORMATION reads its dep
    // at the published standard position (outside the run)
    val code = Cli.run(spark, "upgrade", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "select" -> "cli.summary", "only-selected" -> "true"))
    assert(code == 0)
    assert(spark.table("`cli`.`summary`").collect().head.getLong(0) == 5L)
  }

  test("cli upgrade --into-schema builds a relocated copy, standard untouched") {
    val wh = Files.createTempDirectory("graft_cli_iswh_").toString
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh))
    val ident = org.apache.spark.sql.catalyst.TableIdentifier("summary", Some("cli"))
    val locBefore =
      spark.sessionState.catalog.getTableMetadata(ident).location.toString
    val code = Cli.run(spark, "upgrade", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "select" -> "cli.summary", "into-schema" -> "scratch"))
    assert(code == 0)
    // the relocated copy reads its dependency at the NORMAL position
    assert(spark.table("`scratch`.`summary`").collect().head.getLong(0) == 5L)
    // standard position is untouched — same location, same data
    assert(spark.sessionState.catalog.getTableMetadata(ident).location.toString
      == locBefore, "--into-schema must not touch the standard table")
    // selecting relations that depend on each other is refused
    intercept[graft.etl.InvalidSelectionError] {
      Cli.run(spark, "upgrade", Map(
        "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
        "select" -> "cli.region,cli.summary", "into-schema" -> "scratch"))
    }
    // and --into-schema without a selection is a usage error
    assert(Cli.run(spark, "upgrade", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "into-schema" -> "scratch")) == 2)
  }

  test("cli --max-concurrency and its setting: one positive-integer rule for load, upgrade, extract") {
    val wh = Files.createTempDirectory("graft_cli_mcwh_").toString
    val base = Map("designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "out" -> Files.createTempDirectory("graft_cli_mcex_").toString)
    val cfg = Files.createTempDirectory("graft_cli_mccfg_")
    Files.write(cfg.resolve("zero.yaml"),
      "graft_settings:\n  load:\n    max_concurrency: 0\n".getBytes(StandardCharsets.UTF_8))
    val commands = Seq("load", "upgrade", "extract")
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      // a flag that is not a positive integer is a usage error
      for (cmd <- commands; bad <- Seq("abc", "0", "-3"))
        assert(Cli.run(spark, cmd, base + ("max-concurrency" -> bad)) == 2,
          s"$cmd --max-concurrency $bad")
      // without the flag, all three read the setting, and refuse a bad one
      for (cmd <- commands)
        assert(Cli.run(spark, cmd, base + ("config" -> cfg.toString)) == 1,
          s"$cmd with max_concurrency: 0")
    } finally System.setErr(prevErr)
    val err = errBuf.toString("UTF-8")
    assert(err.contains("--max-concurrency: not a positive integer: 'abc'") &&
      err.contains("usage: graft.Cli"), err)
    assert(err.contains("graft_settings.load.max_concurrency: not a positive integer: '0'"), err)
    assert(Cli.run(spark, "load", base + ("max-concurrency" -> "2")) == 0)
    assert(spark.table("`cli`.`summary`").collect().head.getLong(0) == 5L)
  }

  test("cli check_constraints: zero on clean, non-zero with samples on violation") {
    val wh = Files.createTempDirectory("graft_cli_ccwh_").toString
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh))
    assert(Cli.run(spark, "check_constraints", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh)) == 0)
    // audit drift: a designs dir declaring a PK the loaded data
    // violates (r_name is unique per region, but load 'cli2.dups'
    // from orders where o_custkey repeats)
    val designs2 = Files.createTempDirectory("graft_cli_ccd2_").toString
    val schemaDir2 = Paths.get(designs2, "schemas", "cli")
    Files.createDirectories(schemaDir2)
    // same region relation, now claiming a PK on a non-key column of
    // the ALREADY-PUBLISHED table: 5 distinct r_regionkey%2 values
    Files.write(schemaDir2.resolve("region.yaml"),
      """name: cli.region
        |source_name: cli
        |columns:
        |  - name: r_regionkey
        |    type: int
        |    not_null: true
        |  - name: r_name
        |    type: string
        |constraints:
        |  - primary_key: [r_regionkey]
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    Files.write(schemaDir2.resolve("cli-summary.yaml"),
      """name: cli.summary
        |source_name: CTAS
        |depends_on: [cli.region]
        |columns:
        |  - name: n
        |    type: long
        |    not_null: true
        |constraints:
        |  - primary_key: [n]
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    Files.write(schemaDir2.resolve("cli-summary.sql"),
      "SELECT COUNT(*) AS n FROM cli.region".getBytes(StandardCharsets.UTF_8))
    // summary holds ONE row -> PK [n] passes; seed a duplicate row by
    // appending to the published table's location to simulate corruption
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("summary", Some("cli")))
      .location.toString
    spark.range(1).selectExpr("CAST(5 AS BIGINT) AS n")
      .write.mode("append").parquet(loc)
    spark.catalog.refreshTable("`cli`.`summary`")
    val err = new java.io.ByteArrayOutputStream()
    // Cli reports on java.lang.System.err (not scala.Console.err)
    val realErr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val code = try Cli.run(spark, "check_constraints", Map(
        "designs" -> designs2, "data" -> dataDir, "warehouse" -> wh))
      finally System.setErr(realErr)
    assert(code == 1, "violation must exit non-zero")
    val msg = err.toString("UTF-8")
    assert(msg.contains("cli.summary") && msg.contains("primary_key")
      && msg.contains("examples:"), s"expected sample keys, got: $msg")
  }

  test("cli load --skip-copy creates empty structures") {
    val wh = Files.createTempDirectory("graft_cli_skwh_").toString
    val events = Files.createTempDirectory("graft_cli_skev_")
      .resolve("ev.jsonl").toString
    val code = Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "skip-copy" -> "true", "events" -> events))
    assert(code == 0)
    assert(spark.table("`cli`.`region`").count() == 0,
      "skip-copy must leave the table empty")
    val evs = graft.etl.Monitor.readLog(events)
    assert(evs.count(_.event == "finish") == 2 && !evs.exists(_.event == "fail"))
  }

  test("cli initialize / promote_schemas: deferred publish of staged builds") {
    val wh = Files.createTempDirectory("graft_cli_prwh_").toString
    assert(Cli.run(spark, "initialize", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh)) == 0)
    assert(spark.catalog.databaseExists("cli")
      && spark.catalog.databaseExists("etl_staging__cli")
      && spark.catalog.databaseExists("etl_backup__cli"))
    // stage a build WITHOUT publishing, then promote standalone
    val designs = graft.etl.FileSets.discover(designsDir)
    val warehouse = new graft.etl.Warehouse(spark, wh, dataDir)
    warehouse.loadRelations(designs, graft.etl.SchemaPosition.Staging)
    spark.sql("DROP TABLE IF EXISTS `cli`.`region`")
    spark.sql("DROP TABLE IF EXISTS `cli`.`summary`")
    assert(Cli.run(spark, "promote_schemas", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh)) == 0)
    assert(spark.table("`cli`.`summary`").collect().head.getLong(0) == 5L)
    assert(!spark.catalog.tableExists("`etl_staging__cli`.`summary`"))
  }

  test("cli run_sql executes a multi-statement script") {
    val script = Files.createTempDirectory("graft_cli_sql_").resolve("s.sql")
    Files.write(script,
      """CREATE OR REPLACE TEMPORARY VIEW rs_t AS SELECT 41 AS x;
        |SELECT x + 1 AS answer FROM rs_t
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, "run_sql", Map("file" -> script.toString))
    }
    assert(code == 0 && out.toString("UTF-8").contains("42"),
      s"got: ${out.toString("UTF-8")}")
  }

  test("cli ping answers") {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, "ping", Map.empty)
    }
    assert(code == 0 && out.toString("UTF-8").contains("[ping] ok"))
  }

  test("cli show_upstream_dependencies lists the feeding chain") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, "show_upstream_dependencies", Map(
        "designs" -> designsDir, "select" -> "cli.summary"))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq.filter(_.nonEmpty)
    // the selected transformation AND the source feeding it
    assert(lines.exists(_.contains("cli.region")), s"missing upstream: $lines")
    assert(lines.exists(_.contains("cli.summary")), s"missing selection: $lines")
  }

  test("query_events --follow emits events appended while following") {
    import java.nio.file.StandardOpenOption
    val events = Files.createTempDirectory("graft_cli_fol_")
      .resolve("ev.jsonl")
    def line(target: String, step: String) =
      s"""{"target":"$target","step":"$step","event":"finish","elapsed":1.0,"ts":1}\n"""
    Files.write(events, line("cli.region", "load").getBytes(StandardCharsets.UTF_8))
    // a writer lands one more event AFTER the follow loop starts
    val appender = new Thread(() => {
      Thread.sleep(200)
      Files.write(events, line("cli.summary", "upgrade").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.APPEND)
    })
    appender.start()
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, "query_events", Map(
        "events" -> events.toString, "follow" -> "true",
        "poll-ms" -> "50", "idle-timeout-ms" -> "800"))
    }
    appender.join()
    assert(code == 0)
    val s = out.toString("UTF-8")
    assert(s.contains("cli.region load finish"), s"seed event missing: $s")
    assert(s.contains("cli.summary upgrade finish"),
      s"follow must emit the late event: $s")
  }

  test("cli unload writes the published relation; continue-from skips") {
    val wh = Files.createTempDirectory("graft_cli_wh2_").toString
    // continue-from cli.summary: region (earlier in execution order)
    // must be skipped — so build everything first, then re-load.
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh))
    // fast-forwarded load: cli.region is OUTSIDE the run (its staging
    // table was dropped at the previous publish) — the rebuild must
    // read it at the published standard position and actually happen
    val events = Files.createTempDirectory("graft_cli_ev_")
      .resolve("ev.jsonl").toString
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "continue-from" -> "cli.summary", "events" -> events))
    val evs = graft.etl.Monitor.readLog(events)
    assert(evs.exists(e => e.target == "cli.summary" &&
      e.event == "finish" && e.rowcount.contains(1L)),
      s"summary was not rebuilt: $evs")
    assert(!evs.exists(_.event == "fail"), s"silent failure: $evs")
    assert(spark.table("`cli`.`summary`").collect().head.getLong(0) == 5L)
    val out = Files.createTempDirectory("graft_cli_un_").toString
    Cli.run(spark, "unload", Map(
      "designs" -> designsDir, "out" -> out, "select" -> "cli.summary"))
    assert(Files.exists(Paths.get(out, "cli.summary", "manifest.json")))
  }

  private def captureOut(body: => Int): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) { body }
    (code, out.toString("UTF-8"))
  }

  test("cli show_value / show_vars read defaults and --config overrides") {
    val (c1, v1) = captureOut { Cli.run(spark, "show_value",
      Map("name" -> "graft_settings.load.max_concurrency")) }
    assert(c1 == 0 && v1.trim == "4")
    val cfg = Files.createTempDirectory("graft_cli_cfg_")
    Files.write(cfg.resolve("prod.yaml"),
      "graft_settings:\n  load:\n    max_concurrency: 12\n"
        .getBytes(StandardCharsets.UTF_8))
    val (c2, v2) = captureOut { Cli.run(spark, "show_value", Map(
      "config" -> cfg.toString, "name" -> "graft_settings.load.max_concurrency")) }
    assert(c2 == 0 && v2.trim == "12")
    val (c3, v3) = captureOut { Cli.run(spark, "settings",
      Map("name" -> "graft_settings.*retries")) }
    assert(c3 == 0 && v3.contains("copy_data_retries") && !v3.contains("max_concurrency"))
    // an unknown name without a default is a user error: exit 1
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      assert(Cli.run(spark, "show_value", Map("name" -> "no.such.thing")) == 1)
      assert(Cli.run(spark, "render_template", Map("template" -> "nope")) == 1)
    } finally System.setErr(prevErr)
    assert(errBuf.toString("UTF-8").contains("no value"))
  }

  test("cli run_query: statement_timeout aborts, result cache hits") {
    val cfg = Files.createTempDirectory("graft_cli_qmr_")
    Files.write(cfg.resolve("settings.yaml"),
      "resources:\n  RedshiftCluster:\n    statement_timeout: 700\n"
        .getBytes(StandardCharsets.UTF_8))
    // a fast query under the timeout answers normally
    val (c1, v1) = captureOut { Cli.run(spark, "run_query", Map(
      "sql" -> "SELECT 1 AS x", "config" -> cfg.toString)) }
    assert(c1 == 0 && v1.contains("1"))
    // a quadratic cross join blows the 700 ms budget → orderly exit 1
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    val c2 =
      try Cli.run(spark, "run_query", Map(
        "sql" -> ("SELECT sum(a.id * b.id) AS s FROM range(300000) a " +
          "CROSS JOIN range(300000) b"),
        "config" -> cfg.toString))
      finally System.setErr(prevErr)
    assert(c2 == 1, "timed-out query must exit non-zero")
    assert(errBuf.toString("UTF-8").contains("statement_timeout"))
    // --cache: second identical run is a HIT with identical output
    val cacheDir = Files.createTempDirectory("graft_cli_rc_").toString
    def cached() = {
      val eb = new java.io.ByteArrayOutputStream()
      val pe = System.err
      System.setErr(new java.io.PrintStream(eb, true, "UTF-8"))
      val r = try captureOut { Cli.run(spark, "run_query", Map(
        "sql" -> "SELECT 21 * 2 AS answer", "cache" -> cacheDir)) }
      finally System.setErr(pe)
      (r._1, r._2, eb.toString("UTF-8"))
    }
    val (m1, o1, e1) = cached()
    assert(m1 == 0 && o1.contains("42") && e1.contains("MISS"))
    val (m2, o2, e2) = cached()
    assert(m2 == 0 && o2 == o1 && e2.contains("HIT"))
  }

  test("cli explain --sql and standalone analyze verb") {
    val (c1, plan) = captureOut { Cli.run(spark, "explain", Map(
      "sql" -> "SELECT TOP 3 id FROM range(10) ORDER BY id")) }
    assert(c1 == 0 && plan.nonEmpty, plan.take(200))
    // the dialect shim ran before planning: TOP 3 plans as a limit
    // (TakeOrderedAndProject under an ORDER BY)
    assert(plan.toLowerCase.contains("takeorderedandproject") ||
      plan.toLowerCase.contains("limit"), plan.take(400))
    val whDir = Files.createTempDirectory("graft_cli_an_").toString
    val wh = new etl.Warehouse(spark, whDir, dataDir)
    val s = spark
    import s.implicits._
    wh.writeTable(etl.TableName.parse("an.t"),
      Seq(1L, 2L, 3L).toDF("k"))
    val (c2, out) = captureOut { Cli.run(spark, "analyze", Map(
      "data" -> dataDir, "warehouse" -> whDir, "table" -> "an.t")) }
    assert(c2 == 0 && out.contains("rows=3"), out)
  }

  test("run_query, run_sql and explain --sql agree with the dialect door") {
    val statements = Seq(
      "SELECT DATEDIFF(day, TIMESTAMP '2024-01-31 23:00:00', TIMESTAMP '2024-02-01 01:00:00') AS d, " +
        "TRUNC(TIMESTAMP '2024-01-31 10:00:00', 'D') AS w",
      "SELECT TO_CHAR(DATE '2024-02-03', 'Mon YYYY') AS m",
      "SELECT id FROM range(5) QUALIFY ROW_NUMBER() OVER (ORDER BY id DESC) <= 2",
      "SELECT 'abc' SIMILAR TO 'a%' AS a, 'xbc' SIMILAR TO 'a%' AS x",
      "SELECT TOP 2 id FROM range(10) ORDER BY id",
      "SELECT APPROXIMATE COUNT(DISTINCT id) AS n FROM range(10)",
      "SELECT id, RATIO_TO_REPORT(id) OVER () AS r FROM range(1, 5)",
      "SELECT i, e FROM (SELECT '[\"x\", \"y\"]' AS tags) s, s.tags AS e AT i",
      "SELECT s.id FROM (SELECT 1 AS id, '{\"q\": [1, 5]}' AS doc " +
        "UNION ALL SELECT 2, '{\"q\": [1, 2]}') s WHERE s.doc.q[*] > 3")
    statements.foreach { sql =>
      val door = etl.DialectShims.sql(spark, sql).collect().map(_.toSeq
        .map(v => Option(v).map(_.toString).getOrElse("NULL")).mkString(" | ")).toSeq.sorted
      val (c1, q) = captureOut { Cli.run(spark, "run_query", Map("sql" -> sql)) }
      val (c2, r) = captureOut { Cli.run(spark, "run_sql", Map("sql" -> sql)) }
      assert(c1 == 0 && c2 == 0, sql)
      // run_query prints a header line first
      assert(q.linesIterator.drop(1).toSeq.sorted == door, s"run_query: $sql\n$q")
      assert(r.linesIterator.toSeq.sorted == door, s"run_sql: $sql\n$r")
      assert(captureOut { Cli.run(spark, "explain", Map("sql" -> sql)) }._1 == 0, sql)
    }
    val (_, first) = captureOut { Cli.run(spark, "run_query", Map("sql" -> statements.head)) }
    assert(first.linesIterator.toSeq.last == "1 | 2024-01-28", first)
  }

  test("cli create_mv / refresh_mv: stored defs arm the rewrite across sessions") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{count, lit, sum}
    val whDir = Files.createTempDirectory("graft_cli_mv_").toString
    val wh = new etl.Warehouse(spark, whDir, dataDir)
    val baseT = etl.TableName.parse("mvs.sales")
    wh.writeTable(baseT, Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("g", "x"))
    assert(Cli.run(spark, "create_mv", Map(
      "data" -> dataDir, "warehouse" -> whDir, "name" -> "sales_mv",
      "base" -> "mvs.sales", "group-cols" -> "g", "agg-cols" -> "x")) == 0)
    def agg = spark.table("`mvs`.`sales`").groupBy("g")
      .agg(sum("x").as("sx"), count(lit(1)).as("n")).orderBy("g")
    def onMv: Boolean = {
      val p = graft.queries.MvOps.scanPaths(agg)
      p.nonEmpty && p.forall(_.contains("sales_mv"))
    }
    try {
      // a FRESH arm (as any later CLI command would do) rewrites
      assert(etl.MvCatalog.armAll(spark, wh) == 1)
      assert(onMv)
      assert(agg.collect().map(_.toSeq).toSeq ==
        Seq(Seq("a", 4L, 2L), Seq("b", 2L, 1L)))
      // base moves → stored def is stale → disarmed until refresh
      wh.appendToTableIdempotent(baseT, Seq(("c", 7L)).toDF("g", "x"), "b1")
      etl.MvCatalog.armAll(spark, wh)
      assert(!onMv, "stale def must not rewrite")
      // refresh_mv needs only the name — cols come from the stored def
      assert(Cli.run(spark, "refresh_mv", Map(
        "data" -> dataDir, "warehouse" -> whDir, "name" -> "sales_mv")) == 0)
      assert(etl.MvCatalog.armAll(spark, wh) == 1)
      assert(onMv, "refreshed def must rewrite again")
      assert(agg.collect().map(_.toSeq).toSeq ==
        Seq(Seq("a", 4L, 2L), Seq("b", 2L, 1L), Seq("c", 7L, 1L)))
      // run_query arms stored MVs itself and answers correctly
      val (c, out) = captureOut { Cli.run(spark, "run_query", Map(
        "sql" -> "SELECT g, sum(x) AS sx FROM mvs.sales GROUP BY g ORDER BY g",
        "data" -> dataDir, "warehouse" -> whDir)) }
      assert(c == 0 && out.contains("a | 4") && out.contains("c | 7"), out)
    } finally graft.plans.MvRewrite.unregister(spark, "sales_mv")
  }

  test("cli create_external_schemas registers tables readable by a transform") {
    val s = spark
    import s.implicits._
    // a landing area with one parquet table directory
    val landing = Files.createTempDirectory("graft_cli_ext_")
    Seq((1, "alpha"), (2, "beta"), (3, "gamma")).toDF("id", "name")
      .write.parquet(landing.resolve("labels").toString)
    val cfg = Files.createTempDirectory("graft_cli_extcfg_")
    Files.write(cfg.resolve("ext.yaml"),
      s"""external_schemas:
         |  landing:
         |    location: $landing
         |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    // dry run registers nothing
    val (c0, dry) = captureOut { Cli.run(spark, "create_external_schemas",
      Map("config" -> cfg.toString, "dry-run" -> "true")) }
    assert(c0 == 0 && dry.contains("would register landing.labels"))
    assert(!spark.catalog.tableExists("`landing`.`labels`"))
    // real run: table registered, metadata only
    val (c1, out1) = captureOut { Cli.run(spark, "create_external_schemas",
      Map("config" -> cfg.toString)) }
    assert(c1 == 0 && out1.contains("registered landing.labels"))
    // a selection that is not an external schema is a user error
    assert(Cli.run(spark, "create_external_schemas",
      Map("config" -> cfg.toString, "select" -> "nope")) == 1)
    // and a TRANSFORM reads through the external schema end-to-end
    val designs2 = Files.createTempDirectory("graft_cli_extd_")
    val sdir = designs2.resolve("schemas").resolve("rep2")
    Files.createDirectories(sdir)
    Files.write(sdir.resolve("rep2-label_count.yaml"),
      """name: rep2.label_count
        |source_name: CTAS
        |depends_on: [landing.labels]
        |columns:
        |  - name: n
        |    type: long
        |    not_null: true
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    Files.write(sdir.resolve("rep2-label_count.sql"),
      "SELECT COUNT(*) AS n FROM landing.labels"
        .getBytes(StandardCharsets.UTF_8))
    val whDir = Files.createTempDirectory("graft_cli_extwh_").toString
    assert(Cli.run(spark, "load", Map("designs" -> designs2.toString,
      "data" -> dataDir, "warehouse" -> whDir)) == 0)
    assert(spark.table("`rep2`.`label_count`").collect().head.getLong(0) == 3L)
  }

  test("cli selftest passes all embedded checks; run_sql_template renders+runs") {
    val (code, out) = captureOut { Cli.run(spark, "selftest", Map.empty) }
    assert(code == 0, s"selftest failed:\n$out")
    assert(out.contains("PASS functions.native") &&
      out.contains("PASS warehouse.lifecycle") && !out.contains("FAIL"))
    // the run_sql_template alias: render the packaged SQL template and
    // execute it in one step
    val (c2, res) = captureOut { Cli.run(spark, "run_sql_template",
      Map("template" -> "compile_time")) }
    assert(c2 == 0 && res.contains("graft-r10"), s"got: $res")
  }

  test("summarize_events: latest event per relation, schema rollup, tally") {
    val wh = Files.createTempDirectory("graft_cli_sev_").toString
    val events = Files.createTempDirectory("graft_cli_sevev_")
      .resolve("ev.jsonl").toString
    Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir, "warehouse" -> wh,
      "events" -> events))
    val (code, out) = captureOut { Cli.run(spark, "summarize_events", Map(
      "events" -> events, "designs" -> designsDir)) }
    assert(code == 0)
    val lines = out.linesIterator.toSeq
    // latest event per relation is the load finish, kind from the designs
    assert(lines.exists(l => l.contains("cli.region") && l.contains("DATA")
      && l.contains("finish") && l.contains("rows=5")), s"got:\n$out")
    assert(lines.exists(l => l.contains("cli.summary") && l.contains("CTAS")
      && l.contains("finish") && l.contains("rows=1")), s"got:\n$out")
    // per-schema pseudo row sums the relations' rowcounts
    assert(lines.exists(l => l.contains(" cli ") && l.contains("complete")
      && l.contains("rows=6")), s"got:\n$out")
    assert(lines.exists(_.contains("start=0 finish=2 fail=0")), s"got:\n$out")
  }

  test("tail_events: default 15-minute window hides old events") {
    val dir = Files.createTempDirectory("graft_cli_tev_")
    val ev = dir.resolve("ev.jsonl").toString
    val old = """{"target":"cli.old","step":"load","event":"finish","elapsed":1.0,"rowcount":1,"ts":1000}"""
    val recent = s"""{"target":"cli.recent","step":"load","event":"finish","elapsed":1.0,"rowcount":2,"ts":${System.currentTimeMillis()}}"""
    Files.write(dir.resolve("ev.jsonl"),
      (old + "\n" + recent + "\n").getBytes(StandardCharsets.UTF_8))
    val (c1, w1) = captureOut { Cli.run(spark, "tail_events", Map("events" -> ev)) }
    assert(c1 == 0 && w1.contains("cli.recent") && !w1.contains("cli.old"),
      s"window must hide the old event:\n$w1")
    // explicit --start-time widens the window to cover both
    val (c2, w2) = captureOut { Cli.run(spark, "tail_events", Map(
      "events" -> ev, "start-time" -> "0")) }
    assert(c2 == 0 && w2.contains("cli.old") && w2.contains("cli.recent"))
  }

  test("cli tail_logs --follow emits events appended mid-follow") {
    val dir = Files.createTempDirectory("graft_cli_fl_")
    val ev = dir.resolve("ev.jsonl").toString
    val mon = new graft.etl.Monitor(Some(ev))
    mon.monitored("rep.before", "load") { ((), Some(1L)) }
    // append a new event while the follower polls
    val writer = new Thread(() => {
      Thread.sleep(300)
      mon.monitored("rep.during", "load") { ((), Some(2L)) }
    })
    writer.start()
    val (code, out) = captureOut { Cli.run(spark, "tail_logs", Map(
      "events" -> ev, "follow" -> "true",
      "poll-ms" -> "100", "idle-timeout-ms" -> "2000")) }
    writer.join()
    assert(code == 0)
    assert(out.contains("rep.before") && out.contains("rep.during"),
      s"follow missed the mid-follow event: $out")
  }

  test("cli render_template lists and renders text + sql templates") {
    val (c1, list) = captureOut { Cli.run(spark, "render_template",
      Map("list" -> "true", "compact" -> "true")) }
    assert(c1 == 0 && list.linesIterator.toSeq == Seq("run_banner", "runtime_env"))
    val (c2, banner) = captureOut { Cli.run(spark, "render_template",
      Map("template" -> "run_banner")) }
    assert(c2 == 0 && banner.contains("graft-r10"))
    // a rendered SQL template must be runnable as-is through run_sql
    val (c3, sql) = captureOut { Cli.run(spark, "render_template",
      Map("template" -> "compile_time", "sql" -> "true")) }
    assert(c3 == 0)
    val (c4, res) = captureOut { Cli.run(spark, "run_sql", Map("sql" -> sql)) }
    assert(c4 == 0 && res.contains("graft-r10"), s"got: $res")
  }

  test("cli list_tags collects design tags; tail_logs renders an event log") {
    val tagged = Files.createTempDirectory("graft_cli_tags_")
    val sdir = tagged.resolve("schemas").resolve("tg")
    Files.createDirectories(sdir)
    Files.write(sdir.resolve("tg-a.yaml"),
      """name: tg.a
        |source_name: CTAS
        |tags: [hourly, core]
        |columns:
        |  - name: x
        |    type: int
        |query: SELECT 1 AS x
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val (c1, tags) = captureOut { Cli.run(spark, "list_tags",
      Map("designs" -> tagged.toString)) }
    assert(c1 == 0 && tags.contains("'core', 'hourly'"), s"got: $tags")
    val (c2, none) = captureOut { Cli.run(spark, "list_tags",
      Map("designs" -> designsDir)) }
    assert(c2 == 0 && none.contains("No tags found"))
    // tail_logs over a real run's event log
    val ev = Files.createTempDirectory("graft_cli_tl_").resolve("ev.jsonl").toString
    val whDir = Files.createTempDirectory("graft_cli_tlwh_").toString
    Cli.run(spark, "load", Map("designs" -> designsDir, "data" -> dataDir,
      "warehouse" -> whDir, "events" -> ev))
    val (c3, logs) = captureOut { Cli.run(spark, "tail_logs", Map("events" -> ev)) }
    assert(c3 == 0 && logs.contains("INFO") && logs.contains("cli.summary"),
      s"got: $logs")
  }

  test("cli load --serve-port serves live events mid-run, releases the port after") {
    // pre-allocate a free port so the poller knows where to look
    val sock = new java.net.ServerSocket(0)
    val port = sock.getLocalPort
    sock.close()
    val wh = Files.createTempDirectory("graft_cli_srv_").toString

    def poll(path: String): Option[String] =
      try {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(200); conn.setReadTimeout(500)
        val body =
          if (conn.getResponseCode == 200)
            Some(new String(conn.getInputStream.readAllBytes(),
              StandardCharsets.UTF_8))
          else None
        conn.disconnect()
        body
      } catch { case _: java.io.IOException => None }

    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val load = Future(Cli.run(spark, "load", Map(
      "designs" -> designsDir, "data" -> dataDir,
      "warehouse" -> wh, "serve-port" -> port.toString)))
    // the load takes O(seconds); the dashboard must answer while it runs
    var lastEvents: Option[String] = None
    var lastId: Option[String] = None
    while (!load.isCompleted) {
      poll("/api/events").foreach(b => lastEvents = Some(b))
      poll("/api/etl-id").foreach(b => lastId = Some(b))
      Thread.sleep(20)
    }
    assert(Await.result(load, 1.minute) == 0)
    assert(lastEvents.exists(_.contains("\"target\":\"cli.")),
      s"no live event observed mid-load: $lastEvents")
    assert(lastId.exists(_.startsWith("""{"id":""")), s"etl-id: $lastId")
    // command done => server stopped => the port is released
    assert(poll("/api/etl-id").isEmpty, "server still answering after the run")
  }
}
