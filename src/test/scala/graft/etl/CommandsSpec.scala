package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Ops commands (Q1/Q4/Q5/Q10), UDF surface (§2.11), retry (D8),
  * static sources (S7-S9), update (T6), event-driven load (D6),
  * ANALYZE (L6). */
class CommandsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rel(yaml: String): Relation = Relation(TableDesign.load(yaml))

  private val srcNation = rel(
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
      |""".stripMargin)

  private val repTop = rel(
    """name: rep.top_n
      |source_name: CTAS
      |depends_on: [src.nation]
      |columns:
      |  - name: n_name
      |    type: string
      |query: SELECT n_name FROM src.nation WHERE n_nationkey < 5
      |""".stripMargin)

  test("Q7: events log round-trips; query filters by glob+step; tail") {
    val log = Files.createTempDirectory("graft_ev_").resolve("events.jsonl").toString
    val mon = new Monitor(Some(log))
    mon.monitored("src.nation", "load") { ((), Some(25L)) }
    mon.monitored("rep.top_n", "load") { ((), Some(5L)) }
    intercept[RuntimeException] {
      mon.monitored("rep.bad", "load") {
        throw new RuntimeException("boom\nwith \"newline\"\tand tab")
      }
    }
    mon.monitored("src.nation", "unload") { ((), Some(25L)) }
    // in-memory query surface
    assert(mon.query(target = Some("src.*")).map(_.step).distinct.sorted ==
      Seq("load", "unload"))
    assert(mon.query(step = Some("load")).count(_.event == "fail") == 1)
    assert(mon.tail(2).map(_.event) == Seq("start", "finish"))
    // the log file parses back identically — including the control
    // chars in the failure message (broken-JSON regression guard)
    val back = Monitor.readLog(log)
    assert(back == mon.events)
    assert(back.find(_.event == "fail").get.message.get.contains("\n"))
    // cross-run query: filter over the re-read log
    val failed = Monitor.filter(back, Some("rep.*"), Some("load"))
      .filter(_.event == "fail")
    assert(failed.map(_.target) == Seq("rep.bad"))
    // since-filter: every event is stamped; a cut at the last event's
    // ts keeps only it, a cut beyond keeps none
    assert(back.forall(_.ts.nonEmpty))
    val lastTs = back.last.ts.get
    assert(Monitor.filter(back, None, None, Some(lastTs)).nonEmpty)
    assert(Monitor.filter(back, None, None, Some(lastTs + 1000)).isEmpty)
  }

  test("Q1: run_query applies the LIMIT; None means all rows") {
    spark.read.parquet(s"$sfDir/nation.parquet").createOrReplaceTempView("cmd_nation")
    assert(Commands.runQuery(spark, "SELECT n_name FROM cmd_nation", Some(3)).count() == 3)
    assert(Commands.runQuery(spark, "SELECT n_name FROM cmd_nation", None).count() == 25)
  }

  test("Q4: dependents/dependencies listings carry order, level, kind") {
    val listing = Commands.describeDependents(Seq(srcNation, repTop),
      TableSelector(Seq("src.nation")))
    assert(listing.contains("src.nation") && listing.contains("rep.top_n"))
    assert(listing.contains("TABLE") && listing.contains("CTAS"))
    // load.py:1457-1463 flags: the matched relation vs its dependents
    val lines = listing.linesIterator.toSeq
    assert(lines.exists(l => l.contains("src.nation") && l.contains("selected")))
    assert(lines.exists(l => l.contains("rep.top_n") && l.contains("dependent")))
    val up = Commands.describeDependencies(Seq(srcNation, repTop),
      TableSelector(Seq("rep.top_n")))
    assert(up.contains("src.nation"))
  }

  test("Q5: create_index emits a Markdown index with PK markers") {
    val md = Commands.createIndex(Seq(srcNation, repTop))
    assert(md.contains("## src") && md.contains("### src.nation"))
    assert(md.contains("`n_nationkey` (int) *[PK]*"))
  }

  test("Q10: runSqlScript executes statements in order") {
    val out = Commands.runSqlScript(spark,
      "CREATE DATABASE IF NOT EXISTS cmdtest; SELECT 41 + 1 AS answer")
    assert(out.get.collect().head.getInt(0) == 42)
  }

  test("Q10: split is quote- and comment-aware; intermediates execute") {
    // ';' inside string literals, backquoted identifiers, and comments
    // must not split the statement
    // leading comments attach to the statement that follows; the bare
    // `;` fragment and all-comment fragments are dropped
    val stmts = Commands.splitSqlStatements(
      """-- header; comment
        |SELECT 'a;b' AS s, `weird;col` FROM (SELECT 1 AS `weird;col`);
        |/* block; also
        |   spans lines */ SELECT 2 AS two; ;
        |SELECT 'it\'s' AS esc -- trailing; note
        |""".stripMargin)
    assert(stmts.length == 3, s"got: $stmts")
    assert(stmts(0).contains("'a;b'") && stmts(0).contains("`weird;col`"))
    assert(stmts(1).startsWith("/* block"))
    assert(stmts(2).contains("""'it\'s'"""))
    // every statement runs, not just the last: the intermediate CTAS-
    // style command plus a mid-script SELECT both execute
    val out = Commands.runSqlScript(spark,
      """CREATE DATABASE IF NOT EXISTS cmdtest;
        |CREATE OR REPLACE TEMPORARY VIEW q10_mid AS SELECT 'x;y' AS v;
        |SELECT count(*) AS n FROM q10_mid;
        |SELECT v FROM q10_mid""".stripMargin)
    assert(out.get.collect().head.getString(0) == "x;y")
  }

  test("Q10: dollar-quoted bodies never split (reference UDF script shape)") {
    // the reference's sql/001_ETL_create_f_sha256.sql wraps a function
    // body in $$…$$; semicolons inside must stay attached
    val stmts = Commands.splitSqlStatements(
      """CREATE OR REPLACE FUNCTION f(x int) RETURNS int AS $$
        |  SELECT 1; SELECT x + 1;
        |$$ LANGUAGE sql;
        |SELECT 2 AS two""".stripMargin)
    assert(stmts.length == 2, s"got: $stmts")
    assert(stmts(0).contains("SELECT 1; SELECT x + 1;"), stmts(0))
    assert(stmts(1) == "SELECT 2 AS two")
    // tagged form $fn$…$fn$ — an inner $$ is literal text there
    val tagged = Commands.splitSqlStatements(
      "DO $fn$ BEGIN x := '$$'; y := 1; END $fn$; SELECT 3")
    assert(tagged.length == 2, s"got: $tagged")
    assert(tagged(0).contains("y := 1;"))
    // `$` not opening a quote (digit-led tag, lone $) splits normally
    val plain = Commands.splitSqlStatements("SELECT '$5'; SELECT 1 $ 2; SELECT 3")
    assert(plain.length == 3, s"got: $plain")
    // a `$` CONTINUING an identifier never opens a quote (PostgreSQL
    // lexer rule: `a$b$c` is one legal identifier) — before the
    // prev-char guard this swallowed everything after `a$b$` into one
    // statement, silently losing the split
    val ident = Commands.splitSqlStatements(
      "SELECT a$b$c FROM t; SELECT x$y FROM u; SELECT 9")
    assert(ident.length == 3, s"got: $ident")
    // ...while a dollar quote after a NON-identifier char still opens
    val spaced = Commands.splitSqlStatements(
      "DO $t$ a; b $t$; SELECT 1")
    assert(spaced.length == 2, s"got: $spaced")
  }

  test("§2.11: f_sha256 matches the built-in sha2 (the native path)") {
    val r = spark.sql(
      "SELECT f_sha256('arthur') = sha2('arthur', 256) AS same").collect()
    assert(r.head.getBoolean(0))
  }

  test("D8: retry backs off and gives up per transient classification") {
    var calls = 0
    val r = Retry.callWithRetry(maxRetries = 3, baseDelayMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(r == "ok" && calls == 3)
    var calls2 = 0
    intercept[RuntimeException] {
      Retry.callWithRetry(maxRetries = 5, baseDelayMs = 1,
        isTransient = _.getMessage != "fatal") {
        calls2 += 1
        throw new RuntimeException("fatal")
      }
    }
    assert(calls2 == 1)
  }

  test("S7-S9: static source requires _SUCCESS, writes manifest, reads back") {
    val prefix = Files.createTempDirectory("graft_static_").toString
    intercept[Artifact.MissingSuccessError] { Artifact.writeManifest(prefix) }
    // stage a one-part gzip CSV extract
    Files.write(Paths.get(prefix, "part-00000.csv"),
      "1,\"alpha\"\n2,\"beta\"\n".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(prefix, "_SUCCESS"), Array.emptyByteArray)
    val manifest = Artifact.writeManifest(prefix)
    val text = new String(Files.readAllBytes(Paths.get(manifest)), StandardCharsets.UTF_8)
    assert(text.contains("part-00000.csv") && text.contains("\"mandatory\": true"))
    val design = TableDesign(TableName.parse("ext.t"), "ext", Seq(
      ColumnDef("id", "long", notNull = true), ColumnDef("name", "string")))
    val df = Artifact.read(spark, design, prefix)
    assert(df.count() == 2)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name"))
  }

  test("S9: the manifest of a partitioned prefix lists its nested part files") {
    val prefix = Files.createTempDirectory("graft_static_part_").toString
    for (v <- Seq("1", "2")) {
      Files.createDirectories(Paths.get(prefix, s"col=$v"))
      Files.write(Paths.get(prefix, s"col=$v", "part-00000.csv"),
        s"$v\n".getBytes(StandardCharsets.UTF_8))
    }
    Files.write(Paths.get(prefix, "_SUCCESS"), Array.emptyByteArray)
    val manifest = Artifact.writeManifest(prefix)
    val text = new String(Files.readAllBytes(Paths.get(manifest)), StandardCharsets.UTF_8)
    val urls = """"url": "([^"]+)"""".r.findAllMatchIn(text).map(_.group(1)).toSeq
    assert(urls == Seq(s"$prefix/col=1/part-00000.csv", s"$prefix/col=2/part-00000.csv"),
      text)
  }

  test("T6: update refreshes selected tables + transformations in place") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_upd_").toString, sfDir)
    wh.loadRelations(Seq(srcNation, repTop))
    val before = spark.table("`rep`.`top_n`").count()
    val results = wh.updateRelations(Seq(srcNation, repTop),
      TableSelector(Seq("src.nation")))
    // update of src.nation pulls rep.top_n along (dependents).
    assert(results.map(_.identifier) == Seq("src.nation", "rep.top_n"))
    assert(spark.table("`rep`.`top_n`").count() == before)
  }

  test("update --scheduled-start-time waits for a fresh extract event") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_updw_").toString, sfDir)
    wh.loadRelations(Seq(srcNation, repTop))
    // a STALE extract event (older than the scheduled start) must not
    // satisfy the gate
    wh.monitor.monitored("src.nation", "extract") { ((), Some(25L)) }
    val since = wh.monitor.events.last.ts.get + 1
    intercept[MissingExtractEventError] {
      wh.updateRelations(Seq(srcNation, repTop), TableSelector(Seq("src.nation")),
        scheduledStartMs = Some(since), waitTimeoutMs = 200, pollMs = 20)
    }
    // a fresh event landing in the CROSS-PROCESS log (the extractor
    // runs elsewhere) releases the wait and the update proceeds
    val log = Files.createTempDirectory("graft_updw_ev_")
      .resolve("events.jsonl").toString
    val extractor = new Thread(() => {
      Thread.sleep(120)
      new Monitor(Some(log)).monitored("src.nation", "extract") { ((), Some(25L)) }
    })
    extractor.start()
    val results = wh.updateRelations(Seq(srcNation, repTop),
      TableSelector(Seq("src.nation")),
      scheduledStartMs = Some(since), eventLog = Some(log),
      waitTimeoutMs = 10000, pollMs = 20)
    extractor.join()
    assert(results.map(_.identifier) == Seq("src.nation", "rep.top_n"))
  }

  test("L6: ANALYZE computes statistics on a built table") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_an_").toString, sfDir)
    wh.loadRelations(Seq(srcNation))
    wh.analyze(TableName.parse("src.nation"))
    val stats = spark.sql("DESCRIBE TABLE EXTENDED `src`.`nation`")
      .filter("col_name = 'Statistics'").collect()
    assert(stats.nonEmpty, "ANALYZE should record statistics")
  }
}
