package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The config plane: settings load/merge/flatten, show_value/show_vars,
  * template rendering (text + sql), tags, and the log tail. */
class SettingsSpec extends AnyFunSuite {

  private def writeFile(dir: java.nio.file.Path, name: String, text: String) =
    Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8))

  test("packaged defaults load, flatten to dotted names, and inject dates") {
    val s = Settings.load()
    assert(s.value("graft_settings.load.max_concurrency") == "4")
    assert(s.value("graft_settings.extract_retries") == "1")
    assert(s.intValue("graft_settings.spark.max_extract_partitions") == 32)
    // dates are UTC and path-shaped (config/__init__.py:303-308)
    assert(s.value("date.today").matches(raw"\d{4}/\d{2}/\d{2}"))
    assert(s.value("date.yesterday").matches(raw"\d{4}/\d{2}/\d{2}"))
  }

  test("every packaged graft_settings value is named by the engine or a template") {
    // a setting nothing reads is a knob that silently changes nothing
    val leaves = Settings.load().configMap.keys.filter(_.startsWith("graft_settings.")).toSeq
    assert(leaves.nonEmpty)
    val walk = Files.walk(Paths.get("src/main"))
    val readers =
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList.collect {
        case p if p.toString.endsWith(".scala") =>
          graft.ReachabilitySpec.strip(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))._1
        case p if p.toString.contains("/templates/") =>
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      }
      finally walk.close()
    val unread = leaves.filterNot(k => readers.exists(_.contains(k)))
    if (unread.nonEmpty) fail(s"settings nothing reads: ${unread.mkString(", ")}")
  }

  test("config dirs deep-merge onto defaults in filename order") {
    val d = Files.createTempDirectory("graft_cfg_")
    // b.yaml wins over a.yaml for the same key; sibling keys survive
    writeFile(d, "a.yaml",
      """graft_settings:
        |  load:
        |    max_concurrency: 9
        |custom:
        |  region: us-east-1
        |""".stripMargin)
    writeFile(d, "b.yaml", "graft_settings:\n  load:\n    max_concurrency: 16\n")
    val s = Settings.load(Seq(d.toString))
    assert(s.value("graft_settings.load.max_concurrency") == "16")
    assert(s.value("custom.region") == "us-east-1")
    // untouched defaults still present after the deep merge
    assert(s.value("graft_settings.copy_data_retries") == "3")
  }

  test("same filename in two config directories is an error") {
    val d1 = Files.createTempDirectory("graft_cfg1_")
    val d2 = Files.createTempDirectory("graft_cfg2_")
    writeFile(d1, "world.yaml", "a: 1\n")
    writeFile(d2, "world.yaml", "a: 2\n")
    val e = intercept[SettingsError] {
      Settings.load(Seq(d1.toString, d2.toString))
    }
    assert(e.getMessage.contains("multiple locations"))
  }

  test("show_value honors defaults; a missing setting without one fails") {
    val s = Settings.load()
    assert(s.value("no.such.setting", Some("fallback")) == "fallback")
    val e = intercept[SettingsError] { s.value("no.such.setting") }
    assert(e.getMessage.contains("no value"))
  }

  test("show_vars renders a table; globs filter; no-match is an error") {
    val s = Settings.load()
    val all = s.showVars()
    assert(all.linesIterator.next().startsWith("Name"))
    assert(all.linesIterator.exists(l =>
      l.startsWith("graft_settings.load.max_concurrency") && l.trim.endsWith(" 4")))
    val filtered = s.showVars(Seq("graft_settings.*retries"))
    assert(filtered.contains("extract_retries") &&
      filtered.contains("copy_data_retries") &&
      !filtered.contains("max_concurrency"))
    val e = intercept[SettingsError] { s.showVars(Seq("zz.*")) }
    assert(e.getMessage.contains("no matching setting"))
    // an UNBALANCED bracket glob is a user error, not a
    // PatternSyntaxException stack trace — it must flow through the
    // centralized SettingsError exit path
    val bad = intercept[SettingsError] { s.showVars(Seq("a[")) }
    assert(bad.getMessage.contains("invalid pattern 'a['"), bad.getMessage)
  }

  test("text template renders ${dotted.name}; json templates re-dump sorted") {
    val s = Settings.load()
    val banner = Templates.render(s, "run_banner")
    assert(banner.contains("graft-r10"), banner)
    assert(banner.contains(s.value("date.today")))
    assert(banner.contains("extract=1 copy=3 insert=3"))
    // JSON template: rendered, then re-emitted as sorted JSON
    val env = Templates.render(s, "runtime_env")
    assert(env.contains("\"max_extract_partitions\" : \"32\""), env)
    val compact = Templates.render(s, "runtime_env", compact = true)
    assert(compact.linesIterator.size == 1 && compact.contains("\"version\":\"graft-r10\""))
    // sorted: application_name before version
    assert(compact.indexOf("application_name") < compact.indexOf("version"))
  }

  test("a placeholder with no value fails naming the template") {
    val d = Files.createTempDirectory("graft_tpl_")
    Files.createDirectory(d.resolve("text"))
    writeFile(d.resolve("text"), "broken.txt", "value: ${never.defined}\n")
    val e = intercept[SettingsError] {
      Templates.render(Settings.load(), "broken", userDir = Some(d.toString))
    }
    assert(e.getMessage.contains("broken") && e.getMessage.contains("never.defined"))
  }

  test("user template dir shadows built-ins; list shows both; $$ escapes") {
    val d = Files.createTempDirectory("graft_tpl2_")
    Files.createDirectory(d.resolve("text"))
    writeFile(d.resolve("text"), "run_banner.txt", "custom $$${version}\n")
    writeFile(d.resolve("text"), "extra.txt", "x\n")
    val names = Templates.listTemplates("text", Some(d.toString)).map(_._1)
    assert(names == Seq("extra", "run_banner", "runtime_env"))
    val rendered = Templates.render(Settings.load(), "run_banner",
      userDir = Some(d.toString))
    assert(rendered == "custom $graft-r10\n", rendered)
  }

  test("sql templates render, strip the trailing semicolon, and run") {
    val s = Settings.load()
    val sql = Templates.renderSql(s, "compile_time")
    assert(!sql.endsWith(";") && sql.contains("'graft-r10'"))
    assert(Templates.listTemplates("sql").map(_._1) ==
      Seq("compile_time", "table_attributes"))
  }

  test("list_tags collects sorted distinct tags from designs") {
    def rel(name: String, tags: String) = {
      val d = TableDesign.load(
        s"""name: $name
           |source_name: CTAS
           |columns:
           |  - name: x
           |    type: int
           |$tags
           |query: SELECT 1 AS x
           |""".stripMargin)
      Relation(d)
    }
    val rels = Seq(
      rel("a.t1", "tags: [gold, daily]"),
      rel("a.t2", "tags: [daily, pii]"),
      rel("a.t3", ""))
    assert(Settings.listTags(rels) == Seq("daily", "gold", "pii"))
    assert(Settings.listTags(Seq(rel("a.t3", ""))) == Seq.empty)
  }

  test("tail_logs renders event-log lines; --warnings keeps failures only") {
    val log = Files.createTempDirectory("graft_tl_").resolve("events.jsonl")
    val mon = new Monitor(Some(log.toString))
    mon.monitored("rep.good", "load") { ((), Some(42L)) }
    intercept[RuntimeException] {
      mon.monitored("rep.bad", "load") { throw new RuntimeException("boom"); }
    }
    val lines = LogTail.tailLogs(log.toString)
    assert(lines.exists(l => l.contains("INFO") &&
      l.contains("load of rep.good finished") && l.contains("(42 rows)")))
    assert(lines.exists(l => l.contains("ERROR") &&
      l.contains("rep.bad FAILED") && l.contains("boom")))
    val warnings = LogTail.tailLogs(log.toString, warningsOnly = true)
    assert(warnings.nonEmpty && warnings.forall(_.contains("ERROR")))
    // start-time filter: nothing before the epoch cut
    assert(LogTail.tailLogs(log.toString, startMs = Long.MaxValue).isEmpty)
  }
}
