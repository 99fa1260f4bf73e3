package graft

import org.apache.spark.sql.SparkSession

import graft.etl._

/** The command-line surface — the analog of `arthur.py <command>`
  * (/root/reference/python/etl/commands.py:340-386), over a designs
  * directory laid out by the reference's path convention
  * (`schemas/{schema}/{source}-{table}.yaml` + `.sql`).
  *
  * Commands: `printUsage` lists every one. `load` and `update` build
  * into staging and publish at the end; `upgrade` rebuilds in place.
  */
object Cli {

  /** A usage error: `run` prints the usage text and returns 2. */
  private final class UsageError extends RuntimeException

  private def usage(): Nothing = throw new UsageError

  private def printUsage(): Unit =
    System.err.println(
      """usage: graft.Cli <command> [options]
        |  load           --designs DIR --data DIR --warehouse DIR [--select PATTERN] [--no-staging] [--skip-copy] [--continue-from POINT] [--max-concurrency N] [--analyze] [--vacuum] [--events FILE] [--serve-port N]
        |                 (--serve-port N serves a live status dashboard at http://localhost:N/ for the duration of any warehouse command; 0 = ephemeral)
        |  upgrade        --designs DIR --data DIR --warehouse DIR [--select PATTERN] [--only-selected] [--include-immediate-views] [--into-schema SCHEMA] [--skip-copy] [--continue-from POINT] [--max-concurrency N] [--events FILE]
        |  update         --designs DIR --data DIR --warehouse DIR --select PATTERN [--only-selected] [--vacuum] [--scheduled-start-time EPOCH_MS|ISO8601] [--wait-timeout-ms N] [--events FILE]
        |  check_constraints --designs DIR --data DIR --warehouse DIR [--select PATTERN] [--with-staging]
        |  vacuum         --designs DIR --data DIR --warehouse DIR [--select PATTERN] [--compact TABLE[,TABLE]] [--max-files N] [--dry-run]
        |  extract        --designs DIR --data DIR --out DIR [--select PATTERN] [--format csv|json|parquet|avro] [--use-sampling] [--max-concurrency N] [--events FILE]
        |  unload         --designs DIR --out DIR [--select PATTERN] [--format csv|json|parquet|avro]
        |  validate       --designs DIR
        |  show_ddl       --designs DIR [--select PATTERN]
        |  ls             --designs DIR
        |  run_query      --sql SQL [--limit N] [--data DIR --warehouse DIR]  (arms stored MVs)
        |  create_mv      --data DIR --warehouse DIR --name N --base SCHEMA.TABLE [--mv SCHEMA.TABLE] --group-cols C1[,C2...] --agg-cols A1[,A2...]
        |  refresh_mv     --data DIR --warehouse DIR --name N
        |  run_sql        --file SCRIPT.sql | --sql "stmt; stmt" | --template NAME [--config DIRS]   (alias: run_sql_template)
        |  selftest
        |  initialize     --designs DIR --data DIR --warehouse DIR
        |  create_schemas --designs DIR --data DIR --warehouse DIR [--select PATTERN]
        |  promote_schemas --designs DIR --data DIR --warehouse DIR [--select PATTERN]
        |  ping
        |  explain        --designs DIR [--select PATTERN] | --sql SQL
        |  analyze        --data DIR --warehouse DIR (--table SCHEMA.TABLE | --designs DIR [--select PATTERN])
        |  create_index   --designs DIR
        |  show_dependents --designs DIR --select PATTERN [--continue-from POINT]
        |  show_upstream_dependencies --designs DIR --select PATTERN
        |  query_events   --events FILE [--target PATTERN] [--step STEP] [--since EPOCH_MS] [--tail N] [--summarize] [--follow [--poll-ms N] [--idle-timeout-ms N]]
        |  summarize_events --events FILE [--designs DIR] [--step STEP] [--since EPOCH_MS]
        |  tail_events    --events FILE [--target PATTERN] [--step STEP] [--start-time EPOCH_MS|ISO8601] [--follow [--poll-ms N] [--idle-timeout-ms N]]
        |  bootstrap_sources         --designs DIR --database DB [--select PATTERN] [--force]
        |  bootstrap_transformations --designs DIR [--as-view]
        |  create_external_schemas --config DIRS [--select SCHEMA[,SCHEMA]] [--dry-run]
        |  render_template [--config DIRS] --template NAME [--sql] [--compact] | --list [--sql] [--compact] [--templates DIR]
        |  show_value     [--config DIRS] --name SETTING [--default VALUE]
        |  show_vars      [--config DIRS] [--name GLOB[,GLOB...]]   (alias: settings)
        |  list_tags      --designs DIR
        |  tail_logs      --events FILE [--start-time EPOCH_MS|ISO8601] [--warnings]
        |  show_lineage   --designs DIR [--select PATTERN]
        |  build_skip_index   --data DIR --warehouse DIR --table SCHEMA.TABLE --columns C1[,C2...]
        |  refresh_skip_index --data DIR --warehouse DIR --table SCHEMA.TABLE --columns C1[,C2...]
        |  build_bloom_index   --data DIR --warehouse DIR --table SCHEMA.TABLE --column C [--expected-items N]
        |  refresh_bloom_index --data DIR --warehouse DIR --table SCHEMA.TABLE --column C [--expected-items N]
        |  optimize       --data DIR --warehouse DIR --table SCHEMA.TABLE [--zorder C1[,C2...]] [--partitions SPEC1[,SPEC2...] [--max-files N]] [--dry-run]
        |  create_snapshot  --designs DIR --data DIR --warehouse DIR --tag TAG [--select PATTERN]
        |  list_snapshots   --data DIR --warehouse DIR
        |  drop_snapshot    --data DIR --warehouse DIR --tag TAG
        |  restore_snapshot --designs DIR --data DIR --warehouse DIR --tag TAG [--select PATTERN]
        |  diff_snapshots   --data DIR --warehouse DIR --tag-a TAG --tag-b TAG
        |""".stripMargin)

  private def printEvent(e: MonitorEvent): Unit = {
    val extra = e.rowcount.map(r => s" rows=$r").getOrElse("") +
      e.metrics.map(m => s" read=${m.bytesRead}B/${m.filesRead}f" +
        s" shuffle=${m.shuffleBytesWritten}B written=${m.rowsWritten}")
        .getOrElse("") +
      e.message.map(m => s" message=$m").getOrElse("")
    println(f"[events] ${e.target} ${e.step} ${e.event} ${e.elapsedSeconds}%.2fs$extra")
  }

  /** `--scheduled-start-time` accepts epoch millis or an ISO-8601
    * local timestamp (the reference's `%Y-%m-%dT%H:%M:%S`,
    * commands.py), read as UTC. */
  private[graft] def parseEpochMs(s: String): Long =
    s.toLongOption.getOrElse(
      java.time.LocalDateTime.parse(s)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)

  /** `--key value` pairs plus valueless boolean flags (`--no-staging`)
    * in any position: a `--flag` followed by another `--option` (or
    * nothing) is boolean true; pairing naively two-by-two would
    * misalign everything after an interior flag. */
  private[graft] def parseArgs(args: Seq[String]): Map[String, String] = {
    val opts = scala.collection.mutable.Map[String, String]()
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") =>
        opts(k.drop(2)) = v; rest = tail
      case k :: tail if k.startsWith("--") =>
        opts(k.drop(2)) = "true"; rest = tail
      case bad :: _ =>
        System.err.println(s"unexpected argument '$bad'"); usage()
    }
    opts.toMap
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        if (args.isEmpty) usage()
        val opts = parseArgs(args.tail.toSeq)
        val spark = Session.build()
        try run(spark, args.head, opts) finally spark.stop()
      } catch { case _: UsageError => printUsage(); 2 }
    if (code != 0) sys.exit(code)
  }

  /** Returns the process exit code (main applies it): 2 for usage
    * errors, non-zero for vacuum refusals, validation findings,
    * constraint violations, and config-plane user errors (unknown
    * setting/template), so automation can branch on the result — and
    * tests can assert it without the JVM dying under them. */
  private[graft] def run(spark: SparkSession, command: String,
                         opts: Map[String, String]): Int =
    try runCommand(spark, command, opts) catch {
      case _: UsageError =>
        printUsage()
        2
      case e: SettingsError =>
        System.err.println(s"[error] ${e.getMessage}")
        1
      case v: Qmr.Violation =>
        // an aborted query is an orderly non-zero exit (the reference
        // surfaces Redshift's statement_timeout the same way), not a
        // stack trace
        System.err.println(s"[error] ${v.getMessage}")
        1
    }

  private def runCommand(spark: SparkSession, command: String,
                         opts: Map[String, String]): Int = {
    def designs: Seq[Relation] =
      FileSets.discover(opts.getOrElse("designs", usage()))
    def selector: TableSelector =
      opts.get("select").map(p => TableSelector(p.split(',').toSeq))
        .getOrElse(TableSelector.all)
    val monitor = new Monitor(opts.get("events"))
    // one Warehouse per command: opening it registers what the
    // warehouse directory publishes
    lazy val warehouse: Warehouse = new Warehouse(spark,
      opts.getOrElse("warehouse", usage()), opts.getOrElse("data", usage()),
      monitor)
    // settings: packaged defaults + every --config directory
    // (comma-separated), the reference's -c/--config surface
    def settings: Settings =
      Settings.load(opts.get("config").toSeq.flatMap(_.split(',').toSeq))
    // how many relations load, upgrade and extract build at once:
    // --max-concurrency N, else graft_settings.load.max_concurrency
    def maxConcurrency: Int = opts.get("max-concurrency") match {
      case Some(n) => n.toIntOption.filter(_ > 0).getOrElse {
        System.err.println(s"--max-concurrency: not a positive integer: '$n'")
        usage()
      }
      case None =>
        val name = "graft_settings.load.max_concurrency"
        val n = settings.value(name, Some("4"))
        n.toIntOption.filter(_ > 0).getOrElse(
          throw new SettingsError(s"$name: not a positive integer: '$n'"))
    }

    // --serve-port N: live status dashboard for the duration of the
    // command (monitor.py:433-574 — the reference binds 8086
    // unconditionally during extract/load/unload; here it is opt-in
    // so parallel runs don't fight over the port; 0 asks for an
    // ephemeral one, announced below like the reference's
    // "follow along at http://...").
    val server = opts.get("serve-port").map { p =>
      val port = p.toIntOption.filter(n => n >= 0 && n <= 65535)
        .getOrElse {
          System.err.println(s"--serve-port: not a port number: '$p'")
          usage()
        }
      val s = new MonitorServer(monitor,
        java.util.UUID.randomUUID().toString, port).start()
      println(s"[monitor] live status at http://localhost:${s.port}/")
      s
    }
    try command match {
      case "load" =>
        val conc = maxConcurrency
        val rels = Dag.selectInExecutionOrder(designs, selector,
          includeDependents = true, continueFrom = opts.get("continue-from"))
        val wh = warehouse
        val doAnalyze = opts.contains("analyze")
        // --skip-copy (commands.py load args): create every table but
        // leave them empty — structure-only deploys.
        val skipAll = opts.contains("skip-copy")
        val results =
          if (opts.contains("no-staging"))
            wh.loadRelations(rels, maxConcurrency = conc,
              analyzeAfter = doAnalyze, skipCopyAll = skipAll)
          else wh.loadWithStagingAndPublish(rels, maxConcurrency = conc,
            analyzeAfter = doAnalyze, skipCopyAll = skipAll)
        results.foreach(r =>
          println(s"[load] ${r.identifier}: ${r.rowcount} rows" +
            (if (r.skipped) " (skip copy)" else "")))
        if (opts.contains("vacuum")) {
          val vr = wh.vacuum(rels)
          vr.deleted.foreach(p => println(s"[vacuum] deleted $p"))
          // same exit contract as the standalone vacuum command:
          // "refused to act" must not look like "nothing to reclaim"
          if (vr.refused.nonEmpty) {
            System.err.println(s"[vacuum] refused ${vr.refused.size} relation(s): " +
              vr.refused.mkString(", "))
            return 1
          }
        }
        0
      case "upgrade" =>
        // --into-schema requires an explicit selection (commands.py:1216)
        if (opts.contains("into-schema") && !opts.contains("select")) {
          System.err.println("option '--into-schema' requires that relations are selected")
          return 2
        }
        val conc = maxConcurrency
        warehouse.upgradeRelations(designs, selector,
          onlySelected = opts.contains("only-selected"),
          includeImmediateViews = opts.contains("include-immediate-views"),
          continueFrom = opts.get("continue-from"),
          skipCopy = opts.contains("skip-copy"),
          maxConcurrency = conc,
          targetSchema = opts.get("into-schema"))
          .foreach(r =>
            println(s"[upgrade] ${r.identifier}: ${r.rowcount} rows" +
              (if (r.skipped) " (skip copy)" else "")))
        0
      case "update" =>
        warehouse.updateRelations(designs, selector,
          scheduledStartMs = opts.get("scheduled-start-time").map(parseEpochMs),
          eventLog = opts.get("events"),
          waitTimeoutMs =
            opts.get("wait-timeout-ms").map(_.toLong).getOrElse(3600 * 1000L),
          onlySelected = opts.contains("only-selected"))
          .foreach(r =>
            println(s"[update] ${r.identifier}: ${r.rowcount} rows"))
        // `update --vacuum` (commands.py:1310-1314, load.py:1366-1367):
        // tidy up after the refresh — the builds the publish moved out
        // of the backup slot, and the build of a relation whose earlier
        // update failed its check or write.
        if (opts.contains("vacuum")) {
          val vr = warehouse.vacuum(Dag.selectInExecutionOrder(designs, selector,
            includeDependents = !opts.contains("only-selected")))
          vr.deleted.foreach(p => println(s"[vacuum] deleted $p"))
          if (vr.refused.nonEmpty) {
            System.err.println(s"[vacuum] refused ${vr.refused.size} relation(s): " +
              vr.refused.mkString(", "))
            return 1
          }
        }
        0
      case "check_constraints" =>
        val pos = if (opts.contains("with-staging")) SchemaPosition.Staging
          else SchemaPosition.Standard
        val failures = warehouse.checkConstraints(designs, selector, pos)
        failures.foreach { case (id, msg) =>
          System.err.println(s"[check_constraints] $id: $msg")
        }
        if (failures.nonEmpty) 1
        else {
          println(s"[check_constraints] " +
            s"${designs.count(r => !r.isView && selector.matches(r.name))} relation(s) ok")
          0
        }
      case "vacuum" =>
        val wh = warehouse
        val dry = opts.contains("dry-run")
        // --compact NAME[,NAME]: compact accumulating (append-grown)
        // tables first; their superseded build dirs are then
        // reclaimed by the vacuum pass below like any dead build.
        // --dry-run gates this too: a safety preview must not rewrite
        // files or re-point tables.
        opts.get("compact").toSeq.flatMap(_.split(',').toSeq).foreach { t =>
          val name = TableName.parse(t)
          wh.compactTable(name,
            opts.get("max-files").map(_.toInt).getOrElse(64),
            dryRun = dry) match {
            case Some((before, after)) if dry =>
              println(s"[vacuum] would compact $t: $before files (dry run)")
            case Some((before, after)) =>
              println(s"[vacuum] compacted $t: $before -> $after files")
            case None => println(s"[vacuum] $t under file threshold, not compacted")
          }
        }
        val vr = wh.vacuum(
          designs.filter(r => selector.matches(r.name)), dryRun = dry)
        val verb = if (dry) "would delete" else "deleted"
        vr.deleted.foreach(p => println(s"[vacuum] $verb $p"))
        println(s"[vacuum] ${vr.deleted.size} superseded build location(s) " +
          (if (dry) "would be removed (dry run)" else "removed"))
        // "refused to act" must be distinguishable from "nothing to
        // reclaim" by automation: non-zero exit when anything was refused
        if (vr.refused.nonEmpty) {
          System.err.println(s"[vacuum] refused ${vr.refused.size} relation(s): " +
            vr.refused.mkString(", "))
          1
        } else 0
      case "optimize" =>
        // OPTIMIZE TABLE [--zorder c1,c2]: clustered rewrite of an
        // append-grown table through the versioned-build pointer swap —
        // Delta's OPTIMIZE ZORDER BY over plain parquet. Without
        // --zorder it degenerates to an unconditional compaction.
        val wh = warehouse
        val name = TableName.parse(opts.getOrElse("table", usage()))
        val zcols = opts.get("zorder").toSeq.flatMap(_.split(',').toSeq)
          .map(_.trim).filter(_.nonEmpty)
        val dry = opts.contains("dry-run")
        // --partitions day=d1,day=d2: per-partition compaction of a
        // partitioned table (identity backfill) — the whole-table
        // rewrite below refuses partitioned layouts by design
        opts.get("partitions") match {
          case Some(specs) =>
            val report = wh.compactPartitions(name,
              specs.split(',').toSeq.map(_.trim).filter(_.nonEmpty),
              maxDataFiles = opts.get("max-files").map(_.toInt).getOrElse(16),
              dryRun = dry)
            if (report.isEmpty) println(s"[optimize] ${name.quoted}: " +
              "no listed partition over the file threshold")
            report.toSeq.sortBy(_._1).foreach { case (spec, (b, a)) =>
              println(if (dry) s"[optimize] would compact ${name.quoted} $spec: $b files (dry run)"
                else s"[optimize] compacted ${name.quoted} $spec: $b -> $a files")
            }
            0
          case None =>
            wh.compactTable(name, maxDataFiles = 0, dryRun = dry,
              clusterBy = zcols) match {
              case Some((before, _)) if dry =>
                println(s"[optimize] would rewrite ${name.quoted}: " +
                  s"$before files (dry run)"); 0
              case Some((before, after)) =>
                val how = if (zcols.isEmpty) "compacted"
                  else s"z-ordered on ${zcols.mkString(",")}"
                println(s"[optimize] $how ${name.quoted}: $before -> $after files")
                0
              case None =>
                println(s"[optimize] ${name.quoted} already within bounds"); 0
            }
        }
      case "build_skip_index" | "refresh_skip_index" =>
        // file-level min/max data-skipping index lifecycle (the
        // explicit zone-map; scan pruning happens via
        // FileSkipIndex.prunedScan in transform code)
        val table = TableName.parse(opts.getOrElse("table", usage()))
        val cols = opts.getOrElse("columns", usage()).split(',').toSeq
          .map(_.trim).filter(_.nonEmpty)
        try {
          if (command == "build_skip_index") {
            val st = FileSkipIndex.build(warehouse, table, cols)
            println(s"[skip_index] built ${st.identifier} over " +
              s"${spark.table(st.quoted).count()} file(s)")
          } else {
            val n = FileSkipIndex.refresh(warehouse, table, cols)
            println(s"[skip_index] indexed $n new file(s) for ${table.identifier}")
          }
          0
        } catch {
          case e: org.apache.spark.sql.AnalysisException =>
            System.err.println(s"[error] ${e.getMessage}")
            1
        }
      case "build_bloom_index" | "refresh_bloom_index" =>
        // per-file bloom skipping lifecycle (the equality-predicate
        // complement of the zone map; pruning via
        // FileSkipIndex.prunedScanIn in transform code)
        val table = TableName.parse(opts.getOrElse("table", usage()))
        val col = opts.getOrElse("column", usage()).trim
        val items = opts.get("expected-items").map(_.toLong).getOrElse(1000000L)
        try {
          if (command == "build_bloom_index") {
            val bt = FileSkipIndex.buildBloom(warehouse, table, col, items)
            println(s"[bloom_index] built ${bt.identifier} over " +
              s"${spark.table(bt.quoted).count()} file(s)")
          } else {
            val n = FileSkipIndex.refreshBloom(warehouse, table, col, items)
            println(s"[bloom_index] indexed $n new file(s) for ${table.identifier}")
          }
          0
        } catch {
          case e: org.apache.spark.sql.AnalysisException =>
            System.err.println(s"[error] ${e.getMessage}")
            1
        }
      case "create_snapshot" | "drop_snapshot" | "restore_snapshot" |
           "list_snapshots" | "diff_snapshots" =>
        // Snapshot pins (beyond-reference lifecycle: named, metadata-
        // only time travel over the versioned builds; the reference's
        // closest surface is the single implicit backup/restore slot,
        // load.py:604-660). IllegalArgument/IllegalState are USER
        // errors (bad tag, duplicate pin, torn file) → exit 1 via the
        // centralized path, not a stack trace.
        try {
          val wh = warehouse
          command match {
            case "create_snapshot" =>
              val tag = opts.getOrElse("tag", usage())
              val rels = designs.filterNot(_.isView)
                .filter(r => selector.matches(r.name))
              wh.createSnapshot(tag, rels.map(_.name))
              println(s"[snapshot] pinned ${rels.size} table(s) as '$tag'")
            case "drop_snapshot" =>
              val tag = opts.getOrElse("tag", usage())
              wh.dropSnapshot(tag)
              println(s"[snapshot] dropped '$tag' (next vacuum reclaims unpinned builds)")
            case "restore_snapshot" =>
              val tag = opts.getOrElse("tag", usage())
              val rels = designs.filterNot(_.isView)
                .filter(r => selector.matches(r.name))
              rels.foreach(r => wh.restoreSnapshot(tag, r.name))
              println(s"[snapshot] restored ${rels.size} table(s) from '$tag'")
            case "diff_snapshots" =>
              val diffs = wh.diffSnapshots(
                opts.getOrElse("tag-a", usage()), opts.getOrElse("tag-b", usage()))
              def fmt(n: Long) = if (n < 0) "-" else n.toString
              diffs.foreach { case (table, status, ba, bb) =>
                println(s"$table\t$status\t${fmt(ba)}B\t${fmt(bb)}B")
              }
              val changed = diffs.count(_._2 != "same")
              println(s"[snapshot] ${diffs.size} table(s), $changed differ")
            case _ =>
              val snaps = wh.listSnapshots()
              snaps.foreach { case (tag, table, loc) =>
                println(s"$tag\t$table\t${if (loc.isEmpty) "<unreadable>" else loc}")
              }
              println(s"[snapshot] ${snaps.size} pin(s)")
          }
          0
        } catch {
          case e @ (_: IllegalArgumentException | _: IllegalStateException) =>
            System.err.println(s"[error] ${e.getMessage}")
            1
        }
      case "extract" =>
        // The reference's extract lands gzip-CSV + manifest per
        // relation (extract/extractor.py:203-260); same artifact shape
        // as unload, read from the upstream stand-in.
        // Sources are independent, so they run concurrently through
        // the load's pool, as wide as the load's own concurrency.
        val data = opts.getOrElse("data", usage())
        val out = opts.getOrElse("out", usage())
        val format = opts.getOrElse("format", "csv")
        require(Artifact.Formats.contains(format),
          s"artifact format '$format' is not one of ${Artifact.Formats.mkString("|")}")
        val conc = maxConcurrency
        val sources = designs.filter(r => r.design.isSourceTable && selector.matches(r.name))
        // each source is one monitored `extract` step: its finish event
        // is what `update --scheduled-start-time` waits for
        val written = Warehouse.parallelMap(spark, sources, conc) { r =>
          scala.util.Try(monitor.monitored(r.identifier, "extract") {
            val df = Extract.sourceDataFrame(spark, data, r.design,
              useSampling = opts.contains("use-sampling"))
            val rows = Artifact.write(df, r.design, s"$out/${r.identifier}", format)
            (rows, Some(rows))
          })
        }
        // every source has finished: report in design order, then fail
        // on the first source that did
        sources.zip(written).foreach { case (r, n) =>
          n.foreach(rows => println(s"[extract] ${r.identifier}: $rows rows -> $out/${r.identifier}"))
        }
        written.foreach(_.get)
        0
      case "unload" =>
        // UNLOAD of warehouse relations (S12; commands.py:1279-1335):
        // reads the published table from the session catalog.
        val out = opts.getOrElse("out", usage())
        val fmt = opts.getOrElse("format", "csv")
        designs.filter(r => selector.matches(r.name)).foreach { r =>
          val df = spark.table(r.name.quoted)
          val n = Artifact.write(df, r.design, s"$out/${r.identifier}", fmt)
          println(s"[unload] ${r.identifier}: $n rows -> $out/${r.identifier}")
        }
        0
      case "query_events" =>
        // Q7 (monitor.py:720-975): ask a previous run's event log
        // "what happened to relation X", or tail the last n events.
        val log = opts.getOrElse("events", usage())
        val all = Monitor.readLog(log)
        val filtered = Monitor.filter(all, opts.get("target"), opts.get("step"),
          opts.get("since").map(_.toLong))
        if (opts.contains("summarize")) {
          // the reference's summarize_events rollup (monitor.py:862-930)
          Monitor.summarizeEvents(filtered).foreach { case (step, ok, fail, secs) =>
            println(f"[events] $step%-12s finish=$ok fail=$fail elapsed=$secs%.2fs")
          }
        } else {
          val shown = opts.get("tail").map(n => filtered.takeRight(n.toInt))
            .getOrElse(filtered)
          shown.foreach(printEvent)
          // --follow (tail_events -f, commands.py:2036-2088): poll for
          // new events, quit after an idle hour (both intervals
          // overridable for automation/tests).
          if (opts.contains("follow"))
            Monitor.followLog(log, opts.get("target"), opts.get("step"),
              opts.get("since").map(_.toLong), skip = all.size,
              pollMs = opts.get("poll-ms").map(_.toLong).getOrElse(30 * 1000L),
              idleTimeoutMs = opts.get("idle-timeout-ms").map(_.toLong)
                .getOrElse(3600 * 1000L))(printEvent)
        }
        0
      case "summarize_events" =>
        // monitor.py:862-925 + commands.py:2014-2033: for the latest
        // run, the newest event per relation (with kind from the
        // designs when given) plus per-schema rollup pseudo rows,
        // sorted by timestamp; tally start/finish/fail at the end.
        val log = opts.getOrElse("events", usage())
        val kinds: Map[String, String] =
          if (opts.contains("designs"))
            designs.map(r => r.identifier -> (
              if (r.design.isView) "VIEW"
              else if (r.design.isCtas) "CTAS" else "DATA")).toMap
          else Map.empty
        val (rows, stats) = Monitor.summarizeLatest(
          Monitor.readLog(log), opts.get("step"),
          opts.get("since").map(_.toLong), kinds)
        rows.foreach { r =>
          val ts = java.time.Instant.ofEpochMilli(r.ts)
          println(f"[summary] ${r.target}%-30s ${r.kind}%-5s ${r.step}%-10s " +
            f"$ts ${r.event}%-8s ${r.elapsedSeconds}%.2fs rows=${r.rowcount}")
        }
        println(s"[summary] events: start=${stats.getOrElse("start", 0)}" +
          s" finish=${stats.getOrElse("finish", 0)}" +
          s" fail=${stats.getOrElse("fail", 0)}")
        0
      case "tail_events" =>
        // commands.py:2036-2088: events since --start-time (default:
        // the reference's 15-minute window) in timestamp order;
        // --follow keeps polling and quits after the idle timeout.
        val log = opts.getOrElse("events", usage())
        val start = opts.get("start-time").map(parseEpochMs)
          .getOrElse(System.currentTimeMillis() - 15 * 60 * 1000L)
        val all = Monitor.readLog(log)
        Monitor.filter(all, opts.get("target"), opts.get("step"), Some(start))
          .sortBy(_.ts.getOrElse(0L)).foreach(printEvent)
        if (opts.contains("follow"))
          Monitor.followLog(log, opts.get("target"), opts.get("step"),
            Some(start), skip = all.size,
            pollMs = opts.get("poll-ms").map(_.toLong).getOrElse(30 * 1000L),
            idleTimeoutMs = opts.get("idle-timeout-ms").map(_.toLong)
              .getOrElse(3600 * 1000L))(printEvent)
        0
      case "bootstrap_sources" =>
        val root = opts.getOrElse("designs", usage())
        val db = opts.getOrElse("database", usage())
        Bootstrap.bootstrapSources(spark, db, root, selector,
          overwrite = opts.contains("force")).foreach { case (t, warnings) =>
          println(s"[bootstrap] ${t.identifier}")
          warnings.foreach(w => println(s"[bootstrap]   warning: $w"))
        }
        0
      case "bootstrap_transformations" =>
        Bootstrap.bootstrapTransformations(spark,
          opts.getOrElse("designs", usage()), asView = opts.contains("as-view"))
          .foreach(t => println(s"[bootstrap] ${t.identifier}"))
        0
      case "validate" =>
        val findings = Validate.validateAll(spark, designs)
        findings.foreach(f =>
          println(s"[validate] ${f.identifier} ${f.check}: ${f.message}"))
        if (findings.nonEmpty) 1
        else { println(s"[validate] ${designs.size} relation(s) ok"); 0 }
      case "show_ddl" =>
        designs.filter(r => selector.matches(r.name))
          .foreach(r => println(Ddl.showDdl(r.design) + ";\n"))
        0
      case "ls" =>
        FileSets.ls(opts.getOrElse("designs", usage())).foreach {
          case (id, files) => println(s"$id\n" + files.map("  " + _).mkString("\n"))
        }
        0
      case "initialize" =>
        // commands.py's initialize: stand up the warehouse structure
        // from scratch — every lifecycle position's schema for the
        // whole design set (tables arrive via load/upgrade).
        val wh = warehouse
        Seq(SchemaPosition.Standard, SchemaPosition.Staging, SchemaPosition.Backup)
          .foreach(p => wh.createSchemas(designs, p))
        println(s"[initialize] ${designs.map(_.name.schema).distinct.size} schema(s) x 3 positions")
        0
      case "create_schemas" =>
        val wh = warehouse
        val sel = designs.filter(r => selector.matches(r.name))
        wh.createSchemas(sel, SchemaPosition.Standard)
        println(s"[create_schemas] ${sel.map(_.name.schema).distinct.size} schema(s)")
        0
      case "promote_schemas" =>
        // the publish half standalone (promote_schemas): back up the
        // standard tables and re-point them at existing STAGING builds
        // — a deferred publish after a staging-position load.
        warehouse.publish(Dag.selectInExecutionOrder(designs, selector,
          includeDependents = true))
        println("[promote] staging promoted to standard")
        0
      case "run_sql" | "run_sql_template" =>
        // run_sql_template (commands.py:772-821): execute a
        // `;`-separated SQL script from a file, inline text, or — the
        // reference's primary path — a RENDERED SQL template
        // (--template NAME, placeholders filled from settings)
        val script = opts.get("file")
          .map(f => new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f)), java.nio.charset.StandardCharsets.UTF_8))
          .orElse(opts.get("template").map(t =>
            Templates.renderSql(settings, t, opts.get("templates"))))
          .orElse(opts.get("sql")).getOrElse(usage())
        Commands.runSqlScript(spark, script).foreach { df =>
          df.limit(100).collect().foreach(r => println(r.toSeq
            .map(v => Option(v).map(_.toString).getOrElse("NULL"))
            .mkString(" | ")))
        }
        0
      case "selftest" =>
        // commands.py:2141-2149: the reference runs its packaged
        // doctests; here an embedded deterministic smoke suite
        val results = Commands.selfTest(spark)
        results.foreach { case (name, ok, detail) =>
          println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name" +
            (if (ok) "" else s": $detail"))
        }
        val failed = results.count(!_._2)
        println(s"[selftest] ${results.size - failed}/${results.size} checks passed")
        if (failed > 0) 1 else 0
      case "ping" =>
        // commands.py's ping: prove the warehouse answers a trivial
        // query. The Spark analog exercises the session end-to-end.
        val one = spark.sql("SELECT 1 AS ok").collect().head.getInt(0)
        println(s"[ping] ok (SELECT 1 = $one, spark ${spark.version})")
        0
      case "create_mv" | "refresh_mv" =>
        // CREATE / REFRESH MATERIALIZED VIEW: build the partials
        // table, persist the def under <warehouse>/_mvs, stamp the
        // base's current version (the rewrite's freshness contract).
        // refresh_mv can omit the column lists — they come from the
        // stored def.
        val wh = warehouse
        val name = opts.getOrElse("name", usage())
        val stored = MvCatalog.list(wh).find(_.name == name)
        def cols(opt: String, fallback: Option[Seq[String]]): Seq[String] =
          opts.get(opt).map(_.split(',').toSeq.map(_.trim))
            .orElse(fallback).getOrElse(usage())
        val base = opts.get("base").map(TableName.parse)
          .orElse(stored.map(d => TableName.parse(d.base))).getOrElse(usage())
        val mv = opts.get("mv").map(TableName.parse)
          .orElse(stored.map(d => TableName.parse(d.mv)))
          .getOrElse(TableName(base.schema, base.table + "_mv"))
        val d = MvCatalog.createOrRefresh(spark, wh, name, base, mv,
          cols("group-cols", stored.map(_.groupCols)),
          cols("agg-cols", stored.map(_.aggCols)))
        println(s"[mv] '${d.name}': ${d.mv} covers ${d.base} " +
          s"group(${d.groupCols.mkString(",")}) agg(${d.aggCols.mkString(",")}) " +
          s"@ ${d.version.takeRight(8)}")
        0
      case "run_query" =>
        // materialized views stored in the warehouse re-arm the
        // rewrite for this session (fresh ones only — the rule checks)
        if (opts.contains("warehouse") && opts.contains("data")) {
          val armed = MvCatalog.armAll(spark, warehouse)
          if (armed > 0)
            System.err.println(s"[run_query] $armed materialized view(s) armed")
        }
        // statement_timeout + wlm.rules.* from the settings plane,
        // honored exactly like the reference threads them into every
        // session (commands.py:454-464) — enforced here by the QMR
        // watchdog rather than a server-side SET
        val qmrRules: Seq[Qmr.Rule] =
          if (opts.contains("config")) Qmr.rulesFromSettings(settings)
          else Seq.empty
        val qmrMonitor = new Monitor()
        val rqDf = Commands.runQuery(spark, opts.getOrElse("sql", usage()),
          opts.get("limit").map(_.toInt).orElse(Some(100)))
        println(rqDf.schema.fieldNames.mkString(" | "))
        val rows = if (qmrRules.isEmpty) rqDf.collect()
          else Qmr.guarded(rqDf, qmrRules, qmrMonitor)(_.collect())
        rows.foreach(r => println(r.toSeq.map(v =>
          Option(v).map(_.toString).getOrElse("NULL")).mkString(" | ")))
        // log-action rule breaches must reach the operator, not a
        // discarded Monitor instance
        qmrMonitor.events.filter(_.event == "qmr_violation").foreach(e =>
          System.err.println(
            f"[run_query] qmr_violation rule=${e.message.getOrElse("?")} " +
              f"elapsed=${e.elapsedSeconds}%.2fs scan_rows=${e.rowcount.getOrElse(0L)}"))
        0
      case "explain" =>
        // --sql: explain an ad-hoc query, read through the dialect as
        // run_query and run_sql read it; otherwise the selected
        // transformations' design queries (rewritten at design load)
        opts.get("sql") match {
          case Some(sql) =>
            println(Explain.report(DialectShims.sql(spark, sql)))
          case None =>
            designs.filter(r => r.isTransformation && selector.matches(r.name))
              .foreach { r =>
                println(s"-- ${r.identifier}")
                println(Explain.report(spark.sql(r.design.query)))
              }
        }
        0
      case "analyze" =>
        // standalone ANALYZE (the reference folds it into load
        // --analyze / vacuum; Redshift ships it as its own statement):
        // compute catalog stats so the CBO sizes joins from real row
        // counts. --table for one, --select over designs otherwise.
        val wh = warehouse
        val targets: Seq[TableName] = opts.get("table") match {
          case Some(t) => Seq(TableName.parse(t))
          case None => designs.filter(r => selector.matches(r.name))
            .map(_.name)
        }
        targets.foreach { t =>
          wh.analyze(t)
          val stats = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(
              t.table, Some(t.schema))).stats
          println(s"[analyze] ${t.identifier}: " +
            stats.map(s => s"rows=${s.rowCount.getOrElse("?")} " +
              s"bytes=${s.sizeInBytes}").getOrElse("no stats"))
        }
        0
      case "show_lineage" =>
        // Column-level lineage for the selected transformations —
        // per output column, the leaf table columns feeding it
        // (direct lineage; see etl/Lineage.scala). Dependencies must
        // be registered (run after a load/initialize), same contract
        // as `explain`.
        designs.filter(r => r.isTransformation && selector.matches(r.name))
          .foreach { r =>
            println(s"-- ${r.identifier}")
            println(Lineage.report(spark.sql(r.design.query)))
          }
        0
      case "create_index" =>
        println(Commands.createIndex(designs))
        0
      case "show_dependents" =>
        println(Commands.describeDependents(designs, selector,
          continueFrom = opts.get("continue-from")))
        0
      case "show_upstream_dependencies" =>
        // commands.py:1849-1868: chain everything the selection
        // (transitively) depends on, selection included.
        println(Commands.describeDependencies(designs, selector))
        0
      case "create_external_schemas" =>
        // S14 (commands.py:1371-1400): register external-LOCATION
        // databases/tables from the settings' external_schemas section
        val made = Commands.createExternalSchemas(spark, settings,
          selectSchemas = opts.get("select").toSeq.flatMap(_.split(',').toSeq),
          dryRun = opts.contains("dry-run"))
        val verb = if (opts.contains("dry-run")) "would register" else "registered"
        made.foreach { case (s, t) => println(s"[external] $verb $s.$t") }
        0
      case "render_template" =>
        // commands.py:1888-1913: --list, or render one template;
        // --sql switches to the SQL family, --compact to compact JSON
        val userDir = opts.get("templates")
        if (opts.contains("list")) {
          val fam = if (opts.contains("sql")) "sql" else "text"
          if (opts.contains("compact"))
            Templates.listTemplates(fam, userDir).foreach(t => println(t._1))
          else println(Settings.formatLines(
            Templates.listTemplates(fam, userDir),
            ("Template Name", "File Location")))
        } else {
          val name = opts.getOrElse("template", usage())
          if (opts.contains("sql")) println(Templates.renderSql(settings, name, userDir))
          else print(Templates.render(settings, name,
            compact = opts.contains("compact"), userDir = userDir))
        }
        0
      case "show_value" =>
        // commands.py:1916-1928: value of one setting, optional default
        println(settings.value(opts.getOrElse("name", usage()),
          opts.get("default")))
        0
      case "show_vars" | "settings" =>
        // commands.py:1931-1947 (alias "settings"): Name|Value table,
        // optionally filtered by comma-separated glob patterns
        println(settings.showVars(
          opts.get("name").toSeq.flatMap(_.split(',').toSeq)))
        0
      case "list_tags" =>
        // commands.py:1869-1885: collect tags across the designs
        val tags = Settings.listTags(designs)
        if (tags.nonEmpty) println(s"Tags:\n${tags.map(t => s"'$t'").mkString(", ")}")
        else println("No tags found")
        0
      case "tail_logs" =>
        // commands.py:2093-2119: log lines since --start-time,
        // --warnings keeps only failures; reads the run's event log.
        // --follow keeps polling (same loop as query_events --follow)
        // and quits after the idle timeout.
        val log = opts.getOrElse("events", usage())
        val start = opts.get("start-time").map(parseEpochMs).getOrElse(0L)
        val warnings = opts.contains("warnings")
        LogTail.tailLogs(log, start, warningsOnly = warnings).foreach(println)
        if (opts.contains("follow")) {
          val already = Monitor.readLog(log).size
          LogTail.followLogs(log, start, warnings, skip = already,
            pollMs = opts.get("poll-ms").map(_.toLong).getOrElse(30 * 1000L),
            idleTimeoutMs = opts.get("idle-timeout-ms").map(_.toLong)
              .getOrElse(3600 * 1000L))(println)
        }
        0
      case _ => usage()
    } finally server.foreach(_.stop())
  }
}
