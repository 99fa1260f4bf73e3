package graft.etl

import org.apache.spark.sql.DataFrame

/** Query monitoring rules — Redshift WLM's QMR surface plus
  * `statement_timeout` (resources.RedshiftCluster.statement_timeout,
  * /root/reference/python/etl/commands.py:454-464 threads it into
  * every session; dialect/redshift.py:536-545 SETs it). Redshift
  * evaluates rules like `query_execution_time > N` or
  * `scan_row_count > N` against running queries and aborts or logs;
  * here a watchdog thread samples the same two metrics for the
  * query's [[Telemetry.Scope]] (one job tag) and cancels the tag's
  * jobs on an abort-rule breach:
  *
  *   - elapsed wall time — exact;
  *   - scan rows — accumulated from per-task input metrics as tasks
  *     END, so enforcement lags by one task (Redshift's own QMR is
  *     sampled at one-second granularity; same best-effort contract).
  *
  * `log`-action rules are evaluated post-completion against final
  * totals and append a monitor event instead of failing the query.
  *
  * Scale shape: listener work is O(1) per task end; the watchdog is
  * one driver thread per guarded query. Cancellation propagates
  * through the job tag with interruptOnCancel, so a runaway 100 TB
  * scan stops within a task boundary instead of holding the cluster.
  * A tag, unlike a job group, leaves the caller's own group alone. */
object Qmr {

  sealed trait Action
  case object Abort extends Action
  case object Log extends Action

  /** One rule; thresholds that are None don't participate. */
  final case class Rule(name: String,
                        maxSeconds: Option[Double] = None,
                        maxScanRows: Option[Long] = None,
                        action: Action = Abort)

  final case class Violation(rule: Rule, elapsedSec: Double, scanRows: Long)
    extends RuntimeException(
      s"query monitoring rule '${rule.name}' violated: " +
        f"elapsed $elapsedSec%.2f s (max ${rule.maxSeconds.getOrElse(Double.NaN)}%.2f), " +
        s"scan rows $scanRows (max ${rule.maxScanRows.getOrElse(-1L)})")

  /** Convenience: the reference's statement_timeout as a QMR rule. */
  def statementTimeout(millis: Long): Rule =
    Rule("statement_timeout", maxSeconds = Some(millis / 1000.0))

  /** Rules from the settings plane — Redshift declares QMR inside the
    * WLM configuration JSON; the same shape here as layered YAML:
    *
    *   wlm:
    *     rules:
    *       long_scan:  { max_seconds: 30, action: abort }
    *       wide_scan:  { max_scan_rows: 1000000, action: log }
    *
    * plus `resources.RedshiftCluster.statement_timeout` (ms), folded
    * in as an abort rule exactly as the reference threads it into
    * every session. Unknown action names are a config error. */
  def rulesFromSettings(settings: Settings): Seq[Rule] = {
    val prefix = "wlm.rules."
    val names = settings.configMap.keys
      .filter(_.startsWith(prefix))
      .map(_.drop(prefix.length).takeWhile(_ != '.')).toSeq.distinct.sorted
    val declared = names.map { n =>
      def opt(field: String): Option[String] = {
        val k = s"$prefix$n.$field"
        if (settings.isSet(k)) Some(settings.value(k)) else None
      }
      val action = opt("action").getOrElse("abort") match {
        case "abort" => Abort
        case "log" => Log
        case other => throw new SettingsError(
          s"wlm.rules.$n.action: unknown action '$other' (abort|log)")
      }
      val r = Rule(n, opt("max_seconds").map(_.toDouble),
        opt("max_scan_rows").map(_.toLong), action)
      if (r.maxSeconds.isEmpty && r.maxScanRows.isEmpty)
        throw new SettingsError(
          s"wlm.rules.$n: needs max_seconds and/or max_scan_rows")
      r
    }
    val timeout =
      if (settings.isSet("resources.RedshiftCluster.statement_timeout"))
        Seq(statementTimeout(settings.intValue(
          "resources.RedshiftCluster.statement_timeout").toLong))
      else Seq.empty
    timeout ++ declared
  }

  /** Predicted scan rows from CBO statistics, defined only when every
    * scan has an estimate (ANALYZEd tables under
    * `spark.sql.cbo.enabled`). Redshift's WLM likewise rejects on
    * predicted cost before a query runs.
    *
    * The estimate is taken per SCAN UNIT — the top of the unary
    * Filter/Project chain directly over each leaf — so a SELECTIVE
    * query over a large ANALYZEd table is costed at CBO's post-filter
    * estimate, not the raw table cardinality. A chain top without its
    * own estimate (no column stats for the predicate) falls back to
    * the leaf's raw count. */
  private[etl] def estimatedScanRows(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    def isChainOverLeaf(p: LogicalPlan): Boolean = p match {
      case _ if p.children.isEmpty => true
      case f: Filter => isChainOverLeaf(f.child)
      case pr: Project => isChainOverLeaf(pr.child)
      case _ => false
    }
    def units(p: LogicalPlan): Seq[LogicalPlan] =
      if (isChainOverLeaf(p)) Seq(p) else p.children.flatMap(units)
    val scanUnits = units(df.queryExecution.optimizedPlan)
    val counts = scanUnits.map(u =>
      u.stats.rowCount.orElse(
        u.collectLeaves().headOption.flatMap(_.stats.rowCount)))
    if (counts.nonEmpty && counts.forall(_.isDefined))
      Some(counts.flatten.map(_.min(BigInt(Long.MaxValue)).toLong).sum)
    else None
  }

  /** Run `action` on `df` under `rules`. Abort rules breach ⇒ the
    * query's jobs are cancelled and [[Violation]] is thrown; log rules
    * breach ⇒ `monitor` records a `qmr_violation` event and the
    * result is returned. When CBO statistics predict the scan alone
    * already exceeds an abort rule's `maxScanRows`, the query is
    * refused BEFORE any job launches (zero tasks run).
    *
    * Two-stage contract, two different quantities BY DESIGN: the
    * pre-launch gate is a cheap fast-fail on the optimizer's
    * post-filter ESTIMATE (zero tasks burned on provably-oversized
    * scans), while the runtime watchdog enforces the rule on ACTUAL
    * rows read — the authoritative measure, same as Redshift's WLM
    * rules which act on running-query metrics. A selective query
    * whose estimate clears the gate but whose physical scan crosses
    * `maxScanRows` is aborted mid-run by the watchdog (or completes
    * if it finishes inside one poll interval — inherent to any
    * polling monitor, Redshift's included; the rows were read either
    * way). Rules wanting a hard PREDICTED ceiling set the cap below
    * the estimate; rules wanting a hard ACTUAL ceiling accept the
    * poll-granularity abort. */
  def guarded[T](df: DataFrame, rules: Seq[Rule],
                 monitor: Monitor = new Monitor())(action: DataFrame => T): T = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val abortScanRules = rules.filter(r => r.action == Abort && r.maxScanRows.isDefined)
    if (abortScanRules.nonEmpty) {
      estimatedScanRows(df).foreach { est =>
        abortScanRules.find(_.maxScanRows.exists(est > _)).foreach { r =>
          throw Violation(r, 0.0, est)
        }
      }
    }
    val interruptKey = "spark.job.interruptOnCancel"
    val callerInterrupt = sc.getLocalProperty(interruptKey)
    Telemetry.scoped(spark) { scope =>
      val t0 = System.nanoTime()
      @volatile var breach: Option[Violation] = None
      val done = new java.util.concurrent.CountDownLatch(1)
      val abortRules = rules.filter(_.action == Abort)
      // samples the rules every 25 ms until the action returns
      val watchdog = new Thread(() => {
        while (breach.isEmpty &&
            !done.await(25, java.util.concurrent.TimeUnit.MILLISECONDS)) {
          val elapsed = (System.nanoTime() - t0) / 1e9
          val rows = scope.scanRows
          abortRules.find(r =>
            r.maxSeconds.exists(elapsed > _) ||
              r.maxScanRows.exists(rows > _)).foreach { r =>
            breach = Some(Violation(r, elapsed, rows))
            sc.cancelJobsWithTag(scope.tag)
          }
        }
      }, s"${scope.tag}-watchdog")
      watchdog.setDaemon(true)
      sc.setInterruptOnCancel(true)
      watchdog.start()
      try {
        val out =
          try action(df)
          catch { case e: Throwable => throw breach.getOrElse(e) }
        // post-completion sweep: log rules see final totals — the
        // drained profile includes the last tasks' rows
        val logRules = rules.filter(_.action == Log)
        val rows = if (!logRules.exists(_.maxScanRows.isDefined)) scope.scanRows
          else scope.profile().fold(scope.scanRows)(_.scanRows)
        val elapsed = (System.nanoTime() - t0) / 1e9
        logRules.foreach { r =>
          if (r.maxSeconds.exists(elapsed > _) || r.maxScanRows.exists(rows > _))
            monitor.record("query", "qmr", "qmr_violation", elapsed,
              rowcount = Some(rows), message = Some(r.name))
        }
        // a breach can race a query that finishes in the same tick —
        // completed work wins, the abort is moot
        out
      } finally {
        done.countDown()
        sc.setLocalProperty(interruptKey, callerInterrupt)
      }
    }
  }
}
