package graft.etl

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{CreateDataSourceTableAsSelectCommand,
  DataWritingCommandExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.Bus

/** Per-build load diagnostics (S11): the reference reports rows /
  * files / MB per COPY from `stl_load_commits`. Here they are the SQL
  * metrics of the executed write plan: scans carry files/bytes read,
  * exchanges shuffle bytes, the write command files/bytes/rows. */
final case class LoadMetrics(filesRead: Long, bytesRead: Long, shuffleBytesWritten: Long,
                             filesWritten: Long, bytesWritten: Long, rowsWritten: Long)

/** The engine's one Spark listener, added to a SparkContext's bus on
  * first use ([[Telemetry.of]]). It keeps the [[LoadMetrics]] of the
  * last finished write to each watched output path, so concurrent D5
  * builds each pick up exactly their own numbers, and feeds task and
  * stage events to the open [[Telemetry.Scope]]s (one per job tag).
  * Events arrive asynchronously: readers drain the bus (bounded) and
  * then read, and a drain that times out reads as "no metrics". */
final class Telemetry private (hadoopConf: org.apache.hadoop.conf.Configuration)
    extends SparkListener {
  import Telemetry.Scope

  private val watched = ConcurrentHashMap.newKeySet[String]()
  private val written = new ConcurrentHashMap[String, LoadMetrics]()
  private val scopes = new ConcurrentHashMap[String, Scope]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd if !watched.isEmpty =>
      Bus.succeeded(e).foreach { qe =>
        val nodes = allNodes(qe.executedPlan)
        outputPathOf(nodes).map(normalize).filter(watched.contains)
          .foreach(written.put(_, extract(nodes)))
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Bus.jobTags(e.properties).flatMap(t => Option(scopes.get(t))).foreach(_.jobStarted(e.stageIds))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    scopes.values.forEach(_.taskEnded(e))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    scopes.values.forEach(_.stageCompleted(e.stageInfo))

  /** The reader's location string may be RELATIVE, the write
    * command's is resolved: qualify both through the filesystem. */
  private def normalize(p: String): String = {
    val path = new Path(p)
    path.getFileSystem(hadoopConf).makeQualified(path).toUri.getPath
  }

  /** Every node in the executed plan, descending through AQE stages.
    * A [[ReusedExchangeExec]] shares the original's SQLMetric objects
    * and subtree, so it is skipped; the identity-visited set guards
    * any other plan fragment reachable from two parents. */
  private def allNodes(root: SparkPlan): Seq[SparkPlan] = {
    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: ReusedExchangeExec => Seq.empty
      case _ if !visited.add(p) => Seq.empty
      case a: AdaptiveSparkPlanExec => p +: go(a.executedPlan)
      case q: QueryStageExec => p +: go(q.plan)
      case _ => p +: p.children.flatMap(go)
    }
    go(root)
  }

  private def outputPathOf(nodes: Seq[SparkPlan]): Option[String] =
    nodes.collectFirst {
      case d: DataWritingCommandExec => d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => Some(i.outputPath.toString)
        case c: CreateDataSourceTableAsSelectCommand =>
          c.table.storage.locationUri.map(_.toString)
        case _ => None
      }
    }.flatten

  private def extract(nodes: Seq[SparkPlan]): LoadMetrics = {
    def metric(p: SparkPlan, key: String): Long =
      p.metrics.get(key).map(_.value).getOrElse(0L)
    // A file scan is any node carrying "filesSize"; its "numFiles" is
    // files READ. The write command's "numFiles" is files WRITTEN —
    // same key, disjoint node types.
    val scans = nodes.filter(_.metrics.contains("filesSize"))
    val writes = nodes.collect { case d: DataWritingCommandExec => d.cmd }
    def writeMetric(key: String): Long =
      writes.map(_.metrics.get(key).map(_.value).getOrElse(0L)).sum
    LoadMetrics(
      filesRead = scans.map(metric(_, "numFiles")).sum,
      bytesRead = scans.map(metric(_, "filesSize")).sum,
      shuffleBytesWritten =
        nodes.map(metric(_, "shuffleBytesWritten")).sum,
      filesWritten = writeMetric("numFiles"),
      bytesWritten = writeMetric("numOutputBytes"),
      rowsWritten = writeMetric("numOutputRows"))
  }
}

object Telemetry {

  /** The bound on every drain. */
  val DrainTimeoutMs = 10000L

  /** One Spark stage of a scope. Stage names are action callsites, so
    * the ROLE of a stage is read off tasks/records, not the name. */
  final case class StageRec(id: Int, wallMs: Long, tasks: Int, runMs: Long,
                            records: Long, maxTaskMs: Long)

  /** A scope's totals. `stages` count successful tasks; `scanRows` and
    * `scanBytes` every task that reported input metrics. */
  final case class Profile(jobs: Int, stages: Seq[StageRec], scanRows: Long, scanBytes: Long) {
    def tasks: Int = stages.map(_.tasks).sum
  }

  /** The jobs of one job tag: those submitted from the thread that
    * opened the scope and from threads started under it (Spark's local
    * properties are inherited). Task ends carry the metrics; stage
    * completions the wall time. Guarded by the scope's monitor. */
  final class Scope private[Telemetry] (sc: SparkContext, val tag: String) {
    private val liveRows = new AtomicLong(0L)
    private var jobs = 0
    private var scanBytes = 0L
    private val jobStages = scala.collection.mutable.Set.empty[Int]
    private val stages = scala.collection.mutable.Map.empty[Int, StageRec]

    /** Input rows of the tasks finished so far, without a drain. */
    def scanRows: Long = liveRows.get()

    /** Drains the bus, then reads; None when the drain timed out. */
    def profile(timeoutMs: Long = DrainTimeoutMs): Option[Profile] =
      if (!drain(sc, timeoutMs)) None
      else synchronized(Some(Profile(jobs, stages.values.toSeq.sortBy(_.id), scanRows, scanBytes)))

    private def stage(id: Int) = stages.getOrElse(id, StageRec(id, -1L, 0, 0L, 0L, 0L))

    private[Telemetry] def jobStarted(stageIds: Seq[Int]): Unit = synchronized {
      jobs += 1
      jobStages ++= stageIds
    }

    private[Telemetry] def taskEnded(t: SparkListenerTaskEnd): Unit = synchronized {
      if (jobStages(t.stageId)) {
        val m = Option(t.taskMetrics)
        m.foreach { m =>
          liveRows.addAndGet(m.inputMetrics.recordsRead)
          scanBytes += m.inputMetrics.bytesRead
        }
        if (t.taskInfo != null && t.taskInfo.successful) {
          val s = stage(t.stageId)
          stages(t.stageId) = s.copy(tasks = s.tasks + 1,
            runMs = s.runMs + m.fold(0L)(_.executorRunTime),
            records = s.records +
              m.fold(0L)(m => m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead),
            maxTaskMs = math.max(s.maxTaskMs, t.taskInfo.duration))
        }
      }
    }

    private[Telemetry] def stageCompleted(si: StageInfo): Unit = synchronized {
      if (jobStages(si.stageId))
        stages(si.stageId) = stage(si.stageId).copy(wallMs =
          (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L))
    }
  }

  /** The context's listener, added to (and owned by) its bus on first use. */
  def of(sc: SparkContext): Telemetry = synchronized {
    Bus.listeners[Telemetry](sc).headOption.getOrElse {
      val t = new Telemetry(sc.hadoopConfiguration)
      sc.addSparkListener(t)
      t
    }
  }

  /** Waits until every event posted so far is delivered; false on timeout. */
  def drain(sc: SparkContext, timeoutMs: Long = DrainTimeoutMs): Boolean =
    Bus.drain(sc, timeoutMs)

  /** Runs `body` under a fresh job tag, with the scope that counts the
    * tag's jobs. The scope ends with `body`: read it inside. */
  def scoped[T](spark: SparkSession)(body: Scope => T): T = {
    val sc = spark.sparkContext
    val t = of(sc)
    val scope = new Scope(sc, s"graft-${java.util.UUID.randomUUID()}")
    t.scopes.put(scope.tag, scope)
    sc.addJobTag(scope.tag)
    try body(scope)
    finally {
      sc.removeJobTag(scope.tag)
      t.scopes.remove(scope.tag)
    }
  }

  /** Runs `write`, a write to `path`, and returns its metrics after a
    * drain; None on a timed-out drain or no write seen. Only writes
    * inside the outermost call for `path` count, so a late delivery
    * from an earlier write to it cannot leak in. */
  def measureWrite(spark: SparkSession, path: String,
                   timeoutMs: Long = DrainTimeoutMs)(write: => Unit): Option[LoadMetrics] = {
    val t = of(spark.sparkContext)
    val key = t.normalize(path)
    val outermost = t.watched.add(key)
    if (outermost) t.written.remove(key)
    try {
      write
      if (drain(spark.sparkContext, timeoutMs)) Option(t.written.get(key)) else None
    } finally if (outermost) {
      t.watched.remove(key)
      t.written.remove(key)
    }
  }
}
