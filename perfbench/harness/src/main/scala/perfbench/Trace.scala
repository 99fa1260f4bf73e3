package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, fed from Spark's public listener interfaces and
  * two log streams. Every counter only ever grows; a layer's cost over
  * an interval is the difference of two [[Counters.snapshot]]s. */
object Counters {
  private val sums = TrieMap.empty[String, DoubleAdder]

  def add(name: String, v: Double): Unit =
    sums.getOrElseUpdate(name, new DoubleAdder).add(v)

  /** Counter values plus the JVM's own monotone totals. */
  def snapshot(): Map[String, Double] = {
    val comp = ManagementFactory.getCompilationMXBean
    val jit = if (comp != null && comp.isCompilationTimeMonitoringSupported)
      comp.getTotalCompilationTime / 1e3 else 0.0
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    sums.map { case (k, v) => k -> v.sum }.toMap ++
      Map("jvm.jit_s" -> jit, "jvm.gc_s" -> gc)
  }

  def json(m: Map[String, Double]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })

  private val CodeGenerated = raw"Code generated in ([0-9.]+) ms".r.unanchored

  /** Counts whole-stage codegen compiles and their time from the
    * CodeGenerator's own "Code generated in N ms" record (one per
    * compile), and function re-registrations from
    * SimpleFunctionRegistry's "replaced a previously registered
    * function" warning. Both loggers keep their normal output. */
  private object LogTap extends AbstractAppender("perfbench", null, null,
    true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      msg match {
        case CodeGenerated(ms) =>
          add("codegen.compiles", 1)
          add("codegen.compile_s", ms.toDouble / 1e3)
        case _ if msg.contains("replaced a previously registered function") =>
          add("shims.reregistrations", 1)
        case _ =>
      }
    }
  }

  @volatile private var tapped = false

  def installLogTap(): Unit = synchronized {
    if (!tapped) {
      tapped = true
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      LogTap.start()
      cfg.addAppender(LogTap)
      Seq(
        // INFO is below the program's WARN root level: tap it without
        // passing it on to the console
        ("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
          Level.INFO, false),
        ("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
          Level.WARN, true)).foreach { case (name, level, additive) =>
        val lc = new LoggerConfig(name, level, additive)
        lc.addAppender(LogTap, null, null)
        cfg.addLogger(name, lc)
      }
      ctx.updateLoggers()
    }
  }
}

/** Scheduler, executor and I/O counters from task, stage and job
  * events. Usable as `spark.extraListeners`: constructing it also taps
  * the codegen and function-registry logs. */
class TraceListener extends SparkListener {
  def this(conf: SparkConf) = this()
  Counters.installLogTap()
  import Counters.add

  override def onJobStart(e: SparkListenerJobStart): Unit = add("sched.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("sched.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      add("sched.task_deser_s", m.executorDeserializeTime / 1e3)
      if (info != null && info.finishTime > 0)
        add("sched.scheduler_delay_s", math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime) / 1e3)
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("io.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("io.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    }
  }
}

/** Catalyst phase times of every Dataset action, from the action's
  * `QueryPlanningTracker`. Usable as `spark.sql.queryExecutionListeners`. */
class TraceQueryListener extends QueryExecutionListener {
  def this(conf: SparkConf) = this()

  private def phases(qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, summary) =>
      Counters.add(s"catalyst.${phase}_s", summary.durationMs / 1e3)
    }
    Counters.add("sql.actions", 1)
    Counters.add("sql.action_s", durationNs / 1e9)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe, 0L)
}

/** For the CLI processes: `-Dspark.extraListeners=perfbench.CliTrace`
  * with `-Dperfbench.trace.out=FILE` writes the process's counter
  * totals to FILE as it exits. */
class CliTrace extends TraceListener {
  def this(conf: SparkConf) = this()
  CliTrace.armed()
}

object CliTrace {
  private lazy val hook: Unit = sys.props.get("perfbench.trace.out").foreach { out =>
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        Counters.json(Counters.snapshot()).getBytes("UTF-8"))))
  }
  def armed(): Unit = hook
}
