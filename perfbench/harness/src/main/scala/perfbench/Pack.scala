package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.etl.DialectShims

/** One run of a pack workload: a closed loop with one client that
  * calls operator-pack entries through their public entry functions.
  *
  * An operation is one pass over `--entries`, in the given order. Each
  * entry is constructed (`fn(spark, data)`, including any eager work
  * inside it) and then collected. The result is reduced to a row count
  * and an order-free hash after the timed span, and the session cache
  * is cleared before the next entry.
  *
  * The session is built from `--conf` (the `key<TAB>value` settings the
  * shipped CLI reports) and gets the CLI's log level and SQL shims, as
  * `graft.Cli.main` does. The first pass is cold. `--warmup` untimed
  * passes follow, so that the bulk of JIT compilation is done before
  * timing; then timed passes run for `--seconds`, and at least six.
  *
  * With `--trace 1` the cold pass and every other timed pass run with
  * listeners attached; the rest run bare, so the run itself shows the
  * tracing overhead. Everything is written to `--out` as one JSON
  * document when the run ends.
  */
object Pack {
  private final case class Args(conf: String, data: String, entries: Seq[String],
                                seconds: Double, warmup: Int, trace: Boolean, out: String)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("conf"), need("data"), need("entries").split(',').toSeq.filter(_.nonEmpty),
      need("seconds").toDouble, need("warmup").toInt, need("trace") == "1", need("out"))
  }

  private val spans = ArrayBuffer.empty[String]
  private var spanIds = 0

  /** Times `f` as a span with a parent and an operation id. */
  private def span[T](name: String, parent: Int, op: Int)(f: => T): (T, Int, Double) = {
    spanIds += 1
    val id = spanIds
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    spans += Json.obj(Seq("id" -> Json.num(id.toLong), "name" -> Json.str(name),
      "parent" -> Json.num(parent.toLong), "op" -> Json.num(op.toLong),
      "start_ns" -> Json.num(t0), "end_ns" -> Json.num(t1)))
    (r, id, (t1 - t0) / 1e9)
  }

  /** Contention as seen from inside the box: 1-minute load average and
    * cumulative steal ticks. Recorded beside each entry, never used to
    * drop, repeat or adjust a measurement. */
  private def contention(): String = {
    def read(p: String) = new String(Files.readAllBytes(Paths.get(p)), UTF_8)
    val load = scala.util.Try(read("/proc/loadavg").split(' ')(0).toDouble).getOrElse(-1.0)
    val steal = scala.util.Try(read("/proc/stat").linesIterator.next()
      .trim.split("\\s+")(8).toLong).getOrElse(-1L)
    Json.obj(Seq("load1" -> Json.num(load), "steal_ticks" -> Json.num(steal)))
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of every live Java thread, by id. The management API does
    * not list JIT compiler or GC threads, so this is the CPU of the
    * program's own work: driver, executor and listener threads. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Thread CPU seconds since `before`; a thread that ended in between
    * loses its share since `before`, so this can only read low. */
  private def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => math.max(0L, ns - before.getOrElse(id, 0L)) }.sum / 1e9

  /** A session with the settings in `confFile` (`key<TAB>value` lines,
    * as the shipped CLI reports them) plus `extra`, at the CLI's log
    * level. The caller registers the SQL shims. */
  def session(confFile: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
    val conf = Files.readAllLines(Paths.get(confFile), UTF_8).asScala.toSeq
      .filter(_.contains('\t')).map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }
    (conf ++ extra).foreach { case (k, v) => if (k == "spark.master") b.master(v) else b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)

    // ---- setup: JVM start until the session answers its first query
    val (spark, _, _) = span("session.build", 0, 0)(session(a.conf))
    val tracer = if (a.trace) Some((new TraceListener, new TraceQueryListener)) else None
    def attach(on: Boolean): Unit = tracer.foreach { case (l, q) =>
      Bus.drain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(q)
      } else {
        spark.sparkContext.removeSparkListener(l)
        spark.listenerManager.unregister(q)
      }
    }
    attach(true)
    val (_, _, shimsS) = span("shims.register", 0, 0)(DialectShims.registerAll(spark))
    span("session.first_query", 0, 0)(spark.sql("SELECT 1").collect())
    val readyMs = System.currentTimeMillis()
    val setupLayers = if (a.trace) { Bus.drain(spark.sparkContext); Counters.snapshot() }
      else Map.empty[String, Double]

    val entries = SparkEntry.queries
    val unknown = a.entries.filterNot(entries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(",")}")

    // ---- the closed loop: one cold pass, `--warmup` passes that let
    // the JIT settle, then timed passes for `--seconds` (at least six)
    val passes = ArrayBuffer.empty[String]
    val minTimed = 6
    var op = 0
    var timed = 0
    var t0 = 0L
    def more = timed < minTimed || (System.nanoTime() - t0) / 1e9 < a.seconds
    while (a.entries.nonEmpty && more) {
      op += 1
      val kind = if (op == 1) "cold" else if (op <= 1 + a.warmup) "warmup" else "timed"
      if (kind == "timed") { if (timed == 0) t0 = System.nanoTime(); timed += 1 }
      val traced = a.trace && (kind == "cold" || (kind == "timed" && timed % 2 == 1))
      attach(traced)
      val before = if (traced) Counters.snapshot() else Map.empty[String, Double]
      val cpu0 = threadCpu()
      val startMs = System.currentTimeMillis()
      var wall = 0.0
      val recs = ArrayBuffer.empty[String]
      spanIds += 1
      val passSpan = spanIds
      a.entries.foreach { name =>
        val fn = entries(name)
        val c = contention()
        val e0 = if (traced) Counters.snapshot() else Map.empty[String, Double]
        val result = try {
          val (df, _, construct) = span("entry.construct", passSpan, op)(fn(spark, a.data))
          val (rows, _, execute) = span("entry.execute", passSpan, op)(df.collect())
          wall += construct + execute
          Right((construct, execute, df.schema.simpleString, rows))
        } catch {
          case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(400))
        }
        spark.catalog.clearCache()
        val layers = if (traced) {
          Bus.drain(spark.sparkContext)
          Seq("layers" -> Counters.json(delta(e0, Counters.snapshot())))
        } else Nil
        recs += Json.obj(Seq("name" -> Json.str(name), "contention" -> c) ++ (result match {
          case Right((construct, execute, schema, rows)) => Seq(
            "ok" -> "true", "construct_s" -> Json.num(construct),
            "execute_s" -> Json.num(execute), "rows" -> Json.num(rows.length.toLong),
            "hash" -> Json.str(hash(schema, rows)))
          case Left(err) => Seq("ok" -> "false", "error" -> Json.str(err))
        }) ++ layers)
      }
      val cpu = cpuSince(cpu0)
      val layers = if (traced) {
        Bus.drain(spark.sparkContext)
        Seq("layers" -> Counters.json(delta(before, Counters.snapshot())))
      } else Nil
      passes += Json.obj(Seq("op" -> Json.num(op.toLong), "kind" -> Json.str(kind),
        "traced" -> traced.toString,
        "start_ms" -> Json.num(startMs), "wall_s" -> Json.num(wall),
        "cpu_s" -> Json.num(cpu), "entries" -> Json.arr(recs)) ++ layers)
    }
    val endContention = contention()
    val sc = spark.sparkContext
    val doc = Json.obj(Seq(
      "ready_ms" -> Json.num(readyMs),
      "jvm_start_ms" -> Json.num(ManagementFactory.getRuntimeMXBean.getStartTime),
      "shims_register_s" -> Json.num(shimsS),
      "setup_layers" -> Counters.json(setupLayers),
      "session" -> Json.obj(Seq(
        "conf" -> Json.obj(spark.conf.getAll.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
        "default_parallelism" -> Json.num(sc.defaultParallelism.toLong),
        "nproc" -> Json.num(Runtime.getRuntime.availableProcessors.toLong))),
      "end_contention" -> endContention,
      "passes" -> Json.arr(passes),
      "spans" -> Json.arr(spans)))
    spark.stop()
    Files.write(Paths.get(a.out), doc.getBytes(UTF_8))
  }

  private def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  /** Order-free digest of a result: schema, then the sorted rendering
    * of every row. */
  def hash(schema: String, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.getBytes(UTF_8))
    rows.map(render).sorted.foreach { r => md.update('\n'.toByte); md.update(r.getBytes(UTF_8)) }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
