package graft

import graft.etl.Telemetry

object Bench {
  private final case class Times(cold: Double, median: Double,
                                 minWarm: Double, spread: Double)

  // ------------------------------------------- per-stage telemetry
  /** One timed run of `action` under its own job tag. With `stages`,
    * also the run's per-stage records, read after a drain of the
    * listener bus and never inside the timing. */
  private[graft] def timed(spark: org.apache.spark.sql.SparkSession, stages: Boolean)(
      action: => Unit): (Double, Seq[Telemetry.StageRec]) =
    Telemetry.scoped(spark) { scope =>
      val t0 = System.nanoTime()
      action
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, if (stages) scope.profile().map(_.stages).getOrElse(Nil) else Nil)
    }

  private[graft] def stageJson(runs: Seq[Seq[Telemetry.StageRec]]): String =
    runs.map(_.map(s =>
        s"""{"id":${s.id},"wall_ms":${s.wallMs},"tasks":${s.tasks},""" +
          s""""run_ms":${s.runMs},"records":${s.records},""" +
          s""""max_task_ms":${s.maxTaskMs}}""")
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  // ------------------------------------------------- JVM counters
  /** JIT/GC/codegen state snapshot: tells compilation state, GC
    * pressure and raw throughput apart in a wall gap, from artifact
    * fields alone. */
  private[graft] final case class JvmSnap(jitMs: Long, gcN: Long, gcMs: Long,
                                   janinoN: Long)

  private[graft] def jvmSnap(): JvmSnap = {
    import scala.jdk.CollectionConverters._
    val comp = java.lang.management.ManagementFactory.getCompilationMXBean
    val jit = if (comp != null && comp.isCompilationTimeMonitoringSupported)
      comp.getTotalCompilationTime else -1L
    val gcs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    JvmSnap(jit, gcs.map(_.getCollectionCount).sum,
      gcs.map(_.getCollectionTime).sum,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  private[graft] def jvmDeltaJson(a: JvmSnap, b: JvmSnap): String =
    s"""{"jit_ms":${b.jitMs - a.jitMs},"gc_n":${b.gcN - a.gcN},""" +
      s""""gc_ms":${b.gcMs - a.gcMs},"janino_n":${b.janinoN - a.janinoN}}"""

  /** The full artifact's one path. Bench never writes the committed
    * baseline `BENCH_LOCAL.json`: a person promotes a run with
    * `cp BENCH_LAST.json BENCH_LOCAL.json` after reading
    * `contended_run: false`. */
  private[graft] val OutFile = "BENCH_LAST.json"

  /** A run is stamped contended when the box's 1-minute load average
    * is above 1 at its start, or when at its end the load average less
    * Bench's own busy cores over the run's last minute is above 1: a
    * run that starts quiet can still end at load 8, but on a small box
    * Bench's own threads alone lift the end load past 1 (an idle 4-core
    * box went from 0.51 to 2.70 with about 3 of those cores Bench's).
    * The numbers are recorded as measured either way — the stamp only
    * tells a reader not to compare them. */
  private[graft] def contendedRun(loadStart: Double, loadEnd: Double,
                                  ownBusyCoresEnd: Double): Boolean =
    loadStart > 1.0 || loadEnd - ownBusyCoresEnd > 1.0

  /** This JVM's CPU time so far, all threads, in ns (-1 where the JVM
    * does not report it). */
  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Mean busy cores over the last minute of a run (the window of the
    * 1-minute load average), from (wall ns, process CPU ns) samples
    * taken at entry boundaries, oldest first: the CPU time since the
    * latest sample at or before the minute's start (the first sample
    * for a shorter run), over the wall time since it. */
  private[graft] def ownBusyCores(samples: Seq[(Long, Long)]): Double = {
    val (wallEnd, cpuEnd) = samples.last
    val (wall0, cpu0) = samples.takeWhile(_._1 <= wallEnd - 60L * 1000000000L)
      .lastOption.getOrElse(samples.head)
    if (wallEnd <= wall0 || cpu0 < 0) 0.0
    else (cpuEnd - cpu0).toDouble / (wallEnd - wall0)
  }

  /** The one line printed on stdout. A tail parser captures only ~2000
    * chars, and the full per-query artifact is ~6 KB, so the line is a
    * bounded COMPACT summary — rounded totals, the 25 slowest queries
    * (the ones a regression reader needs), and a pointer to the
    * full-precision file. */
  private[graft] def compactLine(medians: Seq[(String, Double)],
                                 total: Double, coldTotal: Double,
                                 minTotal: Double,
                                 warmRuns: Int, failed: Seq[String],
                                 loadStart: Double, loadEnd: Double,
                                 ownBusyCoresEnd: Double,
                                 ncpu: Int, sfDir: String): String = {
    def r3(d: Double): String = f"$d%.3f"
    def arr(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val slowest = medians.filter(_._2 >= 0)
      .sortBy(-_._2).take(25)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","warm_runs":$warmRuns,"queries":$slowest,"queries_shown":${math.min(25, medians.count(_._2 >= 0))},"queries_run":${medians.size},"full":"$OutFile","cold_total":${r3(coldTotal)},"min_total":${r3(minTotal)},"failed":${arr(failed)},"contended_run":${contendedRun(loadStart, loadEnd, ownBusyCoresEnd)},"load_avg_start":${r3(loadStart)},"load_avg_end":${r3(loadEnd)},"own_busy_cores_end":${r3(ownBusyCoresEnd)},"cpus":$ncpu,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Warm repetitions per query (median reported): multi-job queries
    // (dedup_clusters, the dag_* lifecycle builds) show 2-7x
    // run-to-run swing from GC/JIT/page-cache state, so a single
    // sample cannot separate a 2x regression from noise; median-of-3
    // plus the reported spread can.
    val warmRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // The 1-minute load average at start and end, and this JVM's own
    // busy cores at the end, are stamped into the artifact (see
    // contendedRun) — recorded, never acted on.
    def loadAvg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg()
    val cpuSamples = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def sampleCpu(): Unit = cpuSamples += ((System.nanoTime(), processCpuNanos()))
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Session.build()
    val ncpu = spark.sparkContext.defaultParallelism
    // Warm the session (hadoop FS, parquet reader, codegen paths) so
    // the alphabetically-first query's time reflects the query, not
    // one-time JVM initialization.
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
    // Failures are recorded (-1, excluded from total), never silently
    // folded into the timing.
    //
    // Each query is executed once COLD, then `warmRuns` more times,
    // cache cleared between runs so every run re-executes the full
    // plan (persists re-materialize — nothing is reused). The headline
    // per-query number is the warm MEDIAN; cold, the warm min and the
    // warm spread (max - min) are reported alongside, all as measured.
    // The first execution of a query pays one-time costs unrelated to
    // the plan — whole-stage codegen compilation of its expressions
    // and first-touch parquet footer reads — which land on whichever
    // query alphabetically first touches a table/expression shape
    // (round 2's "dedup_exact 9.9x regression" was exactly this: first
    // query to read documents.parquet + compile normText, 4.2 s cold
    // vs 0.4 s warm in a fresh JVM). Warm-but-fresh runs measure the
    // plan.
    var failed = List.empty[String]
    var censuses = List.empty[(String, String)]
    var jvmStats = List.empty[(String, String)]
    var stageStats = List.empty[(String, String)]
    // Entries that get PER-STAGE telemetry on every run (cold + each
    // warm): the fuzzy tier, the top lifecycle entry, the IVF/stored-
    // retrieval family, the streaming replays and the r19 watch items.
    // Override with SPARK_GRAFT_BENCH_STAGES.
    val stageSet: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_STAGES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("fuzzy_join_names", "fuzzy_join_names2",
        "er_golden_records", "dag_final_table",
        "ann_ivf_topk", "ann_ivf_topk_sq8", "ann_ivf_topk_pq",
        "ann_ivf_topk_stored", "retrieval_topk_stored",
        "stream_incremental_dedup", "stream_heavy_hitters",
        "stream_scd2_dim",
        "dedup_containment", "dedup_ngram_jaccard", "graph_pagerank"))
    val jvmRunStart = jvmSnap()
    sampleCpu()
    val results = selected.map { case (name, fn) =>
      val wantStages = stageSet.contains(name)
      val stageRuns = scala.collection.mutable.ArrayBuffer.empty[Seq[Telemetry.StageRec]]
      def once(): Double = {
        try {
          val (dt, stages) = timed(spark, wantStages) { fn(spark, sfDir).count(); () }
          if (wantStages) stageRuns += stages
          dt
        } finally {
          // Queries persist() intermediates; drop them so nothing is
          // reused across runs or accumulates across the loop.
          spark.catalog.clearCache()
          // Model-artifact memos (BPE merge table, PQ codebook) must
          // not survive into the next timed run either: a warm run
          // that skips learning the artifact its entry declares
          // understates the true cost (r19 verdict item 3).
          graft.queries.TextOps.clearModelMemos()
          graft.queries.AnnOps.clearModelMemos()
        }
      }
      try {
        graft.queries.FuzzyJoin.censusLog.set(Nil)
        val jvm0 = jvmSnap()
        val cold = once()
        // tier-decision telemetry (the fuzzy session-bimodality hunt):
        // snapshot after the cold run — the census is computed at plan
        // CONSTRUCTION and is content-deterministic, so warm runs
        // recompute the identical decision. An ARRAY: entries that
        // build several fuzzy plans log one census each, in
        // construction order.
        val censusesOfEntry = graft.queries.FuzzyJoin.censusLog.get().reverse
        if (censusesOfEntry.nonEmpty)
          censuses ::= (name -> censusesOfEntry.map { cs =>
            s"""{"cap":${cs.cap},"sampled":${cs.sampled},""" +
              s""""hot_buckets":${cs.hotBuckets},"overflowed":${cs.overflowed},""" +
              s""""max_df":${cs.maxDf},"sum_df":${cs.sumDf},""" +
              s""""chunk_tasks":${cs.chunkTasks},"census_ms":${cs.censusMillis}}"""
          }.mkString("[", ",", "]"))
        val warms = Seq.fill(warmRuns)(once()).sorted
        jvmStats ::= (name -> jvmDeltaJson(jvm0, jvmSnap()))
        if (wantStages) stageStats ::= (name -> stageJson(stageRuns.toSeq))
        name -> Times(cold, warms(warms.size / 2), warms.head,
          warms.last - warms.head)
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        failed ::= name
        spark.catalog.clearCache()
        name -> Times(-1.0, -1.0, -1.0, -1.0)
      }
      finally sampleCpu()
    }
    val loadEnd = loadAvg()
    val ownBusyCoresEnd = ownBusyCores(cpuSamples.toSeq)
    def json(f: Times => Double): String = results
      .map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, t) if t.median >= 0 => t.median }.sum
    val coldTotal = results.collect { case (_, t) if t.cold >= 0 => t.cold }.sum
    val minTotal = results.collect { case (_, t) if t.minWarm >= 0 => t.minWarm }.sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    def objOf(xs: List[(String, String)]): String = xs.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val censusJson = objOf(censuses)
    val jvmJson = objOf(jvmStats)
    val stagesJson = objOf(stageStats)
    // whole-run JVM telemetry: a session whose TOTAL JIT time dwarfs a
    // fast session's on identical work is running interpreted/C1 far
    // longer — visible here without any per-entry comparison
    val jvmRunEnd = jvmSnap()
    val uptime = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime
    val jvmTotalJson = jvmDeltaJson(jvmRunStart, jvmRunEnd).dropRight(1) +
      s""","uptime_ms":$uptime,"jit_ms_since_jvm_start":${jvmRunEnd.jitMs}}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","warm_runs":$warmRuns,"queries":${json(_.median)},"queries_cold":${json(_.cold)},"queries_min":${json(_.minWarm)},"queries_spread":${json(_.spread)},"census":$censusJson,"jvm":$jvmJson,"jvm_total":$jvmTotalJson,"stages":$stagesJson,"cold_total":$coldTotal,"min_total":$minTotal,"failed":$failedJson,"contended_run":${contendedRun(loadStart, loadEnd, ownBusyCoresEnd)},"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"own_busy_cores_end":$ownBusyCoresEnd,"cpus":$ncpu,"spark_parallelism":$ncpu,"shuffle_partitions":${spark.sessionState.conf.numShufflePartitions},"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(OutFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $OutFile: ${e.getMessage}") }
    spark.stop()
    println(compactLine(results.map { case (k, v) => (k, v.median) },
      total, coldTotal, minTotal, warmRuns, failed.sorted,
      loadStart, loadEnd, ownBusyCoresEnd, ncpu, sfDir))
  }
}
