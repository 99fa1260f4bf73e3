package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's output: the compact stdout line and the
  * per-entry telemetry JSON of the full artifact. */
class BenchSpec extends AnyFunSuite {

  test("compactLine: bounded size, parseable, slowest-first subset") {
    // 120 queries with realistically long names — the FULL artifact at
    // this count is ~6 KB, which overflowed the driver's ~2000-char
    // stdout tail for two rounds ("parsed": null). The compact line
    // must stay well inside the window and be strict JSON.
    val medians = (0 until 120).map(i =>
      (f"dedup_embedding_semantic_clusters_$i%03d", i * 0.01))
    val line = Bench.compactLine(medians, 71.4, 190.2, 65.2, 3,
      Seq("q_failed_one"), 2.523, 3.125, 0.0, 32, "/data/sf0.1")
    assert(line.length < 1600, s"compact line too long: ${line.length}")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("value").asDouble == 71.4)
    assert(node.get("queries").size() == 25)
    assert(node.get("queries_run").asInt == 120)
    // slowest-first: the worst query is present, the fastest is not
    assert(node.get("queries").has("dedup_embedding_semantic_clusters_119"))
    assert(!node.get("queries").has("dedup_embedding_semantic_clusters_000"))
    assert(node.get("failed").get(0).asText == "q_failed_one")
    assert(node.get("full").asText == "BENCH_LAST.json")
    // failed queries (median -1) never crowd out real timings
    val withFailed = Bench.compactLine(
      medians.take(10) ++ Seq(("boom", -1.0)), 1.0, 2.0, 0.9, 3,
      Seq("boom"), 0.1, 0.1, 0.0, 32, "sf")
    val n2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(withFailed)
    assert(!n2.get("queries").has("boom") && n2.get("queries_shown").asInt == 10)
  }

  test("compactLine: a load rise during the run stamps it contended") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def contended(start: Double, end: Double): Boolean =
      om.readTree(Bench.compactLine(Seq(("q1_agg", 0.5)), 0.5, 1.0, 0.4, 3,
        Nil, start, end, 0.0, 2, "sf")).get("contended_run").asBoolean
    // quiet at start, loaded by the end: the numbers are not a baseline
    assert(contended(0.01, 8.6))
    assert(contended(2.5, 0.3))
    assert(!contended(0.01, 0.9))
  }

  test("telemetry JSON: stage arrays and JVM deltas are strict JSON with exact fields") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // per-run stage arrays: [[run0 stages], [run1 stages]]
    val runs = Seq(
      Seq(graft.etl.Telemetry.StageRec(7, 3013L, 32, 58999L, 3175100L, 3004L)),
      Seq(graft.etl.Telemetry.StageRec(9, 12186L, 4, 45643L, 3175100L, 12181L),
        graft.etl.Telemetry.StageRec(10, 54L, 1, 42L, 105294L, 48L)))
    val sj = om.readTree(Bench.stageJson(runs))
    assert(sj.isArray && sj.size == 2 && sj.get(1).size == 2)
    val slow = sj.get(1).get(0)
    // the fields that localized the local[4] root cause must survive
    // any future reshaping of the artifact
    assert(slow.get("tasks").asInt == 4 && slow.get("wall_ms").asLong == 12186L &&
      slow.get("run_ms").asLong == 45643L && slow.get("records").asLong == 3175100L &&
      slow.get("max_task_ms").asLong == 12181L, slow.toString)
    // JVM delta: strictly end-minus-start, field by field
    val a = Bench.JvmSnap(jitMs = 1000L, gcN = 5L, gcMs = 50L, janinoN = 10L)
    val b = Bench.JvmSnap(jitMs = 18000L, gcN = 71L, gcMs = 829L, janinoN = 24L)
    val dj = om.readTree(Bench.jvmDeltaJson(a, b))
    assert(dj.get("jit_ms").asLong == 17000L && dj.get("gc_n").asLong == 66L &&
      dj.get("gc_ms").asLong == 779L && dj.get("janino_n").asLong == 14L &&
      dj.size == 4, dj.toString)
    // the live snapshot is well-formed on this JVM (monotone counters,
    // Janino histogram readable)
    val s1 = Bench.jvmSnap()
    val s2 = Bench.jvmSnap()
    assert(s2.jitMs >= s1.jitMs && s2.gcN >= s1.gcN && s2.janinoN >= s1.janinoN)
  }

  test("stage records: a 2-stage run through the bench's scoped path is complete") {
    val spark = Session.build(2)
    try {
      val (dt, stages) = Bench.timed(spark, stages = true) {
        spark.sparkContext.parallelize(1 to 1000, 4).map(i => (i % 10, i))
          .reduceByKey(_ + _, 3).count()
        ()
      }
      assert(dt >= 0.0)
      assert(stages.size == 2, stages)
      // the failure modes of a read that races the listener bus:
      // wall_ms = -1 and undercounted tasks
      assert(stages.forall(s => s.wallMs >= 0 && s.tasks >= 1), stages)
      assert(stages.map(_.tasks).sum == 4 + 3, stages)
    } finally spark.stop()
  }
}
