package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Completeness of the FastSS deletion-neighborhood blocking: on a
  * random corpus over a tiny alphabet (dense distance-1 collisions),
  * [[FuzzyJoin.pairsWithin1]] must equal the naive O(n²) sweep — the
  * candidate join may only ever ADD candidates the exact filter
  * removes, never lose a true pair. */
class FuzzyJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("deletion-neighborhood join equals the naive pairwise sweep") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    // lengths 1..6 over {a,b,c}: equal strings excluded (distinct ids,
    // distinct names), many true distance-1 pairs, many shared-variant
    // false candidates (distance-2) the exact filter must drop
    val names = (0 until 120).map(_ =>
      (1 to (1 + rng.nextInt(6))).map(_ => ('a' + rng.nextInt(3)).toChar)
        .mkString).distinct.zipWithIndex
      .map { case (n, i) => (i.toLong, n) }
    val expected = (for {
      (i1, n1) <- names.map { case (i, n) => (i, n) }
      (i2, n2) <- names if i1 < i2 && lev(n1, n2) <= 1
    } yield (i1, i2, lev(n1, n2).toLong)).toSet
    assert(expected.nonEmpty, "fixture must contain true pairs")
    assert(expected.exists(_._3 == 1L))
    val got = FuzzyJoin.pairsWithin1(names.toDF("id", "name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("distance-2 neighborhood equals the naive sweep; long strings capped") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    // lengths 2..7 over {a,b}: dense distance-2 space — insertions,
    // deletions, double substitutions, and transposition-shaped pairs
    val names = (0 until 100).map(_ =>
      (1 to (2 + rng.nextInt(6))).map(_ => ('a' + rng.nextInt(2)).toChar)
        .mkString).distinct.zipWithIndex
      .map { case (n, i) => (i.toLong, n) }
    val expected = (for {
      (i1, n1) <- names
      (i2, n2) <- names if i1 < i2 && lev(n1, n2) <= 2
    } yield (i1, i2, lev(n1, n2).toLong)).toSet
    assert(expected.exists(_._3 == 2L), "fixture must contain distance-2 pairs")
    val got = FuzzyJoin.pairsWithin2(names.toDF("id", "name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // the length cap excludes oversized strings from pairing entirely
    val long = ("x" * 200)
    val withLong = names ++ Seq(
      (900L, long), (901L, long.dropRight(1)))
    val capped = FuzzyJoin.pairsWithin2(withLong.toDF("id", "name"), maxLen = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists(p => p._1 >= 900L || p._2 >= 900L),
      "strings over the cap must not pair (bounded fan-out contract)")
  }

  test("d2 skew guard: low-entropy corpus answers exactly, without the quadratic fan-out") {
    val s = spark
    import s.implicits._
    // the adversarial shape from the sf tables: zero-padded keys whose
    // two-deletion variants collapse hundreds of strings per bucket
    // (and whose same-bucket pairs mostly FAIL the exact rescore — the
    // candidates-far-exceed-answers regime the guard exists for)
    val names = (1 to 1000).map(i => (i.toLong, f"Customer#$i%09d"))
    val expected = (for {
      (i1, n1) <- names
      (i2, n2) <- names if i1 < i2 && lev(n1, n2) <= 2
    } yield (i1, i2, lev(n1, n2).toLong)).toSet
    assert(expected.nonEmpty)
    // the candidate multiset the UNGUARDED variant equi-join would
    // emit: sum over variant buckets of C(df, 2) — recomputed here
    // driver-side with the same deletion neighborhood (string-keyed;
    // the 60-bit hash only renames buckets)
    def variants2(n: String): Set[String] = {
      val d1 = (0 until n.length).map(i => n.take(i) + n.drop(i + 1))
      val d2 = for {
        i <- 0 until n.length; j <- i + 1 until n.length
      } yield n.take(i) + n.slice(i + 1, j) + n.drop(j + 1)
      (d1 ++ d2 :+ n).toSet
    }
    val df = scala.collection.mutable.HashMap.empty[String, Long]
    names.foreach { case (_, n) =>
      variants2(n).foreach(v => df(v) = df.getOrElse(v, 0L) + 1) }
    val naiveCandidates = df.valuesIterator.map(d => d * (d - 1) / 2).sum
    // the AVOIDABLE work is the candidates that fail the exact rescore
    // (answers must be emitted by any complete plan)
    val falseCandidates = naiveCandidates - expected.size
    assert(falseCandidates > 3L * expected.size,
      s"fixture must be dominated by rescore-rejected candidates " +
        s"($falseCandidates false vs ${expected.size} true)")
    val frame = FuzzyJoin.pairsWithin2(names.toDF("id", "name"))
    val rows = frame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = rows.toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // exactly-once: the canonical-bucket rule (emit only from the
    // min shared variant bucket) must make the raw output duplicate-
    // free with NO dedup operator anywhere in the plan
    assert(rows.length == got.size,
      s"canonical-bucket emission must be exactly-once: " +
        s"${rows.length} rows for ${got.size} distinct pairs")
    import org.apache.spark.sql.execution.SparkPlan
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val extra: Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(c.relation.cachedPlan)
        case _ => Nil
      }
      p +: (p.children ++ extra).flatMap(walk)
    }
    val nodes = walk(frame.queryExecution.executedPlan).distinct
    // no aggregation ABOVE the bucket join: the pre-canonical design
    // paid a candidate-volume distinct there (a multi-million-row
    // shuffle at sf0.1). The INPUT-side dedup of (id, name) below the
    // join is allowed — it enforces the duplicate-free contract over
    // a frame 20x smaller than the candidates.
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case _ => p.children
    }
    def aboveJoin(p: SparkPlan): Seq[SparkPlan] =
      if (p.nodeName.contains("Join")) Seq(p)
      else p +: kids(p).flatMap(aboveJoin)
    val above = walk(frame.queryExecution.executedPlan).flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        aboveJoin(a.executedPlan)
      case _ => Nil
    }.distinct
    assert(above.exists(_.nodeName.contains("Join")),
      s"expected the bucket join in ${above.map(_.nodeName).distinct}")
    assert(!above.exists(_.nodeName.contains("Aggregate")),
      s"no dedup stage above the join: ${above.map(_.nodeName).distinct}")
    // the candidate volume streams through the bucket join INSIDE one
    // codegen stage; the only shuffled rows are the VARIANT frames
    // feeding the join — never candidates. shuffleRecordsWritten is
    // data-deterministic, so this is not a timing assertion.
    val shuffledRecords = nodes
      .filter(_.nodeName.contains("Exchange"))
      .flatMap(_.metrics.get("shuffleRecordsWritten")).map(_.value).sum
    assert(shuffledRecords > 0, "variant shuffle must have run")
    assert(shuffledRecords < naiveCandidates / 2,
      s"shuffled $shuffledRecords rows vs $naiveCandidates candidates — " +
        "candidate volume leaked into a shuffle")
  }

  test("d2 mega-bucket guard: over-cap bucket runs in the chunked local " +
    "tier, exactly once, sampled census detects it") {
    val s = spark
    import s.implicits._
    // 600 names that ALL share one deletion variant ("AAAAAAAA"): a
    // unique BMP char inserted into the same base — bucket df = 600
    // exceeds the 256 cap below, and 600 names is enough for the 10%
    // sampled census (seeded, partitioning-deterministic) to flag the
    // bucket with overwhelming margin (estimate ≈ 600 vs cap 256)
    val base = "AAAAAAAA"
    val names = (0 until 600).map { i =>
      (i.toLong, base.substring(0, 4) + (0x4E00 + i).toChar + base.substring(4))
    }
    val expected = (for {
      (i1, n1) <- names
      (i2, n2) <- names if i1 < i2 && lev(n1, n2) <= 2
    } yield (i1, i2, lev(n1, n2).toLong)).toSet
    assert(expected.size == 600 * 599 / 2, "all pairs are substitutions")
    val t = Tuning.default.copy(maxSelfVariantDf = 256, variantChunk = 128)
    val frame = FuzzyJoin.pairsWithin2(names.toDF("id", "name"), t = t)
    val rows = frame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = rows.toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // exactly-once ACROSS TIERS: a pair's canonical bucket is either
    // hot or light, so no pair may be emitted by both
    assert(rows.length == got.size,
      s"cross-tier emission must be exactly-once: " +
        s"${rows.length} rows for ${got.size} distinct pairs")
    // the chunked within-bucket tier must actually have engaged
    // (df 600 over chunk 128 → triangle chunk-pair tasks)
    import org.apache.spark.sql.execution.SparkPlan
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val extra: Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case _ => Nil
      }
      p +: (p.children ++ extra).flatMap(walk)
    }
    val nodes = walk(frame.queryExecution.executedPlan).distinct
    assert(nodes.exists(_.nodeName.contains("MapGroups")),
      "heavy tier (within-bucket local pairwise) must be in the plan")
  }

  test("golden records: chained variants collapse to one entity, singletons survive") {
    val s = spark
    import s.implicits._
    // cluster A: chain acme -> acmee -> acmef (acme~acmee dist 1,
    // acmee~acmef dist 1, acme~acmef dist 2 — only transitivity links
    // them); cluster B: exact-ish pair; two singletons
    val names = Seq(
      (10L, "acme corp"), (11L, "acmee corp"), (12L, "acmef corp"),
      (20L, "zenith ltd"), (21L, "zenith ltd2"),
      (30L, "solo gmbh"), (31L, "unrelated plc"))
    val out = FuzzyJoin.goldenRecordsOf(names.toDF("id", "name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(out == Seq(
      (10L, 10L, "acme corp", 3L), (11L, 10L, "acme corp", 3L),
      (12L, 10L, "acme corp", 3L),
      (20L, 20L, "zenith ltd", 2L), (21L, 20L, "zenith ltd", 2L),
      (30L, 30L, "solo gmbh", 1L), (31L, 31L, "unrelated plc", 1L)),
      s"got ${out.mkString(", ")}")
  }

  test("unique-input precondition: upstream dedup restores exactly-once on dirty input") {
    // pairsWithin* documents a unique-(id, name) PRECONDITION (an
    // enforcing dropDuplicates cost 20-40% on the flagship bench
    // entries — an extra corpus-wide exchange). This pins the
    // documented remedy: dedup upstream, get duplicate-free pairs.
    val s = spark
    import s.implicits._
    val dirty = Seq(
      (1L, "martha stewart"), (1L, "martha stewart"),  // exact dupe x2
      (2L, "marta stewart"), (2L, "marta stewart"), (2L, "marta stewart"),
      (3L, "unrelated name")).toDF("id", "name")
    val clean = dirty.dropDuplicates(Seq("id", "name"))
    assert(FuzzyJoin.pairsWithin2(clean).collect().length == 1)
    assert(FuzzyJoin.pairsWithin1(clean).collect().length == 1)
    // and the dirty input demonstrably NEEDS the upstream dedup
    assert(FuzzyJoin.pairsWithin2(dirty).collect().length > 1)
  }

  test("construction cost is bounded: pairsWithin2 runs only the census job(s)") {
    // The pair operators are EAGER about the skew census (scaladoc'd
    // contract): building the returned DataFrame runs a bounded
    // number of short jobs — the (sampled) df aggregation + hot-key
    // collect — and NOTHING else. This pins the construction-time
    // cost that the plan-level ExplainSpec gate cannot see; if a
    // future change makes construction materialize the variant frame
    // or the join itself, the job count explodes and this fails.
    val s = spark
    import s.implicits._
    // zero-padded keys: the WORST case — every bucket is hot, so the
    // census must take its collect branch, not the early-out
    val names = (1 to 2000).map(i => (i.toLong, f"Customer#$i%09d"))
      .toDF("id", "name")
    // the jobs construction runs, counted from a drained profile
    def withJobs[T](construct: => T): (T, Int) =
      graft.etl.Telemetry.scoped(spark) { scope =>
        val out = construct
        (out, scope.profile().map(_.jobs).getOrElse(fail("listener bus did not drain")))
      }
    val (df, n) = withJobs(FuzzyJoin.pairsWithin2(names))
    assert(n >= 1 && n <= 3, s"pairsWithin2 construction ran $n Spark jobs " +
      "(expected only the bounded census); something new is eager")
    // and the returned frame still answers (the census fed a real plan)
    assert(df.limit(1).count() >= 0)
    // the d1 form takes the same census path — same bound
    val (_, n1) = withJobs(FuzzyJoin.pairsWithin1(names))
    assert(n1 >= 1 && n1 <= 3, s"pairsWithin1 construction ran $n1 jobs")
  }
}
