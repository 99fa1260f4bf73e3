package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** 10× scale probe for the fuzzy/ER tier — the bound ARGUMENTS
  * (triangle chunking caps per-group work at ≤ 2·variantChunk
  * members; the census collect is ≤ |variants|/cap rows) are pinned
  * by property tests, but until this probe they were never MEASURED
  * above sf0.1. The probe builds a 150 000-name corpus (10× the
  * sf0.1 customer table, same `Customer#%09d` zero-padded shape —
  * the exact mega-bucket generator the heavy tier exists for), runs
  * `pairsWithin2` and the ER golden-record pipeline under a task
  * listener, and asserts the SHAPE of the work distribution:
  * no corpus-sized task input, no single straggler task owning the
  * wall clock. Results land in STATUS.md's scale table.
  *
  * Heavy (minutes) and environment-sensitive, so it only runs when
  * explicitly asked: `GRAFT_SCALE_PROBE=1 sbt 'testOnly
  * graft.queries.ScaleProbeSpec'`; otherwise every test cancels. */
class ScaleProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Session.build(32)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private final class TaskStats extends SparkListener {
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val maxRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val sumInputRecords = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null && t.taskInfo != null && t.taskInfo.successful) {
        durations.add(t.taskInfo.duration)
        val recs = t.taskMetrics.inputMetrics.recordsRead +
          t.taskMetrics.shuffleReadMetrics.recordsRead
        maxRecords.getAndAccumulate(recs, math.max)
        sumInputRecords.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        ()
      }
  }

  private def histogram(ds: Seq[Long]): String = {
    val buckets = Seq(100L, 500L, 1000L, 5000L, 20000L, Long.MaxValue)
    val labels = Seq("<0.1s", "0.1-0.5s", "0.5-1s", "1-5s", "5-20s", ">20s")
    labels.zip(buckets).zip(Long.MinValue +: buckets.dropRight(1)).map {
      case ((lab, hi), lo) => s"$lab: ${ds.count(d => d > lo && d <= hi)}"
    }.mkString("  ")
  }

  private def probe(label: String)(job: => Long): (Long, TaskStats, Double) = {
    val st = new TaskStats
    spark.sparkContext.addSparkListener(st)
    val t0 = System.nanoTime()
    val n = job
    val wall = (System.nanoTime() - t0) / 1e9
    graft.etl.Telemetry.drain(spark.sparkContext) // the last task-end events
    spark.sparkContext.removeSparkListener(st)
    (n, st, wall)
  }

  /** Pre-extracted: assume()'s macro would otherwise print the whole
    * env map into the cancellation message. */
  private val gateSet = sys.env.contains("GRAFT_SCALE_PROBE")

  test("10x corpus: pairsWithin2 and ER per-task work stays bounded") {
    assume(gateSet, "scale probe runs only when GRAFT_SCALE_PROBE is set")
    val n = 150000L
    val names = spark.range(n)
      .select(col("id"), format_string("Customer#%09d", col("id")).as("name"))
      .repartition(32)
      .persist()
    assert(names.count() == n)

    // ---- pairsWithin2: the d<=2 deletion-neighborhood self-join.
    // Variant fan-out at L=18, k=2 is 1+L+L(L-1)/2 = 172 rows/name
    // -> ~25.8M variant rows; zero-padded names collapse onto hot
    // buckets, so the heavy tier + triangle chunking MUST engage.
    val (pairs2, st2, wall2) = probe("pairsWithin2") {
      FuzzyJoin.pairsWithin2(names.toDF()).count()
    }
    val d2 = {
      val it = st2.durations.iterator(); val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result().sorted
    }
    info(f"pairsWithin2: $pairs2%,d pairs in $wall2%.1f s, " +
      f"${d2.size} tasks, max task input ${st2.maxRecords.get}%,d rows")
    info(s"  task-time histogram: ${histogram(d2)}")
    info(f"  task p50 ${d2(d2.size / 2)}%d ms  p99 ${d2((d2.size * 99) / 100)}%d ms  max ${d2.last}%d ms")
    info(s"  slowest 8 tasks (ms): ${d2.takeRight(8).mkString(", ")}")
    assert(pairs2 > 0)
    // no task absorbs the corpus: the variant frame is ~26M rows; a
    // single task reading more than half of it means the partitioning
    // collapsed (the all-in-one-bucket failure this tier prevents)
    assert(st2.maxRecords.get < 13000000L,
      s"a task saw ${st2.maxRecords.get} rows - corpus-sized input")
    // the heavy stage must be UNIFORM, not skewed: on local[32] with
    // 32 shuffle partitions the dominant stage is 32 tasks that all
    // run ~the stage time (perfect parallelism — more partitions or
    // executors spread the same work), so "slowest task ≈ wall" is
    // EXPECTED here. The scale hazard is one task far above its stage
    // peers (an unchunked mega-bucket): bound max against the 32nd-
    // slowest, i.e. within the dominant stage's own cohort.
    val cohort2 = d2.takeRight(math.min(32, d2.size))
    assert(d2.last <= 3L * math.max(1L, cohort2.head),
      s"skewed heavy stage: max ${d2.last} ms vs cohort floor ${cohort2.head} ms")

    // ---- ER golden records: pairsWithin1 edges -> connected
    // components -> canonical records, the full pipeline.
    val (ents, st1, wall1) = probe("erGoldenRecords") {
      FuzzyJoin.goldenRecordsOf(names.toDF()).count()
    }
    val d1 = {
      val it = st1.durations.iterator(); val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result().sorted
    }
    info(f"erGoldenRecords: $ents%,d records in $wall1%.1f s, " +
      f"${d1.size} tasks, max task input ${st1.maxRecords.get}%,d rows")
    info(s"  task-time histogram: ${histogram(d1)}")
    info(f"  task p50 ${d1(d1.size / 2)}%d ms  p99 ${d1((d1.size * 99) / 100)}%d ms  max ${d1.last}%d ms")
    info(s"  slowest 8 tasks (ms): ${d1.takeRight(8).mkString(", ")}")
    assert(ents == n, s"every input row keeps exactly one golden record, got $ents")
    assert(st1.maxRecords.get < 13000000L,
      s"a task saw ${st1.maxRecords.get} rows - corpus-sized input")
    val cohort1 = d1.takeRight(math.min(32, d1.size))
    assert(d1.last <= 3L * math.max(1L, cohort1.head),
      s"skewed heavy stage: max ${d1.last} ms vs cohort floor ${cohort1.head} ms")
    names.unpersist()
  }

  /** 10× probe for the SHINGLE dedup tier (VERDICT r17 #5): the
    * df-cap and band-size arguments (`queries/Tuning.scala`) are
    * property-tested but were never measured above sf0.1. The corpus
    * is 50 000 documents (10× the sf0.1 `documents` table) written as
    * a parquet dir so the probe drives the REAL entries through the
    * real scan path:
    *   - 5 000 near-dup groups of 10 (same word template, ~2% per-doc
    *     word mutations) — the inverted index must pair them;
    *   - a 12-word boilerplate sentence on 40% of docs, whose
    *     shingles hit df 20 000 ≫ maxShingleDf=100 — the skew guard
    *     MUST drop them before the join or the hot buckets fan out
    *     20 000² and the probe times out/asserts;
    *   - ~100 words/doc → ~5.4 M shingle rows through the index.
    * Asserts the same work-distribution shape as the fuzzy probe: no
    * corpus-sized task input, no straggler above its stage cohort. */
  test("10x corpus: shingle jaccard/containment/minhash per-task work stays bounded") {
    assume(gateSet, "scale probe runs only when GRAFT_SCALE_PROBE is set")
    val n = 50000L
    val groups = 5000
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_docs_")
    val docs = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          when(pmod(col("id"), lit(5)) < 2, lit(boiler)).otherwise(lit(null)),
          expr(s"""concat_ws(' ', transform(sequence(0, 99), j ->
            CASE WHEN pmod(xxhash64(id, j, 11), 50) = 0
                 THEN concat('u', id, 'x', j)
                 ELSE concat('w', pmod(xxhash64(pmod(id, $groups), j), 997))
            END))""")).as("text"),
        lit("en").as("lang"), lit("probe").as("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      // shingle rows actually indexed (bound reference for the asserts)
      val shingleRows = n * 108
      for ((label, job) <- Seq[(String, () => Long)](
        ("dedup_ngram_jaccard", () => DedupOps.dedupJaccard(spark, dir.toString).count()),
        ("dedup_containment", () => DedupOps.dedupContainment(spark, dir.toString).count()),
        ("dedup_minhash_pairs", () => DedupOps.dedupMinhashPairs(spark, dir.toString).count()))) {
        val (rows, st, wall) = probe(label)(job())
        val d = {
          val it = st.durations.iterator(); val b = Seq.newBuilder[Long]
          while (it.hasNext) b += it.next(); b.result().sorted
        }
        info(f"$label: $rows%,d rows in $wall%.1f s, ${d.size} tasks, " +
          f"max task input ${st.maxRecords.get}%,d rows")
        info(s"  task-time histogram: ${histogram(d)}")
        info(f"  task p50 ${d(d.size / 2)}%d ms  p99 ${d((d.size * 99) / 100)}%d ms  max ${d.last}%d ms")
        assert(rows > 0, s"$label produced no rows — corpus generator broken")
        // no task absorbs the index: > half the shingle frame through
        // one task means the df cap failed and a hot bucket collapsed
        // the partitioning
        assert(st.maxRecords.get < shingleRows / 2,
          s"$label: a task saw ${st.maxRecords.get} rows - corpus-sized input")
        // dominant-stage uniformity, as in the fuzzy probe: the
        // slowest task must sit within 3x its own stage cohort
        val cohort = d.takeRight(math.min(32, d.size))
        assert(d.last <= 3L * math.max(1L, cohort.head),
          s"$label: skewed stage: max ${d.last} ms vs cohort floor ${cohort.head} ms")
      }
    } finally {
      // best-effort temp cleanup; walk stream closed explicitly (a
      // bare Files.list per level leaks one directory fd per level)
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  private def rmTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  /** 10× probe for the STORED IVF tier (VERDICT r18 #2): the √n
    * centroid and nprobe·cell candidate arguments are stated in
    * AnnOps' scaladoc but were never measured above sf0.1. Corpus:
    * 20 000 embeddings (10× the sf0.1 table, same 64-dim float shape)
    * with 100-cluster structure + per-vector noise, so cells get the
    * mildly uneven populations a real embedding corpus produces.
    * Drives the REAL lifecycle — first-half build, second-half tagged
    * append, then the stored-table probe — and asserts the measured
    * shape: centroid table exactly ⌈√n⌉ rows, no fat cell, candidate
    * rows per query ≤ nprobe × max-cell (the bound that keeps a probe
    * sub-corpus at any n), no corpus-sized task input, no straggler. */
  test("10x corpus: stored IVF probe work stays nprobe-cell-bounded") {
    assume(gateSet, "scale probe runs only when GRAFT_SCALE_PROBE is set")
    val n = 20000L
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_ann_")
    spark.range(n).select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), j ->
          CAST(CAST(pmod(xxhash64(pmod(id, 100), j, 7), 1000) AS DOUBLE) / 500.0 - 1.0
             + CAST(pmod(xxhash64(id, j, 13), 400) AS DOUBLE) / 1000.0 AS FLOAT))""")
          .as("embedding"),
        expr("CAST(pmod(id, 10) AS INT)").as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val wh = new graft.etl.Warehouse(spark,
        java.nio.file.Files.createTempDirectory("graft_scale_ann_wh_").toString,
        dir.toString)
      val centsT = graft.etl.TableName.parse("probe.ivf_cents")
      val idxT = graft.etl.TableName.parse("probe.ivf_index")
      Seq(centsT, idxT).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${t.quoted}"))
      val corpus = Tables.load(spark, dir.toString, "embeddings")
      val (idxRows, stB, wallB) = probe("ivf build+append") {
        AnnOps.buildIvfIndex(wh, dir.toString, centsT, idxT,
          corpus.filter(col("vec_id") < n / 2))
        AnnOps.appendToIvfIndex(wh, centsT, idxT,
          corpus.filter(col("vec_id") >= n / 2), "b2")
        spark.table(idxT.quoted).count()
      }
      val nCents = spark.table(centsT.quoted).count()
      val nlist = math.ceil(math.sqrt(n.toDouble)).toLong
      info(f"build+append: $idxRows%,d index rows, $nCents centroids in $wallB%.1f s, " +
        f"max task input ${stB.maxRecords.get}%,d rows")
      assert(idxRows == n)
      // the centroid table is the ONE broadcast in the probe path —
      // it must stay exactly √n-sublinear
      assert(nCents == nlist, s"centroid table $nCents rows != ceil(sqrt(n)) = $nlist")
      // assignment is n × √n compute but each task's INPUT stays a
      // partition of the corpus + the broadcast centroids
      assert(stB.maxRecords.get < n,
        s"build: a task saw ${stB.maxRecords.get} rows - corpus-sized input")
      // cell population: a collapsed assignment (all vectors in one
      // cell) would make every probe a corpus scan
      val cellSizes = spark.table(idxT.quoted)
        .groupBy(col("cell")).count().collect().map(_.getLong(1))
      val maxCell = cellSizes.max
      info(f"cells: ${cellSizes.length} populated, max $maxCell%,d, " +
        f"mean ${n / cellSizes.length}%,d members")
      assert(maxCell < n / 10, s"fat cell: $maxCell of $n vectors")
      // candidate rows actually scored per query are bounded by
      // nprobe × cell — the IVF contract (measured, not argued)
      val candTotal = spark.table(idxT.quoted).count() // force fresh stats
      assert(candTotal == n)
      val (rows, stP, wallP) = probe("ivf stored probe") {
        AnnOps.probeIvfIndex(spark, dir.toString, centsT, idxT).count()
      }
      val d = {
        val it = stP.durations.iterator(); val b = Seq.newBuilder[Long]
        while (it.hasNext) b += it.next(); b.result().sorted
      }
      info(f"probe: $rows rows in $wallP%.1f s, ${d.size} tasks, " +
        f"max task input ${stP.maxRecords.get}%,d rows")
      info(s"  task-time histogram: ${histogram(d)}")
      assert(rows == AnnOps.NumQueries.toLong * AnnOps.TopK)
      // candidate bound: every query scores at most nprobe × max-cell
      // candidates; the whole probe job may read each index partition
      // once (columnar scan) but never funnels the corpus into one task
      assert(AnnOps.NProbe.toLong * maxCell < n / 10,
        s"nprobe x max-cell = ${AnnOps.NProbe * maxCell} is not sub-corpus")
      // no task absorbs the whole index. A task DOES legitimately read
      // one whole build-half file here (n/2 rows ≈ 2.6 MB — far under
      // maxPartitionBytes, so Spark assigns file-per-task; at real
      // scale the same scan splits by bytes) — the collapse this guards
      // against is one task reading BOTH halves (all files).
      assert(stP.maxRecords.get < n,
        s"probe: a task saw ${stP.maxRecords.get} rows - corpus-sized input")
      // straggler check gated like the retrieval probe's: sub-second
      // tasks are scheduling noise, not skew
      if (d.last > 1000L) {
        val cohort = d.takeRight(math.min(32, d.size))
        assert(d.last <= 3L * math.max(1L, cohort.head),
          s"probe: skewed stage: max ${d.last} ms vs cohort floor ${cohort.head} ms")
      }
    } finally rmTree(dir)
  }

  /** 10× probe for the STORED retrieval tier: 50 000 documents (10×
    * the sf0.1 table) with a 997-word filler vocabulary plus the three
    * standing query strings injected at fixed residues. Builds the
    * real three-table index (first half build + tagged append), then
    * measures the SERVE path alone and asserts its scale shape: the
    * df-partial table stays vocab-sized (not corpus-sized), the
    * token-range file-skip prune keeps the postings SCAN sublinear in
    * the stored postings (the 100 TB story: a query batch reads files
    * whose token range intersects its terms, not the corpus), and no
    * task/straggler absorbs the index. */
  test("10x corpus: stored retrieval serve scan stays pruned and uniform") {
    assume(gateSet, "scale probe runs only when GRAFT_SCALE_PROBE is set")
    val n = 50000L
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_ret_")
    spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          expr("""concat_ws(' ', transform(sequence(0, 79), j ->
            concat('w', pmod(xxhash64(id, j, 3), 997))))"""),
          when(pmod(col("id"), lit(11)) === 0, lit("spark table scan")),
          when(pmod(col("id"), lit(13)) === 0, lit("vector hash join")),
          when(pmod(col("id"), lit(17)) === 0, lit("stream window batch")),
          when(pmod(col("id"), lit(5)) === 0, lit("spark")),
          when(pmod(col("id"), lit(7)) === 0, lit("join window"))).as("text"),
        lit("en").as("lang"), lit("probe").as("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val base = "probe.search_docs"
      val tfT = graft.etl.TableName.parse(base + "_tf")
      Seq(tfT, graft.etl.TableName.parse(base + "_df"),
          graft.etl.TableName.parse(base + "_meta"),
          graft.etl.FileSkipIndex.statsTable(tfT)).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${t.quoted}"))
      val wh = new graft.etl.Warehouse(spark,
        java.nio.file.Files.createTempDirectory("graft_scale_ret_wh_").toString,
        dir.toString)
      val docs = Tables.load(spark, dir.toString, "documents")
      val (postings, stB, wallB) = probe("retrieval build+append") {
        TextOps.buildRetrievalIndex(wh, docs.filter(col("doc_id") < n / 2), base)
        TextOps.appendRetrievalBatch(wh, docs.filter(col("doc_id") >= n / 2),
          base, "b1")
        spark.table(tfT.quoted).count()
      }
      val dfRows = spark.table(s"`probe`.`search_docs_df`").count()
      info(f"build+append: $postings%,d postings, $dfRows%,d df-partial rows " +
        f"in $wallB%.1f s")
      // df partials are vocab × batches — METADATA-sized, never corpus
      assert(dfRows < postings / 100,
        s"df table $dfRows rows is not vocab-sized vs $postings postings")
      val (rows, stS, wallS) = probe("retrieval stored serve") {
        TextOps.retrievalTopkStored(spark, base, TextOps.RetrievalQueries).count()
      }
      val d = {
        val it = stS.durations.iterator(); val b = Seq.newBuilder[Long]
        while (it.hasNext) b += it.next(); b.result().sorted
      }
      val readFrac = stS.sumInputRecords.get.toDouble / postings
      info(f"serve: $rows rows in $wallS%.1f s, ${d.size} tasks, " +
        f"input ${stS.sumInputRecords.get}%,d rows (${readFrac * 100}%.1f%% of " +
        f"postings), max task input ${stS.maxRecords.get}%,d rows")
      info(s"  task-time histogram: ${histogram(d)}")
      assert(rows == 3L * TextOps.RetrievalK)
      // the file-skip prune must keep the serve scan SUBLINEAR in the
      // stored postings: a full-postings read here means pruning died
      // (every file spans the vocabulary) and a 100 TB corpus would be
      // re-scanned per query batch
      assert(stS.sumInputRecords.get < postings / 2,
        f"serve read ${readFrac * 100}%.0f%% of the postings - prune inactive")
      assert(stS.maxRecords.get < postings / 2,
        s"serve: a task saw ${stS.maxRecords.get} rows - postings-sized input")
      // straggler check only when any task is long enough to mean
      // anything: the pruned serve is many sub-second stages, where a
      // 10x ratio between a 20 ms and a 200 ms task is scheduling
      // noise, not skew (the fuzzy/shingle probes' DOMINANT-stage
      // cohorts are seconds-long — there the ratio is the signal)
      if (d.last > 1000L) {
        val cohort = d.takeRight(math.min(32, d.size))
        assert(d.last <= 3L * math.max(1L, cohort.head),
          s"serve: skewed stage: max ${d.last} ms vs cohort floor ${cohort.head} ms")
      }
    } finally rmTree(dir)
  }
}
