package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the query-pack's pure helpers (Num conventions,
  * text normalization) and plan-quality assertions beyond the hazard
  * gate: predicate pushdown must reach the parquet scan. */
class QueryHelpersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Session.build(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q15c session_window boundary: exactly-30-min gap continues, 30-min+1µs splits") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sess_gap_").toString
    def t(str: String) = java.sql.Timestamp.valueOf(str)
    // user 1: gap of EXACTLY 30:00.000000 (must merge, matching q15's
    // strict-greater split), then a 30:00.000001 gap (must split)
    Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-01-01 10:30:00"), 1L, "view", 1.0, "{}"),
      (3L, t("2024-01-01 11:00:00.000001"), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val native = shape(SqlSurface.q15cSessionsNative(spark, dir))
    val composed = shape(SqlSurface.q15EventsSessions(spark, dir))
    assert(native == composed, s"native=$native composed=$composed")
    assert(native == Seq((1L, 2L, 2L, 1800L)),
      "two sessions: (e1,e2) merged across the exact gap, e3 split off")
  }

  test("DotF is bit-equal to the aggregate(zip_with) fold it replaced") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(64)(rng.nextFloat() * 2 - 1), Seq.fill(64)(rng.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
      .select($"id", $"a".cast("array<float>").as("a"), $"b".cast("array<float>").as("b"))
    val foldDot = aggregate(
      zip_with($"a", $"b", (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val both = df.select($"id",
      call_function("dot_f", $"a", $"b").as("native"),
      foldDot.as("fold")).collect()
    // BIT equality, not approximate: the two must share fold order
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"dot mismatch on id ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    // null element -> null result (the fold's acc + null semantics)
    val withNull = spark.sql(
      "SELECT dot_f(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d")
    assert(withNull.collect().head.isNullAt(0))
    // null array -> null; wrong types rejected at analysis
    assert(spark.sql("SELECT dot_f(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))")
      .collect().head.isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT dot_f(array(1), array(2))").collect()
    }
    // and the expression stays inside whole-stage codegen over a real
    // scan (local literals constant-fold away — use the parquet table)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val planned = emb.select(
      call_function("dot_f", col("embedding"), col("embedding")).as("d"))
    // the '*(n)' prefix marks operators inside a WholeStageCodegen
    // stage; the projection carrying dot_f must have one
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("dot_f") && l.trim.startsWith("*(")),
      s"dot_f projection fell out of whole-stage codegen:\n$plan")
    assert(planned.collect().forall(r => r.getDouble(0) >= 0.0))   // executes the codegen path
  }

  test("pq kernels: encode/table/adc known answers, codegen span") {
    import graft.queries.Pq
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // m=2 sub-spaces of 2 dims, 2 codewords each: unit axes per space
    val cb = Array[Double](1, 0, 0, 1, 1, 0, 0, 1)
    def arr(xs: Double*) = new GenericArrayData(xs.toArray)
    // v = (1,0, 0,1) normalizes to (.707,0, 0,.707): sub 0 nearest
    // (1,0) -> code 0, sub 1 nearest (0,1) -> code 1
    val codes = Pq.encode(arr(1, 0, 0, 1), isFloat = false, cb, 2)
    assert(codes.toSeq == Seq[Byte](0, 1))
    // query (2,0,0,2): table = dots of its unit sub-vectors with each
    // codeword; ADC against [0,1] sums the matching entries
    val t = Pq.table(arr(2, 0, 0, 2), isFloat = false, cb, 2)
    val inv = 1.0 / math.sqrt(2.0)
    assert(math.abs(Pq.adc(t, codes) - 2 * inv) < 1e-12)
    // tie -> lowest code; zero vector encodes without NaN
    assert(Pq.encode(arr(0, 0, 0, 0), isFloat = false, cb, 2)
      .toSeq == Seq[Byte](0, 0))
    // SQL surface resolves, literal codebook, codegen over a real scan
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cbLit = lit(Array.tabulate(8 * 16 * 8)(i => (i % 7).toDouble / 7.0))
    val planned = emb.select(
      call_function("pq_adc",
        call_function("pq_table", col("embedding"), cbLit, lit(8)),
        call_function("pq_encode", col("embedding"), cbLit, lit(8))).as("s"))
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("pq_") && l.trim.startsWith("*(")),
      s"pq expressions fell out of whole-stage codegen:\n$plan")
    assert(planned.collect().forall(r => !r.isNullAt(0)))
  }

  test("zorder_key: bit interleave known answers, null, sql surface") {
    import graft.queries.ZorderKey
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def z(vals: Long*): java.lang.Long =
      ZorderKey.interleave(new GenericArrayData(vals.toArray))
    // k=2: col0 bit j -> position 2j+1, col1 bit j -> position 2j
    assert(z(1L, 1L) == 3L)
    assert(z(1L, 0L) == 2L)
    assert(z(0L, 1L) == 1L)
    assert(z(2L, 0L) == 8L)
    assert(z(3L, 1L) == 11L)
    // k=3 positions: col0 -> 3j+2, col1 -> 3j+1, col2 -> 3j
    assert(z(1L, 1L, 1L) == 7L)
    assert(z(0L, 0L, 2L) == 8L)
    assert(z() == 0L)
    // neighbors in both dims are close in z; distant-in-one-dim is not
    assert(math.abs(z(1L, 1L) - z(1L, 2L)) < math.abs(z(1L, 1L) - z(32L, 1L)))
    // null element -> null key
    assert(ZorderKey.interleave(
      new GenericArrayData(Array[Any](1L, null))) == null)
    assert(spark.sql("SELECT zorder_key(array(1L, 1L))")
      .collect().head.getLong(0) == 3L)
  }

  test("bpe_encode: known answers, null/typing, codegen span") {
    import graft.queries.BpeEncode
    // adjacent-run semantics: (a,a) on "aaaa" merges to [aa, aa]; the
    // scan continues PAST a merged pair, so "aaa" gives [aa, a]
    def enc(text: String, rules: String*): Seq[String] = {
      import org.apache.spark.unsafe.types.UTF8String
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val m = new GenericArrayData(rules.map(UTF8String.fromString).toArray[Any])
      BpeEncode.encode(UTF8String.fromString(text), BpeEncode.parseRules(m))
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
    }
    assert(enc("aaaa", "a a") == Seq("aa", "aa"))
    assert(enc("aaa", "a a") == Seq("aa", "a"))
    // sequential rules build multi-char tokens: th + he never overlap
    assert(enc("the the", "t h", "e t") == Seq("th", "e", " ", "th", "e"))
    // a rule whose first operand is a previous merge
    assert(enc("thth", "t h", "th th") == Seq("thth"))
    // spaces are tokens but never merge (no rule carries a space)
    assert(enc("a a", "a a") == Seq("a", " ", "a"))
    assert(enc("", "a a") == Seq.empty)
    // malformed rules are rejected with a clear message
    intercept[IllegalArgumentException] { enc("x", "ab") }
    intercept[IllegalArgumentException] { enc("x", "a b c") }
    // null text -> null; the SQL surface resolves the function
    assert(spark.sql(
      "SELECT bpe_encode(CAST(NULL AS STRING), array('a a'))")
      .collect().head.isNullAt(0))
    assert(spark.sql("SELECT bpe_encode('aaaa', array('a a'))")
      .collect().head.getSeq[String](0) == Seq("aa", "aa"))
    // stays inside whole-stage codegen over a real scan (literals
    // constant-fold — use the parquet table like the dot_f check)
    val docs = Tables.load(spark, sfDir, "documents")
    val planned = docs.select(
      call_function("bpe_encode", col("text"), lit(Array("t h", "h e"))).as("t"))
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("bpe_encode") && l.trim.startsWith("*(")),
      s"bpe_encode projection fell out of whole-stage codegen:\n$plan")
    assert(planned.collect().forall(r => !r.isNullAt(0)))
  }

  test("trainMerges: iterative recount chains multi-char rules") {
    // "ababab abab": iter 1 merges the top char pair (a,b)x5; the
    // RE-COUNT then sees (ab,ab)x3 — a pair that does not exist in
    // the original char stream — and chains it, then (abab,ab).
    // A single-pass char-bigram table could never produce rules 2-3.
    assert(TextOps.trainMerges(Seq("ababab abab"), 40) ==
      Seq("a b", "ab ab", "abab ab"))
    // verdict's canonical chain: t h / h e tie at 3 — "h e" wins the
    // (a,b)-asc tie-break — then (t,he) pairs a 1-char with a 2-char
    // token into "the"
    assert(TextOps.trainMerges(Seq("the the the"), 40) ==
      Seq("h e", "t he"))
    // count beats text order; ties break on text asc
    assert(TextOps.trainMerges(Seq("ab ba ab ba"), 1) == Seq("a b"))
    // maxMerges truncates; spaces never merge so doc joins are inert
    assert(TextOps.trainMerges(Seq("ababab", "abab"), 1) == Seq("a b"))
    // merge application inside training is the kernel's greedy scan:
    // (a,a) on "aaa aaaaa" leaves [aa,a] / [aa,aa,a], so the recount
    // sees (aa,a)x2 and (aa,aa)x1 -> next rule is "aa a"
    assert(TextOps.trainMerges(Seq("aaa aaaaa"), 2) == Seq("a a", "aa a"))
    // degenerate corpora
    assert(TextOps.trainMerges(Nil, 5) == Nil)
    assert(TextOps.trainMerges(Seq(""), 5) == Nil)
    assert(TextOps.trainMerges(Seq("a"), 5) == Nil)
    // the learned table feeds the kernel: applying the chained rules
    // reproduces the training tokenization end-state
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rules = TextOps.trainMerges(Seq("ababab abab"), 40)
    val m = new GenericArrayData(rules.map(UTF8String.fromString).toArray[Any])
    val toks = graft.queries.BpeEncode
      .encode(UTF8String.fromString("ababab abab"), graft.queries.BpeEncode.parseRules(m))
      .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    assert(toks == Seq("ababab", " ", "abab"))
  }

  test("connectedComponents: chains (multi-round), stars, singleton-free") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4-5-6 (diameter 5 → several propagation rounds),
    // star 10-{11,12,13}, isolated pair 20-21; edges given min->max only
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L)).toDF("d1", "d2")
    val got = DedupOps.connectedComponents(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents converges on a chain longer than the plain-round cap") {
    val s = spark
    import s.implicits._
    // A 60-node chain (diameter 59 ≫ MaxClusterRounds): plain
    // propagation alone would abort; pointer-jumping from round
    // JumpAfterRound+1 doubles reach per round and must converge.
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = DedupOps.connectedComponents(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 60)
    assert(got.forall(_._2 == 1L))
  }

  test("Tuning threads through operators and their oracle SQL coherently") {
    // thresholds appear verbatim in the generated oracle text
    val loose = Tuning(jaccardThreshold = 0.5, containmentThreshold = 0.5,
      maxShingleDf = 7, nearDupThreshold = 0.2, targetBucketSize = 4)
    assert(DedupOps.dedupJaccardSql(loose).contains(">= 0.5"))
    assert(DedupOps.dedupJaccardSql(loose).contains("df <= 7"))
    assert(AnnOps.dedupEmbeddingCosineSql(loose).contains(">= 0.2"))
    // planesFor follows the configured bucket size
    assert(AnnOps.planesFor(64, targetBucketSize = 4) == 4)
    assert(AnnOps.planesFor(64, targetBucketSize = 16) == 2)
    // a looser threshold yields a superset of the default's pairs
    val strictRows = DedupOps.dedupJaccard(spark, sfDir).count()
    val looseRows = DedupOps.dedupJaccard(spark, sfDir, loose).count()
    assert(looseRows >= strictRows)
    // default-arg surface is the registered (verified) surface
    assert(DedupOps.dedupJaccardSql() == DedupOps.oracles("dedup_ngram_jaccard"))
    // chunkWords threads through the passage-dedup oracle too
    assert(DedupOps.dedupPassagesSql(Tuning(chunkWords = 5)).contains("// 5 + 1"))
    assert(DedupOps.dedupPassagesSql() == DedupOps.oracles("dedup_passages"))
  }

  test("Num.dsum is order-independent: decimal accumulation, double result") {
    val s = spark
    import s.implicits._
    // Sum a pathological float series in two different orders; dsum
    // must agree bit-for-bit (raw double sum would not).
    val vals = (1 to 2000).map(i => math.Pi * i / 7.0)
    val asc = vals.toDF("v").agg(Num.dsum($"v")).head.getDouble(0)
    val desc = vals.reverse.toDF("v").repartition(7).agg(Num.dsum($"v")).head.getDouble(0)
    assert(asc == desc)
    // and equals the exact decimal sum
    val exact = vals.map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
    assert(asc == exact.toDouble)
  }

  test("normText collapses punctuation runs, lowercases, trims") {
    val s = spark
    import s.implicits._
    val out = Seq("  Hello,   WORLD!! 42&x ").toDF("text")
      .select(TextOps.normText($"text")).head.getString(0)
    assert(out == "hello world 42 x")
  }

  test("q6's three range predicates reach the parquet scan (PushedFilters)") {
    val df = SqlSurface.q6Filter(spark, sfDir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pushed = scans.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), s"pushed=$pushed")
    // column pruning: the read schema must not include unused columns
    val readSchema = scans.map(_.metadata.getOrElse("ReadSchema", "")).mkString
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"))
  }

  test("broadcast hints survive planning for dimension joins (q2)") {
    val df = SqlSurface.q2JoinAgg(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "nation join should broadcast")
  }

  test("minhash band assembly is stable: 16 mins -> 4 ordered bands") {
    assert(DedupOps.MinhashPerms == 16 && DedupOps.BandSize == 4)
    // permutation parameters are the documented linear family
    val a = (0 until 16).map(j => 2L * j + 1)
    assert(a.distinct.size == 16 && a.forall(_ % 2 == 1))
  }

  test("planesFor: smallest p with 2^p buckets giving <= target per bucket") {
    import AnnOps.planesFor
    assert(Tuning.default.targetBucketSize == 16)
    assert(planesFor(50) == 2)      // sf0.001: ceil(50/16)=4 -> 2^2
    assert(planesFor(500) == 5)     // sf0.01:  ceil(500/16)=32 -> 2^5 exact
    assert(planesFor(5000) == 9)    // sf0.1:   ceil(5000/16)=313 -> 2^9
    assert(planesFor(512 * 16) == 9)     // exact power boundary
    assert(planesFor(512 * 16 + 1) == 10)
    assert(planesFor(1) == 1 && planesFor(0) == 1)
    assert(planesFor(5_000_000_000L) == 29) // billions of vectors: 2^29 buckets
  }

  test("simhash band specs: 7 bands cover all 60 bits disjointly (pigeonhole)") {
    val specs = DedupOps.SimhashBandSpecs
    assert(specs.size == 7, "hamming<=6 needs at least 7 bands")
    val covered = specs.flatMap { case (_, start, width) => start until (start + width) }
    assert(covered.sorted == (0 until 60).toList)
  }

  test("mixing quotas: balance ~min per domain; weighted hits floor(share*total) per domain") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val counts = docs.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val minN = counts.values.min
    val total = counts.values.sum
    // balance: every domain lands within the coin's tolerance of min
    // (fraction-based acceptance is binomial around the quota; sf0.001
    // domains are small, so allow a wide but bounding corridor)
    val balanced = TextOps.mixBalance(spark, sfDir)
      .groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(balanced.keySet == counts.keySet)
    balanced.foreach { case (l, n) =>
      assert(n <= counts(l), s"$l oversampled without upsampling: $n")
      assert(math.abs(n - minN).toDouble <= math.max(5.0, 0.5 * minN),
        s"$l balanced count $n far from min $minN")
    }
    // weighted: per-doc copies differ by at most 1 within a domain and
    // the domain total is within the remainder-coin corridor of its
    // quota floor(share*total); copy ordinals are dense 1..c
    val weighted = TextOps.mixWeighted(spark, sfDir).cache()
    try {
      val perDoc = weighted.groupBy($"lang", $"doc_id").count()
      val spreads = perDoc.groupBy($"lang")
        .agg(min($"count").as("lo"), max($"count").as("hi"),
          sum($"count").as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      spreads.foreach { case (l, lo, hi, n) =>
        assert(hi - lo <= 1, s"$l copies not within 1: [$lo, $hi]")
        val share = TextOps.MixTargetShares.toMap.apply(l)
        val quota = math.floor(share * total).toLong
        assert(math.abs(n - quota).toDouble <= math.max(5.0, 0.5 * quota),
          s"$l total $n far from quota $quota")
      }
      val badOrdinals = weighted.groupBy($"lang", $"doc_id")
        .agg(count(lit(1)).as("c"), min($"copy").as("lo"), max($"copy").as("hi"))
        .filter($"lo" =!= 1L || $"hi" =!= $"c")
      assert(badOrdinals.isEmpty, "copy ordinals must be dense 1..c")
    } finally { weighted.unpersist(); () }
    // temperature: same corridor structure, but the quota is the
    // integerized n^0.5 scheme — k_l = n_total * isqrt(n_l) / Σ isqrt
    val isqrt = counts.view.mapValues(n => math.floor(math.sqrt(n.toDouble)).toLong).toMap
    val sw = isqrt.values.sum
    val temp = TextOps.mixTemperature(spark, sfDir).cache()
    try {
      val spreads = temp.groupBy($"lang", $"doc_id").count()
        .groupBy($"lang")
        .agg(min($"count").as("lo"), max($"count").as("hi"),
          sum($"count").as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(spreads.map(_._1).toSet == counts.keySet)
      spreads.foreach { case (l, lo, hi, n) =>
        assert(hi - lo <= 1, s"$l copies not within 1: [$lo, $hi]")
        val quota = total * isqrt(l) / sw
        assert(math.abs(n - quota).toDouble <= math.max(5.0, 0.5 * quota),
          s"$l total $n far from temperature quota $quota")
      }
      // the defining flattening property, on the quotas themselves
      // (deterministic — the sampled totals add remainder-coin noise):
      // the most common domain's quota sits below its raw count, the
      // rarest one's above it
      val (bigL, bigN) = counts.maxBy(_._2)
      val (rareL, rareN) = counts.minBy(_._2)
      if (bigN > rareN) {
        assert(total * isqrt(bigL) / sw < bigN,
          s"temperature must DOWN-weight the biggest domain ($bigL)")
        assert(total * isqrt(rareL) / sw > rareN,
          s"temperature must UP-weight the rarest domain ($rareL)")
      }
      val badOrdinals = temp.groupBy($"lang", $"doc_id")
        .agg(count(lit(1)).as("c"), min($"copy").as("lo"), max($"copy").as("hi"))
        .filter($"lo" =!= 1L || $"hi" =!= $"c")
      assert(badOrdinals.isEmpty, "temperature copy ordinals must be dense 1..c")
    } finally { temp.unpersist(); () }
  }

  test("bloom decontamination: exact parity; bloom scalar subquery + shuffled semi join") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = rows(DedupOps.dedupDecontaminate(spark, sfDir))
    val bloom = DedupOps.dedupDecontaminateBloom(spark, sfDir)
    assert(rows(bloom) == exact,
      "bloom prefilter must not change the exact result")
    val plan = bloom.queryExecution.executedPlan.toString
    // the prefilter is IN the plan, shipped as a scalar subquery
    // (BloomFilterMightContain pretty-prints as `might_contain`)
    assert(plan.contains("might_contain"), s"no bloom prefilter:\n$plan")
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      s"bloom not shipped as a scalar subquery:\n$plan")
    // the exact membership join is a SHUFFLED semi join — the whole
    // point is that nothing corpus-or-eval-sized broadcasts
    assert(graft.etl.Explain.broadcastJoins(bloom).isEmpty,
      "membership join must not broadcast")
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftSemi"),
      s"expected shuffled semi join:\n$plan")
    // bloom functions resolve standalone and agree with membership
    val probe = spark.sql(
      """WITH vals AS (SELECT CAST(id AS BIGINT) AS v FROM range(0, 1000))
        |SELECT
        |  bloom_might_contain((SELECT bloom_agg(v) FROM vals), 500L) AS hit,
        |  bloom_might_contain((SELECT bloom_agg(v) FROM vals), 99999999L) AS miss
        |""".stripMargin).collect().head
    assert(probe.getBoolean(0), "bloom must contain an inserted value")
    // a miss is PROBABLY false — at 1000/1M default sizing the fpp is
    // ~0, so this is deterministic in practice
    assert(!probe.getBoolean(1), "bloom false-positive on a sparse filter")
  }

  test("split_leakage_safe: clusters never straddle splits; every doc assigned; deterministic") {
    val df = DedupOps.dedupSplitAssign(spark, sfDir)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length.toLong == nDocs, "every document gets exactly one split")
    // the leakage property: all members of a cluster share one split
    val byRep = rows.groupBy(_._2).map { case (_, g) => g.map(_._3).distinct.size }
    assert(byRep.forall(_ == 1), "a near-dup cluster straddles splits")
    // some cluster has >1 member, so the property is not vacuous
    assert(rows.groupBy(_._2).exists(_._2.length > 1),
      "test corpus has no multi-doc cluster — property vacuous")
    // all three splits appear, train dominates (90/5/5 coin)
    val share = rows.groupBy(_._3).view.mapValues(_.length.toDouble / rows.length).toMap
    assert(share.keySet == Set("train", "valid", "test"), s"splits seen: ${share.keySet}")
    assert(share("train") > 0.75 && share("train") < 0.99, s"train share ${share("train")}")
    // deterministic: a second run is bit-identical
    val again = DedupOps.dedupSplitAssign(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.toSeq == rows.toSeq, "assignment must be deterministic")
  }

  test("text_chunk: stride structure, full coverage, clamped tails") {
    val s = spark
    import s.implicits._
    val chunks = TextOps.textChunk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", TextOps.normText($"text").as("norm"))
      .filter(length($"norm") > 0)
      .collect().map(r => (r.getLong(0), r.getString(1).split(" "))).toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (docId, cs) =>
      val w = docs(docId)
      val sorted = cs.sortBy(_._2)
      // chunk ids are dense from 0; each window starts at stride*id
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      sorted.foreach { case (_, cid, nTok, text) =>
        val start = (cid * TextOps.ChunkStride).toInt
        val expect = w.slice(start, start + TextOps.ChunkLen)
        assert(nTok == expect.length, s"doc $docId chunk $cid length")
        assert(text == expect.mkString(" "), s"doc $docId chunk $cid content")
      }
      // coverage: every token index falls inside >= 1 window
      val n = w.length
      val covered = sorted.flatMap { case (_, cid, nTok, _) =>
        val start = (cid * TextOps.ChunkStride).toInt
        start until (start + nTok.toInt)
      }.toSet
      assert(covered == (0 until n).toSet, s"doc $docId coverage gap")
    }
    // every nonempty doc produced at least one chunk
    assert(chunks.map(_._1).toSet == docs.keySet)
  }

  test("text_heavy_hitters: two-pass result equals the exact full-shuffle answer") {
    val s = spark
    import s.implicits._
    val out = TextOps.textHeavyHitters(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out.nonEmpty, "fixture yields no heavy hitters — parity vacuous")
    // ground truth the expensive way: full-vocabulary shuffle
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(TextOps.normText($"text"), " ")).as("token"))
      .filter(length($"token") > 0)
    val total = toks.count()
    val truth = toks.groupBy($"token").agg(count(lit(1)).as("tf"))
      .filter($"tf" * TextOps.HeavyHitterPhiDen >= lit(total) * TextOps.HeavyHitterPhiNum)
      .orderBy($"tf".desc, $"token")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == truth, s"two-pass diverged: got ${out.take(5)}… want ${truth.take(5)}…")
    // the threshold really is a share bound, not a top-k
    assert(out.forall(_._2 * TextOps.HeavyHitterPhiDen >= total * TextOps.HeavyHitterPhiNum))
  }

  test("bounded_topk rejects a non-literal or non-integral k with a typed error") {
    val df = spark.range(5).selectExpr("CAST(id AS DOUBLE) AS s", "id")
    // non-foldable k (a column reference)
    val e1 = intercept[Exception](
      df.selectExpr("bounded_topk(s, id, id)").collect())
    assert(e1.getMessage.contains("foldable integral literal"), e1.getMessage)
    // non-integral k (a string literal)
    val e2 = intercept[Exception](
      df.selectExpr("bounded_topk(s, id, 'three')").collect())
    assert(e2.getMessage.contains("foldable integral literal"), e2.getMessage)
    // a bigint literal is fine
    assert(df.groupBy().agg(expr("bounded_topk(s, id, 2L)").as("t"))
      .selectExpr("size(t)").collect().head.getInt(0) == 2)
  }
}
