package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Property-based coverage for the pure kernels (raw scalacheck — the
  * scalatest bridge artifact is not in the offline cache): randomized
  * inputs catch the corner cases example tests never enumerate. */
class PropertiesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def checkProp(p: Prop, minSuccessful: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, s"property failed: ${res.status}")
  }

  // ------------------------------------------------ TruncateUtf8Bytes
  private val multibyteGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("é", "ß", "→", "中", "🙂", "𝄞", "ё", "ل"))).map(_.mkString)

  test("property: trunc_utf8_bytes never splits a codepoint, bounds bytes, keeps prefixes") {
    import org.apache.spark.unsafe.types.UTF8String
    checkProp(Prop.forAll(multibyteGen, Gen.choose(1, 24)) { (s, maxBytes) =>
      val in = UTF8String.fromString(s)
      val out = graft.etl.TruncateUtf8Bytes.truncate(in, maxBytes)
      val bounded = out.numBytes <= maxBytes
      val isPrefix = in.getBytes.take(out.numBytes).sameElements(out.getBytes)
      // no split codepoint: decode -> re-encode round-trips losslessly
      val noSplit = UTF8String.fromString(out.toString).numBytes == out.numBytes
      val idempotent = graft.etl.TruncateUtf8Bytes.truncate(out, maxBytes) == out
      // never trims more than needed: keeping one more codepoint
      // would exceed the budget
      val tight = in.numBytes <= maxBytes || {
        val rest = in.toString.substring(out.toString.length)
        rest.isEmpty || {
          val firstCpBytes = Character.toChars(rest.codePointAt(0))
            .mkString.getBytes("UTF-8").length
          out.numBytes + firstCpBytes > maxBytes
        }
      }
      bounded && isPrefix && noSplit && idempotent && tight
    })
  }

  // ------------------------------------------------ Dag ordering
  private val dagGen: Gen[Seq[(Int, Seq[Int])]] = for {
    n <- Gen.choose(1, 24)
    edges <- Gen.sequence[Seq[Seq[Int]], Seq[Int]]((0 until n).map { i =>
      // each node depends only on lower-numbered nodes -> acyclic
      if (i == 0) Gen.const(Seq.empty[Int])
      else Gen.someOf(0 until i).map(_.toSeq)
    })
  } yield (0 until n).map(i => i -> edges(i))

  test("property: numeric TO_CHAR groups digits exactly and round-trips TO_NUMBER") {
    // random exact-cents decimals: the formatted string must be
    // well-grouped (1-3 leading digits, comma every 3, fixed 2-decimal
    // scale) and parse back to the same value via Spark's native
    // TO_NUMBER — the two halves of the dialect pair agree
    val shape = "\\d{1,3}(,\\d{3})*\\.\\d{2}".r
    checkProp(Prop.forAll(Gen.choose(0L, 99999999999L)) { cents =>
      val v = java.math.BigDecimal.valueOf(cents, 2).toPlainString
      val sql = graft.etl.DialectShims.rewriteRedshiftSql(
        s"SELECT TO_CHAR(CAST('$v' AS DECIMAL(14,2)), 'FM999,999,999,999.00') AS s, " +
          s"TO_NUMBER(REPLACE(TO_CHAR(CAST('$v' AS DECIMAL(14,2)), " +
          s"'FM999,999,999,999.00'), ',', ''), '999999999999.99') AS n")
      val row = spark.sql(sql).collect().head
      val s = row.getString(0)
      val n = row.getDecimal(1)
      shape.matches(s) &&
        n.compareTo(new java.math.BigDecimal(v)) == 0 &&
        s.replace(",", "") == v
    }, minSuccessful = 40)
    // negatives carry a bare '-' in FM mode
    val neg = spark.sql(graft.etl.DialectShims.rewriteRedshiftSql(
      "SELECT TO_CHAR(CAST('-1234.50' AS DECIMAL(10,2)), 'FM9,999.00') AS s"))
      .collect().head.getString(0)
    assert(neg == "-1,234.50")
  }

  test("property: Dag.orderByDependencies respects edges and level recurrence") {
    import graft.etl.{ColumnDef, Dag, Relation, TableDesign, TableName}
    def rel(i: Int, deps: Seq[Int]): Relation = Relation(TableDesign(
      name = TableName("p", s"t$i"),
      sourceName = "CTAS",
      columns = Seq(ColumnDef("x")),
      dependsOn = deps.map(d => TableName("p", s"t$d")),
      query = "SELECT 1 AS x"))
    checkProp(Prop.forAll(dagGen) { spec =>
      val ordered = Dag.orderByDependencies(spec.map { case (i, d) => rel(i, d) })
      val pos = ordered.map(_.identifier).zipWithIndex.toMap
      val level = ordered.map(r => r.identifier -> r.executionLevel).toMap
      val edgesOk = ordered.forall(r => r.dependencies.forall(d =>
        pos(d.identifier) < pos(r.identifier)))
      val levelsOk = ordered.forall { r =>
        r.executionLevel == r.dependencies.map(d => level(d.identifier))
          .maxOption.getOrElse(0) + 1
      }
      val permutation = ordered.map(_.executionOrder).sorted == (1 to spec.size)
      edgesOk && levelsOk && permutation
    })
  }

  // ------------------------------------------------ as-of join merge
  private val asofGen: Gen[(Seq[(Long, Long, Long)], Seq[(Long, Long, Long)])] =
    for {
      nP <- Gen.choose(1, 30)
      nC <- Gen.choose(0, 30)
      // narrow key/ts ranges force collisions: equal timestamps,
      // repeated keys, keys with no clicks, clicks with no purchases
      ps <- Gen.listOfN(nP, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 50L)))
      cs <- Gen.listOfN(nC, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 50L)))
    } yield (
      ps.zipWithIndex.map { case ((u, t), i) => (u, t, 100L + i) },
      cs.zipWithIndex.map { case ((u, t), i) => (u, t, 500L + i) })

  test("property: bpe_encode scan equals the oracle's wrapped-token replace") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.queries.BpeEncode
    // the oracle's exact construction: wrap every char token in its
    // own pipes, then per rule ONE non-overlapping replace pass.
    // (This property caught the single-pipe joint encoding sharing a
    // delimiter between adjacent matches: "aaaaa" under (a,a) came
    // out [aa,a,aa] instead of the scan's greedy [aa,aa,a].)
    def oracleApply(s0: String, rules: Seq[(String, String)]): String = {
      var s =
        if (s0.isEmpty) "" else "|" + s0.map(_.toString).mkString("||") + "|"
      for ((a, b) <- rules) s = s.replace(s"|$a||$b|", s"|$a$b|")
      s
    }
    val operandGen = Gen.choose(1, 2)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val ruleGen = for { a <- operandGen; b <- operandGen } yield (a, b)
    val textGen = Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
    checkProp(Prop.forAll(textGen, Gen.listOf(ruleGen)) { (text, rules) =>
      val m = new GenericArrayData(
        rules.map { case (a, b) => UTF8String.fromString(s"$a $b") }.toArray[Any])
      val got = BpeEncode
        .encode(UTF8String.fromString(text), BpeEncode.parseRules(m))
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString)
      val gotPiped =
        if (got.isEmpty) "" else "|" + got.mkString("||") + "|"
      gotPiped == oracleApply(text, rules)
    }, minSuccessful = 300)
    // CHAINED merge tables — the iterative trainer's output shape:
    // each rule's operands draw from the growing vocab (chars plus
    // every previously merged token), so rule k can pair multi-char
    // outputs of rules < k (t h -> th, then th e -> the). The
    // scan == replace equivalence must hold on exactly these tables,
    // because the oracle replays the trainer's rules via replace.
    val chainedGen: Gen[List[(String, String)]] =
      Gen.choose(0, 8).flatMap { n =>
        def step(vocab: Vector[String], k: Int): Gen[List[(String, String)]] =
          if (k == 0) Gen.const(Nil)
          else for {
            a <- Gen.oneOf(vocab)
            b <- Gen.oneOf(vocab)
            rest <- step(vocab :+ (a + b), k - 1)
          } yield (a, b) :: rest
        step(Vector("a", "b", "c"), n)
      }
    checkProp(Prop.forAll(textGen, chainedGen) { (text, rules) =>
      val m = new GenericArrayData(
        rules.map { case (a, b) => UTF8String.fromString(s"$a $b") }.toArray[Any])
      val got = BpeEncode
        .encode(UTF8String.fromString(text), BpeEncode.parseRules(m))
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString)
      val gotPiped =
        if (got.isEmpty) "" else "|" + got.mkString("||") + "|"
      gotPiped == oracleApply(text, rules)
    }, minSuccessful = 300)
  }

  test("property: bucketed range join equals the naive theta join at random widths") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    // colliding users, second-scale timestamps, interval lengths both
    // below and above the bucket width so matches cross bucket
    // boundaries in both directions
    val pointGen = for {
      u <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 400L)
    } yield (u, t)
    val ivGen = for {
      u <- Gen.choose(0L, 3L); a <- Gen.choose(0L, 400L)
      len <- Gen.choose(0L, 150L)
    } yield (u, a, a + len)
    val gen = for {
      ps <- Gen.listOfN(40, pointGen)
      ivs <- Gen.listOfN(15, ivGen)
      width <- Gen.choose(1L, 200L)
    } yield (ps, ivs, width)
    checkProp(Prop.forAll(gen) { case (ps, ivs, width) =>
      def ts(sec: Long) = new Timestamp(sec * 1000L)
      val points = ps.zipWithIndex
        .map { case ((u, t), i) => (u, i.toLong, ts(t)) }
        .toDF("user_id", "pid", "t")
      val intervals = ivs.zipWithIndex
        .map { case ((u, a, b), i) => (u, i.toLong, ts(a), ts(b)) }
        .toDF("user_id", "iid", "lo", "hi")
      val got = graft.queries.RangeJoinOps
        .bucketed(points, intervals, Seq("user_id"), "t", "lo", "hi", width)
        .select($"iid", $"pid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = (for {
        ((iu, a, b), ii) <- ivs.zipWithIndex
        ((pu, t), pi) <- ps.zipWithIndex
        if pu == iu && t >= a && t < b
      } yield (ii.toLong, pi.toLong)).sorted
      got == want
    }, minSuccessful = 8)
  }

  test("property: native as-of join equals the brute-force definition") {
    val s = spark
    import s.implicits._
    // few samples: each runs a Spark job — the generator's value is
    // the collision density, not the sample count
    checkProp(Prop.forAll(asofGen) { case (purchases, clicks) =>
      val l = purchases.toDF("u", "lt", "lid")
      val r = clicks.toDF("ru", "rt", "rid")
      val got = graft.plans.AsofJoin.asof(l, r, "u", "ru", "lt", "rt", "rid")
        .select($"lid", $"rid")
        .collect().map(x => (x.getLong(0),
          if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      val want = purchases.map { case (u, t, id) =>
        val cand = clicks.filter(cl => cl._1 == u && cl._2 <= t)
        id -> (if (cand.isEmpty) None
               else Some(cand.maxBy(cl => (cl._2, cl._3))._3))
      }.toMap
      got == want
    }, minSuccessful = 8)
  }

  test("property: histogram quantile picks exactly the k-th order statistic's bin") {
    val s = spark
    import s.implicits._
    import graft.queries.DimOps
    // values with two decimals land on and around bin edges — the
    // floor boundary is exercised constantly
    val valsGen = Gen.nonEmptyListOf(Gen.choose(0, 50000).map(_ / 100.0))
    checkProp(Prop.forAll(valsGen) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(
          if (i % 2 == 0) "2024-01-01 08:00:00" else "2024-01-02 09:00:00"),
          "t", v)
      }.toDF("ts", "event_type", "value")
      val got = DimOps.histQuantiles(DimOps.valueHistogram(df))
        .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .head
      val sorted = vals.sorted
      def expect(q: Int): Double = {
        val k = (vals.size * q + 99) / 100   // ⌈n·q/100⌉ for positive n
        math.floor(sorted(k - 1) * DimOps.HistScale) / DimOps.HistScale
      }
      got == ((expect(50), expect(95), expect(99)))
    }, minSuccessful = 25)
  }

  test("property: bucketed as-of equals brute force at RANDOM bucket widths") {
    val s = spark
    import s.implicits._
    // the carry-over construction must hold at any width: width 1
    // (every timestamp its own bucket — all matches cross boundaries),
    // widths around the ts range, widths larger than the range (one
    // bucket — degenerates to the plain merge)
    val gen = for {
      data <- asofGen
      width <- Gen.choose(1L, 80L)
    } yield (data, width)
    checkProp(Prop.forAll(gen) { case ((purchases, clicks), width) =>
      val l = purchases.toDF("u", "lt", "lid")
      val r = clicks.toDF("ru", "rt", "rid")
      val got = graft.plans.AsofJoin
        .asofBucketed(l, r, "u", "ru", "lt", "rt", "rid", width)
        .select($"lid", $"rid")
        .collect().map(x => (x.getLong(0),
          if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      val want = purchases.map { case (u, t, id) =>
        val cand = clicks.filter(cl => cl._1 == u && cl._2 <= t)
        id -> (if (cand.isEmpty) None
               else Some(cand.maxBy(cl => (cl._2, cl._3))._3))
      }.toMap
      got == want
    }, minSuccessful = 8)
  }

  // ------------------------------------------------------ bounded_lev
  /** Naive code-point Levenshtein — the kernel's spec. */
  private def naiveLev(a: String, b: String): Int = {
    val ca = a.codePoints().toArray
    val cb = b.codePoints().toArray
    val d = Array.tabulate(ca.length + 1, cb.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to ca.length; j <- 1 to cb.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (ca(i - 1) == cb(j - 1)) 0 else 1))
    d(ca.length)(cb.length)
  }

  test("property: bounded_lev equals the naive code-point DP, -1 past the bound") {
    // small alphabet + shared non-BMP chars so random pairs land
    // close often (the interesting regime for the band + the
    // prefix/suffix strip); surrogate-pair chars pin the code-point
    // (not char) contract the kernel claims
    val alpha = Gen.oneOf("a", "b", "c", "é", "中", "🙂", "𝄞")
    val strGen = Gen.choose(0, 14)
      .flatMap(n => Gen.listOfN(n, alpha)).map(_.mkString)
    checkProp(Prop.forAll(strGen, strGen, Gen.choose(0, 4)) { (a, b, k) =>
      val want = { val d = naiveLev(a, b); if (d <= k) d else -1 }
      val sym = graft.queries.FuzzyJoin.boundedLev(b, a, k)
      graft.queries.FuzzyJoin.boundedLev(a, b, k) == want && sym == want
    }, minSuccessful = 400)
    // k = Int.MaxValue must behave as an unbounded levenshtein, not
    // wrap `inf = k + 1` negative and return garbage (regression)
    assert(graft.queries.FuzzyJoin.boundedLev("abc", "xyz", Int.MaxValue) == 3)
    assert(graft.queries.FuzzyJoin.boundedLev("", "abcd", Int.MaxValue) == 4)
    assert(graft.queries.FuzzyJoin.boundedLev("kitten", "sitting",
      Int.MaxValue - 1) == 3)
  }

  test("fingerprint cache eviction keeps the byte budget and stays correct") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.queries.VariantHashes
    // 120-char names at k=2 retain ~58 KB each (L²/2 fingerprints), so
    // ~700 distinct names blow the 24 MB/thread budget and force the
    // LRU drain — the branch no small-string test ever reaches. The
    // filler must have UNEQUAL adjacent chars: a constant run dedups
    // its deletion neighborhood to almost nothing
    val name = (i: Int) => f"Customer#$i%06d" +
      (0 until 104).map(j => ('a' + (j * 7 + i) % 26).toChar).mkString
    val budget = 24L << 20
    var i = 0
    while (i < 700) {
      val u = UTF8String.fromString(name(i))
      // identical fingerprints cached or not (self minShared = set min)
      val first = VariantHashes.minShared(u, u, 2)
      assert(VariantHashes.minShared(u, u, 2) == first)
      assert(VariantHashes.fpCacheBytesForTest <= budget,
        s"accounting must never exceed the budget at i=$i: " +
          s"${VariantHashes.fpCacheBytesForTest}")
      i += 1
    }
    // the drain actually ran: 700 × ~58 KB >> 24 MB, so the cache
    // holds strictly fewer entries than were inserted, yet is not
    // empty (the budget fits hundreds of max-size arrays)
    val n = VariantHashes.fpCacheEntriesForTest
    assert(n < 700 && n > 10, s"eviction should trim, not empty: $n")
    // evicted entries recompute identical results
    val u0 = UTF8String.fromString(name(0))
    val uE = UTF8String.fromString(name(1))
    assert(VariantHashes.minShared(u0, uE, 2) ==
      VariantHashes.minSharedOf(
        VariantHashes.hashArray(u0, 2), VariantHashes.hashArray(uE, 2)))
  }

  test("property: FastSS completeness — ed<=k pairs share a variant; minShared is the set minimum") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.queries.VariantHashes
    // random string + up to k random code-point edits: the deletion
    // neighborhoods MUST intersect (the theorem the whole fuzzy join's
    // exactness stands on), and the canonical bucket (minShared) must
    // be the true minimum of the intersection, symmetric in its args
    val alpha = Gen.oneOf("a", "b", "c", "d", "é", "🙂")
    val strGen = Gen.choose(1, 12)
      .flatMap(n => Gen.listOfN(n, alpha)).map(_.mkString)
    def edit(s: List[String], rnd: (Int, Int, String)): List[String] = {
      val (op, posSeed, ch) = rnd
      if (s.isEmpty) List(ch)
      else {
        val pos = math.abs(posSeed) % s.length
        op % 3 match {
          case 0 => s.patch(pos, Nil, 1)              // delete
          case 1 => s.patch(pos, List(ch), 1)          // substitute
          case _ => s.patch(pos, List(ch), 0)          // insert
        }
      }
    }
    val editGen = Gen.zip(Gen.choose(0, 2), Gen.choose(0, 1 << 20), alpha)
    checkProp(Prop.forAll(strGen, Gen.choose(1, 2),
      Gen.listOfN(2, editGen)) { (a, k, edits) =>
      val start: List[String] = a.codePoints().toArray.toList
        .map(cpv => new String(Character.toChars(cpv)))
      val b = edits.take(k).foldLeft(start)((s, r) => edit(s, r)).mkString
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      val ha = VariantHashes.hashArray(ua, k)
      val hb = VariantHashes.hashArray(ub, k)
      val inter = ha.toSet.intersect(hb.toSet)
      val ms = VariantHashes.minSharedOf(ha, hb)
      // ed(a, b) <= k by construction => neighborhoods intersect
      inter.nonEmpty && ms == inter.min &&
        VariantHashes.minSharedOf(hb, ha) == ms
    }, minSuccessful = 400)
  }
}
