package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), word-shingle Jaccard via an inverted index,
  * MinHash+LSH banding, and SimHash. No reference counterpart — these
  * extend the engine beyond arthur-redshift-etl's SQL-transform
  * surface.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison.
  * Candidate pairs come from equi-joins on derived keys (shingle,
  * band signature, simhash band) — plain shuffles that Spark
  * distributes; only candidates are scored exactly.
  */
object DedupOps {

  import TextOps.{normText, normTextSql}

  // ------------------------------------------------------------ exact
  /** Exact dedup, keep-first: group by content fingerprint, keep the
    * smallest doc_id per group. One shuffle on the 128-bit hash (not
    * the full text!), uniform distribution by construction. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables.load(spark, sfDir, "documents"))
      .select($"doc_id", md5(normText($"text")).as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_doc_id")
  }

  val dedupExactSql: String =
    s"""SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
       |FROM (SELECT doc_id, md5($normTextSql) AS fp FROM documents)
       |GROUP BY fp ORDER BY keep_doc_id""".stripMargin

  // ------------------------------------------------------------ shingles
  /** Distinct word 3-gram shingles per doc (shared by jaccard +
    * minhash). Tokens from normalized text → sliding triples. */
  private def shingleDf(spark: SparkSession, sfDir: String): DataFrame =
    shinglesOf(Tables.load(spark, sfDir, "documents"))

  /** Same shingling over ANY (doc_id, text) frame — the incremental
    * band-index path shingles one batch at a time. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    // normText + shingle explode is per-doc CPU; spread it over the
    // cores when the corpus scan under-splits (no-op at scale — see
    // [[Tables.spread]]); measured 0.8-1.1 s single-task map stages
    // in every shingle consumer at sf0.1 without it
    Tables.spread(docs)
      .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
        .as("shingle"))
      .distinct()

  /** The shared shingle hash (60 bits of md5): string shingles become
    * compact longs BEFORE any shuffle, broadcast, or bloom — 8 bytes
    * on the wire instead of a ~20-byte string. Same expression on
    * both sides of every membership join, and the oracle derives the
    * identical value from DuckDB's md5. */
  private[graft] def shingleHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val shingleSql: String =
    s"""SELECT DISTINCT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingle
       |FROM (SELECT doc_id, string_split($normTextSql, ' ') AS w FROM documents)
       |WHERE len(w) >= 3""".stripMargin

  // ------------------------------------------------------------ jaccard
  /** N-gram Jaccard near-dup pairs ≥ 0.8 via a shingle inverted
    * index: explode → equi-join on shingle → count common → exact
    * Jaccard. The join IS the candidate generation — pairs sharing no
    * shingle never meet.
    *
    * Skew guard for 100 TB: shingles with document frequency >
    * `Tuning.maxShingleDf` (stopword shingles) are dropped BEFORE the join,
    * capping per-shingle join fan-out at maxShingleDf² pairs so no
    * single reducer melts on a hot key. Semantics: exact Jaccard over
    * the df≤k shingle sets, identically on both engines (the oracle
    * applies the same cutoff); k is recorded here. At the test SFs the
    * max df is 25, so the cutoff drops nothing and values equal the
    * unguarded Jaccard.
    *
    * This shared tail of the inverted-index pipeline gives candidate pairs with
    * common-shingle counts and both set sizes (d1, d2, common, na,
    * nb) — jaccard and containment are projections over it. */
  private def pairCommonCounts(spark: SparkSession, sfDir: String,
                               t: Tuning = Tuning.default): DataFrame = {
    import spark.implicits._
    // Join on a 60-bit md5 fingerprint of the shingle, not the string:
    // the inverted-index shuffle then carries 8 bytes per row instead
    // of a ~25-byte text key. (Collisions at 2^60 are negligible and
    // the oracle hashes identically, so results agree by construction.)
    val sh = shingleDf(spark, sfDir)
      .select($"doc_id",
        conv(substring(md5($"shingle"), 1, 15), 16, 10).cast("long").as("shingle"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // df via groupBy, NOT count(*) over (partition by shingle): the
    // window would buffer every occurrence of a hot shingle on one
    // task — the exact skew this guard exists to prevent. The groupBy
    // partial-aggregates map-side (a hot shingle arrives as ~one row
    // per map task), and the semi-join back is AQE-skew-splittable.
    val keptShingles = sh.groupBy($"shingle")
      .agg(count(lit(1)).as("df"))
      .filter($"df" <= t.maxShingleDf)
      .select($"shingle")
    val kept = sh.hint("shuffle_hash")
      .join(keptShingles, Seq("shingle"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // All joins below are shuffle joins: the shingle index, the pair
    // list and the per-doc sizes all scale with the corpus, so none
    // may be a broadcast build side (plan-gated in ExplainSpec). The
    // df≤maxShingleDf cutoff bounds per-shingle fan-out; AQE splits
    // any residual hot shingle group at runtime.
    val sizes = kept.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = kept.as("a").hint("shuffle_merge").join(kept.as("b"),
      $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.as("sa").hint("shuffle_hash"), $"d1" === $"sa.doc_id")
      .join(sizes.as("sb").hint("shuffle_hash"), $"d2" === $"sb.doc_id")
      .select($"d1", $"d2", $"common", $"sa.n".as("na"), $"sb.n".as("nb"))
  }

  def dedupJaccard(spark: SparkSession, sfDir: String,
                   t: Tuning = Tuning.default): DataFrame = {
    import spark.implicits._
    pairCommonCounts(spark, sfDir, t)
      .select($"d1", $"d2", $"common",
        ($"common".cast("double") / ($"na" + $"nb" - $"common")).as("jaccard"))
      .filter($"jaccard" >= t.jaccardThreshold)
      .orderBy($"d1", $"d2")
  }

  // ------------------------------------------------------- containment
  /** Asymmetric near-dup: containment(A⊆B) = |A∩B| / |A| — catches a
    * document swallowed by another (boilerplate wrappers, quoted
    * posts) that symmetric Jaccard misses when the container is much
    * larger. Same inverted-index candidates, one extra projection;
    * `contained_doc` names the swallowed side. */
  def dedupContainment(spark: SparkSession, sfDir: String,
                       t: Tuning = Tuning.default): DataFrame = {
    import spark.implicits._
    pairCommonCounts(spark, sfDir, t)
      .select($"d1", $"d2",
        greatest($"common".cast("double") / $"na",
          $"common".cast("double") / $"nb").as("containment"),
        when($"common".cast("double") / $"na" >=
          $"common".cast("double") / $"nb", $"d1").otherwise($"d2")
          .as("contained_doc"))
      .filter($"containment" >= t.containmentThreshold)
      .orderBy($"d1", $"d2")
  }

  def dedupContainmentSql(t: Tuning = Tuning.default): String =
    s"""WITH sh AS (
       |  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS shingle
       |  FROM ($shingleSql)
       |),
       |kept AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
       |  ) WHERE df <= ${t.maxShingleDf}
       |),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2,
       |  greatest(CAST(common AS DOUBLE) / sa.n, CAST(common AS DOUBLE) / sb.n) AS containment,
       |  CASE WHEN CAST(common AS DOUBLE) / sa.n >= CAST(common AS DOUBLE) / sb.n
       |       THEN d1 ELSE d2 END AS contained_doc
       |FROM pairs JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
       |WHERE greatest(CAST(common AS DOUBLE) / sa.n, CAST(common AS DOUBLE) / sb.n) >= ${t.containmentThreshold}
       |ORDER BY d1, d2""".stripMargin

  def dedupJaccardSql(t: Tuning = Tuning.default): String =
    s"""WITH sh AS (
       |  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS shingle
       |  FROM ($shingleSql)
       |),
       |kept AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
       |  ) WHERE df <= ${t.maxShingleDf}
       |),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, common, CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
       |FROM pairs JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= ${t.jaccardThreshold}
       |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------------------ minhash
  /** MinHash signatures + LSH banding. 16 universal-hash permutations
    * over 32-bit md5 shingle hashes, banded 4×4; docs sharing a band
    * signature are candidate pairs. Candidate generation is an
    * equi-join on (band, signature) — no all-pairs stage. 16
    * permutations ride one shuffle (explode × tiny broadcast). */
  val MinhashPerms = 16
  val BandSize = 4
  val MinhashPrime = 4294967311L // smallest prime > 2^32

  /** All 16 permutation minima computed as 16 independent MIN
    * aggregates in ONE groupBy over the shingle hashes — no 16× row
    * explosion, no perms cross join, one shuffle of |shingles| rows
    * with a 16-slot agg buffer. The 4 band rows per doc are assembled
    * AFTER aggregation (a 4× explode on one row per doc). */
  def minhashBands(spark: SparkSession, sfDir: String): DataFrame =
    minhashBandsOf(Tables.load(spark, sfDir, "documents"))

  /** Band signatures over ANY (doc_id, text) frame — corpus or one
    * day's batch; the materialized-index lifecycle below bands each
    * incoming batch independently. */
  def minhashBandsOf(docs: DataFrame): DataFrame = {
    val hashed = shinglesOf(docs)
      .select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long").as("h"))
    val minAggs = (0 until MinhashPerms).map { j =>
      min((col("h") * (2L * j + 1) + (101L * j + 7)) % MinhashPrime).as(s"m$j")
    }
    val agg = hashed.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    val bandStructs = (0 until MinhashPerms / BandSize).map { i =>
      struct(lit(i).as("band"),
        concat_ws(",", (0 until BandSize)
          .map(k => col(s"m${i * BandSize + k}").cast("string")): _*).as("sig"))
    }
    agg.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  private val minhashBandsSql: String = {
    val mins = (0 until MinhashPerms).map { j =>
      s"MIN((h * ${2 * j + 1} + ${101 * j + 7}) % $MinhashPrime) AS m$j"
    }.mkString(",\n    ")
    val bandSelects = (0 until MinhashPerms / BandSize).map { i =>
      val sig = (0 until BandSize)
        .map(k => s"CAST(m${i * BandSize + k} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, CAST($i AS INT) AS band, $sig AS sig FROM agg"
    }.mkString("\nUNION ALL\n")
    s"""WITH agg AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM (SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h
       |        FROM ($shingleSql))
       |  GROUP BY doc_id
       |)
       |$bandSelects""".stripMargin
  }

  /** The per-doc banded signatures themselves (hash-checked). */
  def dedupMinhashSig(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    minhashBands(spark, sfDir).orderBy($"doc_id", $"band")
  }

  val dedupMinhashSigSql: String =
    s"SELECT * FROM ($minhashBandsSql) ORDER BY doc_id, band"

  /** LSH candidate pairs: docs sharing any band signature. The bands
    * are persisted before the self-join — without it Spark recomputes
    * the whole shingle→minhash pipeline for each join side. The join
    * is a hinted sort-merge join: the band table scales with the
    * corpus (docs × 4 bands), so broadcasting it cannot survive
    * 100 TB; AQE skew-join splits any hot band signature at runtime. */
  /** The candidate edge set without presentation ordering — shared by
    * the pairs query and the cluster builder below. */
  private def minhashCandidatePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = minhashBands(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
    bands.as("a").hint("shuffle_merge").join(bands.as("b"),
      $"a.band" === $"b.band" && $"a.sig" === $"b.sig" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
  }

  def dedupMinhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    minhashCandidatePairs(spark, sfDir).orderBy($"d1", $"d2")
  }

  val dedupMinhashPairsSql: String =
    s"""WITH bands AS ($minhashBandsSql)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------- incremental dedup
  /** Incremental (delta) dedup — the daily-ingest shape: candidate
    * pairs for an INCOMING batch (doc_id ≥ [[IncrementalSplit]] stands
    * in for "today's crawl") against the existing corpus plus itself,
    * WITHOUT regenerating existing×existing pairs.
    *
    * The corpus band index is a MATERIALIZED warehouse table
    * ([[buildBandIndex]]), not a per-run recomputation: each run (1)
    * bands ONLY the incoming batch — Θ(|batch|) shingling work; (2)
    * appends those bands to the stored index — Θ(|batch|) new part
    * files, no rewrite ([[graft.etl.Warehouse.appendToTable]]); (3)
    * equi-joins the stored index against the batch's bands on
    * (band, sig). The scan of the stored index is a columnar parquet
    * read of 3 small columns — at 100 TB of documents the band index
    * is ~1% of corpus bytes — and the join's build side is only the
    * batch, so the daily cost scales with the batch for compute AND
    * with index-bytes (not corpus-bytes) for I/O.
    *
    * The oracle states the SEMANTIC contract: the full pair set
    * filtered to pairs touching the batch (d2 ≥ split, since d1 < d2
    * and batch ids are the high range) — the incremental plan must
    * produce exactly that. */
  val IncrementalSplit = 400L

  /** Build (or rebuild from scratch) the persistent corpus band index
    * as a real warehouse table — the between-runs state of the
    * incremental pipeline. */
  def buildBandIndex(wh: graft.etl.Warehouse, docs: DataFrame,
                     index: graft.etl.TableName): Long =
    wh.writeTable(index, minhashBandsOf(docs))

  /** One incremental run: append the batch's bands to the stored
    * index, then emit the batch's candidate pairs against everything
    * indexed so far (earlier corpus AND earlier batches AND the batch
    * itself — the self-pairs come out of the index copy just
    * appended). Both join sides are hinted shuffle: the index scales
    * with the corpus, so broadcasting it cannot survive 100 TB; the
    * batch side is smaller but unbounded (a crawl day can be huge). */
  def incrementalAgainstIndex(wh: graft.etl.Warehouse,
                              index: graft.etl.TableName,
                              batchDocs: DataFrame): DataFrame = {
    val batchBands = minhashBandsOf(batchDocs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    wh.appendToTable(index, batchBands)
    pairsAgainstIndex(wh, index, batchBands)
  }

  /** The candidate-pair join of one incremental run, factored out so
    * the streaming twin can manage the batch bands' persist lifecycle
    * and append idempotently itself. `batchBands` must already be IN
    * the stored index (self-pairs come out of the appended copy). */
  def pairsAgainstIndex(wh: graft.etl.Warehouse,
                        index: graft.etl.TableName,
                        batchBands: DataFrame): DataFrame = {
    val spark = wh.spark
    import spark.implicits._
    spark.table(index.quoted).as("a").hint("shuffle_merge")
      .join(batchBands.as("b").hint("shuffle_merge"),
        $"a.band" === $"b.band" && $"a.sig" === $"b.sig" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
  }

  /** The oracle entry drives the REAL lifecycle end-to-end in a
    * throwaway warehouse: index the existing corpus (doc_id < split)
    * as a stored table, then run one incremental batch against it. */
  def dedupMinhashIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val wh = new graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_bandidx_").toString, sfDir)
    val index = graft.etl.TableName.parse("dedup.minhash_band_index")
    buildBandIndex(wh, docs.filter($"doc_id" < IncrementalSplit), index)
    incrementalAgainstIndex(wh, index,
      docs.filter($"doc_id" >= IncrementalSplit))
      .orderBy($"d1", $"d2")
  }

  val dedupMinhashIncrementalSql: String =
    s"""WITH bands AS ($minhashBandsSql)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |WHERE b.doc_id >= $IncrementalSplit
       |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------------ passage dedup
  /** Passage-level exact dedup — the C4/RefinedWeb "remove duplicated
    * passages corpus-wide, keep the first occurrence" step, at a finer
    * grain than whole-document [[dedupExact]]. Documents split into
    * fixed `Tuning.chunkWords`-word chunks (deterministic positional
    * chunking — the synthetic corpus has no sentence boundaries; a
    * production corpus would split on '\n\n'), each chunk keeps only
    * its corpus-wide FIRST occurrence by (doc_id, pos), and every
    * document is reconstructed from its surviving chunks in order.
    *
    * Scale shape: keep-first is a groupBy on the 128-bit chunk
    * fingerprint with a min(struct(doc_id, pos)) aggregate —
    * map-side-partial, one shuffle of |chunks| rows, no corpus-wide
    * window — then one hinted shuffle join back (both sides corpus-
    * scale; plan-gated non-broadcast). Reconstruction is a groupBy
    * per doc whose state is bounded by the document's own length. */

  def dedupPassages(spark: SparkSession, sfDir: String,
                    t: Tuning = Tuning.default): DataFrame = {
    import spark.implicits._
    val cw = t.chunkWords
    val units = Tables.spread(Tables.load(spark, sfDir, "documents"))
      .select($"doc_id", split(normText($"text"), " ").as("w"))
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, CAST((size(w) - 1) / $cw AS INT)), " +
          s"i -> concat_ws(' ', slice(w, i * $cw + 1, $cw)))")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("unit"),
        md5($"col").as("fp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keepFirst = units.groupBy($"fp")
      .agg(min(struct($"doc_id", $"pos")).as("k"))
      .select($"fp".as("kfp"), $"k.doc_id".as("kd"), $"k.pos".as("kp"))
    // ONE left join on the fingerprint alone — the right side is
    // unique per fp (a groupBy result), so there is no fan-out, every
    // unit survives the join (kept or not), and a single per-doc
    // aggregate computes totals, kept counts, AND the reconstruction:
    // collect_list skips the nulls the `when` leaves on dropped
    // chunks. The keep-first set scales with distinct chunks
    // (corpus-sized): hinted shuffle so Catalyst never broadcasts the
    // build side. Three shuffles total (fp agg, fp join, doc agg).
    val isKept = $"doc_id" === $"kd" && $"pos" === $"kp"
    units.join(keepFirst.hint("shuffle_hash"), $"fp" === $"kfp", "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_units"),
        count(when(isKept, lit(1))).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(when(isKept, struct($"pos", $"unit")))),
            x => x.getField("unit")), " ").as("text_dedup"))
      .select($"doc_id", $"n_units", $"n_kept", $"text_dedup")
      .orderBy($"doc_id")
  }

  def dedupPassagesSql(t: Tuning = Tuning.default): String = {
    val cw = t.chunkWords
    s"""WITH w AS (
       |  SELECT doc_id, string_split($normTextSql, ' ') AS w FROM documents
       |), poss AS (
       |  SELECT doc_id, w, unnest(range(0, (len(w) - 1) // $cw + 1)) AS i FROM w
       |), units AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(w[(i * $cw + 1):(i * $cw + $cw)], ' ') AS unit
       |  FROM poss
       |), ranked AS (
       |  SELECT doc_id, pos, unit,
       |    row_number() OVER (PARTITION BY md5(unit) ORDER BY doc_id, pos) AS rk
       |  FROM units
       |), keptu AS (
       |  SELECT doc_id, pos, unit FROM ranked WHERE rk = 1
       |), agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(unit, ' ' ORDER BY pos) AS text_dedup
       |  FROM keptu GROUP BY doc_id
       |), tot AS (
       |  SELECT doc_id, COUNT(*) AS n_units FROM units GROUP BY doc_id
       |)
       |SELECT t.doc_id AS doc_id, t.n_units,
       |  COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |  COALESCE(a.text_dedup, '') AS text_dedup
       |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ------------------------------------------------------------ simhash
  /** 60-bit SimHash per document over distinct word hashes (60 bits so
    * the value fits a signed BIGINT in every engine). Near-dup pairs =
    * hamming distance ≤ 6 via bit_count(xor), candidates generated by
    * the 7-band pigeonhole equi-join below — never all-pairs. */
  val SimhashBits = 60

  /** Single-pass simhash: per-bit set-counts as 60 independent SUM
    * aggregates in ONE groupBy over the token hashes (no 60× bits
    * cross join / row explosion — one shuffle of |tokens| rows with a
    * 61-slot buffer). Bit b of the simhash is set iff at least half
    * the tokens have bit b set: the classic majority vote
    * s_b = Σ±1 ≥ 0  ⇔  2·ones_b ≥ n. */
  def simhashDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tokens = Tables.spread(Tables.load(spark, sfDir, "documents"))
      .select($"doc_id", explode(split(normText($"text"), " ")).as("tok"))
      .select($"doc_id",
        conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val onesAggs = (0 until SimhashBits).map { b =>
      sum(shiftright($"h", b).bitwiseAND(1L)).as(s"o$b")
    }
    val agg = tokens.groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), onesAggs: _*)
    val simhash = (0 until SimhashBits).map { b =>
      when(col(s"o$b") * 2 >= $"n", lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select($"doc_id", simhash.as("simhash")).orderBy($"doc_id")
  }

  val simhashDocsSql: String = {
    val ones = (0 until SimhashBits)
      .map(b => s"SUM((h >> $b) & 1) AS o$b").mkString(",\n    ")
    val simhash = (0 until SimhashBits)
      .map(b => s"CASE WHEN o$b * 2 >= n THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($simhash AS BIGINT) AS simhash
       |FROM (
       |  SELECT doc_id, COUNT(*) AS n,
       |    $ones
       |  FROM (
       |    SELECT DISTINCT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
       |    FROM (SELECT doc_id, unnest(string_split($normTextSql, ' ')) AS tok FROM documents)
       |  )
       |  GROUP BY doc_id
       |) ORDER BY doc_id""".stripMargin
  }

  /** Band layout for simhash LSH: hamming distance ≤ 6 can flip bits
    * in at most 6 bands, so with 7 bands (pigeonhole) at least one
    * band is identical between any qualifying pair. 60 bits split
    * 9+9+9+9+8+8+8. Candidates come from a band equi-join (the same
    * shape as the minhash band join — never all-pairs); the exact
    * `bit_count(xor)` filter runs only on candidates. At billions of
    * docs, widen the bands from a longer simhash (band width ~log2 n)
    * to keep buckets small; the join shape is unchanged. */
  val SimhashBandSpecs: Seq[(Int, Int, Int)] = {
    val widths = Seq(9, 9, 9, 9, 8, 8, 8)
    val starts = widths.scanLeft(0)(_ + _).init
    widths.indices.map(i => (i, starts(i), widths(i)))
  }

  /** First agreeing band of the xor-difference x: band b agrees iff
    * x's bits inside band b are all zero. Joining on "band = first
    * agreeing band" makes each qualifying pair come out of EXACTLY one
    * band — no distinct over the candidate stream, the expensive
    * shuffle the naive band join pays. */
  private def firstAgreeingBand(x: Column): Column =
    SimhashBandSpecs.init.foldRight(lit(SimhashBandSpecs.last._1)) {
      case ((b, start, width), acc) =>
        when(shiftright(x, start).bitwiseAND(lit((1L << width) - 1)) === 0L, lit(b))
          .otherwise(acc)
    }

  /** Near-dup pairs (hamming ≤ 6). Real text simhashes CLUSTER — at
    * sf0.1 one 9-bit band bucket holds half the corpus, so banding raw
    * docs regenerates nearly all-pairs. Instead:
    *   1. band-join over DISTINCT simhash values (smaller, and
    *      identical docs collapse),
    *   2. inline hamming + first-agreeing-band predicates inside the
    *      join (each value pair emitted once — no distinct),
    *   3. expand value pairs back to doc pairs via two equi-joins, and
    *      add intra-group pairs (identical simhash ⇒ hamming 0).
    * Every stage is a SHUFFLE equi-join — no broadcast whose build
    * side scales with the corpus (at billions of docs distinct 60-bit
    * simhashes ≈ corpus size; broadcasting them would kill the
    * driver), no BroadcastNestedLoopJoin — and the only big output is
    * the answer itself (at this SF ~1M pairs, 8% of all pairs: the
    * threshold is inherently unselective on this corpus, so output
    * dominates any algorithm).
    *
    * Skew: real simhash band buckets are heavily skewed (one 9-bit
    * bucket can hold a large corpus fraction). The band self-join is
    * a hinted sort-merge join so AQE's skew-join handling
    * (`spark.sql.adaptive.skewJoin.enabled`, on by default) splits an
    * oversized (band,bkey) group across tasks at runtime — the
    * mechanism that scales where a fixed salt factor or a
    * corpus-sized broadcast cannot. The value→doc expansion joins and
    * the intra-group join are shuffle-hash joins (uniform hash keys,
    * no sort needed). */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = simhashDocs(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
    val v = sh.select($"simhash").distinct()
    // Band rows come from an explode over a literal array — a pure
    // row-multiplier with no join node (a cross join with a tiny df
    // would plan as BroadcastNestedLoopJoin and trip the plan gate).
    val bandArr = array(SimhashBandSpecs.map { case (b, start, width) =>
      struct(lit(b).as("band"), lit(start).as("start"),
        lit((1L << width) - 1).as("mask"))
    }: _*)
    val keyed = v.select($"simhash", explode(bandArr).as("bs"))
      .select($"simhash", $"bs.band".as("band"),
        expr("shiftright(simhash, bs.start)").bitwiseAND($"bs.mask").as("bkey"))
    val x = $"a.simhash".bitwiseXOR($"b.simhash")
    val vp = keyed.as("a").hint("shuffle_merge")
      .join(keyed.as("b").hint("shuffle_merge"),
        $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
          $"a.simhash" < $"b.simhash" &&
          bit_count(x) <= 6 && $"a.band" === firstAgreeingBand(x))
      .select($"a.simhash".as("h1"), $"b.simhash".as("h2"))
    val crossPairs = vp
      .join(sh.as("x").hint("shuffle_hash"), $"h1" === $"x.simhash")
      .join(sh.as("y").hint("shuffle_hash"), $"h2" === $"y.simhash")
      .select(least($"x.doc_id", $"y.doc_id").as("d1"),
        greatest($"x.doc_id", $"y.doc_id").as("d2"),
        bit_count($"h1".bitwiseXOR($"h2")).as("hamming"))
    val intraPairs = sh.as("x").hint("shuffle_hash").join(sh.as("y"),
        $"x.simhash" === $"y.simhash" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("d1"), $"y.doc_id".as("d2"), lit(0).as("hamming"))
    crossPairs.unionAll(intraPairs).orderBy($"d1", $"d2")
  }

  val simhashPairsSql: String = {
    val bandRows = SimhashBandSpecs
      .map { case (b, start, width) => s"($b, $start, ${(1L << width) - 1})" }
      .mkString(", ")
    val firstBand = SimhashBandSpecs.init.foldRight(
      SimhashBandSpecs.last._1.toString) { case ((b, start, width), acc) =>
      s"CASE WHEN (xor(a.simhash, b.simhash) >> $start) & ${(1L << width) - 1} = 0 THEN $b ELSE $acc END"
    }
    s"""WITH sh AS (SELECT doc_id, simhash FROM ($simhashDocsSql)),
       |bands(band, start, mask) AS (VALUES $bandRows),
       |v AS (SELECT DISTINCT simhash FROM sh),
       |keyed AS (
       |  SELECT simhash, band, (simhash >> start) & mask AS bkey
       |  FROM v CROSS JOIN bands
       |),
       |vp AS (
       |  SELECT a.simhash AS h1, b.simhash AS h2
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.simhash < b.simhash
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |    AND a.band = ($firstBand)
       |),
       |crossp AS (
       |  SELECT least(x.doc_id, y.doc_id) AS d1, greatest(x.doc_id, y.doc_id) AS d2,
       |    CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
       |  FROM vp JOIN sh x ON x.simhash = vp.h1 JOIN sh y ON y.simhash = vp.h2
       |),
       |intra AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(0 AS INTEGER) AS hamming
       |  FROM sh x JOIN sh y ON x.simhash = y.simhash AND x.doc_id < y.doc_id
       |)
       |SELECT * FROM (SELECT * FROM crossp UNION ALL SELECT * FROM intra)
       |ORDER BY d1, d2""".stripMargin
  }

  // ------------------------------------------------- duplicate clusters
  /** Connected components over the near-dup candidate pairs: the step
    * a real dedup pipeline runs AFTER pair generation. Pairs alone
    * over-drop on chains (A~B, B~C would drop B and C against
    * different keepers); clustering picks ONE representative per
    * component.
    *
    * Algorithm: iterative min-label propagation — each round every
    * node takes the minimum label among itself and its neighbours.
    * Rounds needed = graph diameter; near-dup components are stars
    * and short chains, so a handful of shuffles ends it. Each round
    * is one shuffle join + one partial-aggregated groupBy, fully
    * distributed; the only driver value is the scalar convergence
    * count. A component whose diameter outlives [[JumpAfterRound]]
    * plain rounds (an adversarially long chain of near-dups) switches
    * on pointer-jumping — `label := label(label)` folded into each
    * subsequent round — which doubles the effective reach per round,
    * so ANY diameter converges within [[MaxClusterRounds]] instead of
    * aborting the job; the common star/short-chain case never pays
    * the extra label self-join (minhash/simhash graphs converge in
    * ≤3 plain rounds measured at sf0.1, so jumping from round 4
    * costs them nothing while denser graphs — the fuzzy-ER digit
    * lattice — save a round). */
  val MaxClusterRounds = 25
  // With the min-neighbor label INIT (one round of reach for free),
  // plain rounds reach distance r+1 — jumping from round 3 keeps the
  // old "start doubling at reach 4" behavior one round earlier on the
  // same graphs; star/short-chain graphs converge in ≤2 rounds and
  // never pay the jump self-join.
  val JumpAfterRound = 2

  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashCandidatePairs(spark, sfDir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    connectedComponents(spark, pairs)
  }

  /** Connected components over an undirected pair list (d1, d2) →
    * (doc_id, cluster = component min). Factored from the dedup path
    * so the propagation is testable on synthetic graphs (chains need
    * multiple rounds; the minhash corpus mostly yields stars). */
  def connectedComponents(spark: SparkSession, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    // The dup graph is orders of magnitude smaller than the corpus —
    // only documents in ≥1 candidate pair. Size the propagation's
    // parallelism to the GRAPH (one task per ~100k edges, capped at
    // the session's shuffle parallelism): at toy scale one task per
    // round beats 32 near-empty sort-merge tasks; at 100 TB the same
    // formula saturates the cluster. Persist the PAIR list before the
    // sizing count: the candidate generation upstream (minhash band
    // join, deletion-neighborhood levenshtein join) is the expensive
    // leg, and without the cache it would execute twice — once for
    // this count and again when the repartitioned edge table
    // materializes (measured 2× the whole candidate stage on the
    // fuzzy-ER graph). Graph-sized, freed before return.
    val pairsCached = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val rawEdges = pairsCached.union(
      pairsCached.select($"d2".as("d1"), $"d1".as("d2")))
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      (rawEdges.count() / 100000L + 1).toInt))
    val edges = rawEdges.repartition(parts, $"d2")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Lineage truncation: every round references `labels` TWICE
    // (neighbor aggregation + the update join, and the jump self-join
    // past JumpAfterRound), so without truncation the analyzed
    // logical plan DOUBLES per round — exponential analysis cost that
    // OOMs the driver around round ~20 regardless of data size.
    // Checkpointing rewraps the materialized partitions as a
    // LogicalRDD (O(1) plan per round) and — crucially — preserves
    // the physical outputPartitioning, keeping the edge join
    // exchange-free. Reliable checkpoint when a checkpoint dir is
    // configured (cluster operation, survives executor loss);
    // localCheckpoint otherwise (this also caches, replacing
    // persist). Superseded rounds' blocks are freed by the
    // ContextCleaner once unreferenced — bounded by round count, and
    // the label table is graph-sized, not corpus-sized.
    // clearOriginStats: without it the checkpointed labels carry the
    // round plan's Statistics and the size estimate's bit length
    // doubles per round — an adversarial graph near MaxClusterRounds
    // would hang the driver in BigInteger arithmetic (the bug
    // surfaced in convergence-mode PageRank; same loop shape here).
    // Partitioning is preserved, so the rounds stay exchange-free.
    def truncate(df: DataFrame): DataFrame = {
      val ck =
        if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
        else df.localCheckpoint(true)
      org.apache.spark.sql.GraftLineage.clearOriginStats(ck)
    }
    // Label init folds the first propagation round into ONE exchange-
    // free aggregation: l0 = min(node, min neighbor). Edges are
    // partitioned by d2, so the groupBy reuses that partitioning and
    // the output is already hash(node, parts) — exactly what the
    // per-round join needs. Star components (the common near-dup
    // shape) converge AT INIT and pay a single confirming round; every
    // graph saves one full join+update round vs the old node-identity
    // init (same fixpoint: min-label propagation is confluent).
    var labels = truncate(edges.groupBy($"d2")
      .agg(min($"d1").as("nmin"))
      .select($"d2".as("node"), least($"d2", $"nmin").as("label"),
        lit(false).as("improved")))
    // AQE's per-exchange query stages add several sequentially
    // scheduled jobs to every round; the loop's shuffles are already
    // explicitly sized to the graph (`parts`), so adaptivity buys
    // nothing here and its scheduling overhead dominates at small
    // scale. Off for the loop only, restored after. The session's
    // shuffle partitioning is likewise graph-sized for the loop: the
    // jump self-join and the neighbor-min aggregation would otherwise
    // run at the session's (corpus-sized) partition count — measured
    // as flotillas of near-empty tasks per round at sf0.1 (32-task
    // stages over a 743-row label table), pure scheduling overhead.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val shufWas = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    var round = 0
    var converged = false
    try {
    while (!converged && round < MaxClusterRounds) {
      round += 1
      // edges and labels are co-partitioned on (d2 / node, parts) —
      // the big join is exchange-free every round. The groupBy keeps
      // its map-side partial aggregation; only the ≤|nodes| aggregated
      // rows are re-shuffled to line up with labels for the update.
      val neighborMin = edges.join(
          labels.select($"node", $"label"), $"d2" === $"node")
        .groupBy($"d1").agg(min($"label").as("nmin"))
        .repartition(parts, $"d1")
      val propagated = labels.as("l")
        .join(neighborMin.as("n"), $"node" === $"n.d1", "left")
        .select($"node",
          least($"l.label", coalesce($"n.nmin", $"l.label")).as("label"),
          coalesce($"n.nmin" < $"l.label", lit(false)).as("improved"))
      // Past JumpAfterRound the diameter is unusually large: fold in
      // pointer-jumping (label := min(label, label(label))) — same
      // fixpoint (the component min maps to itself), exponentially
      // faster reach. Costs one extra graph-sized self-join per
      // round, paid only on adversarial graphs.
      val next0 =
        if (round <= JumpAfterRound) propagated
        else {
          val base = truncate(propagated)
          base.as("a").join(
              base.select($"node".as("jn"), $"label".as("jl")).as("b"),
              $"a.label" === $"b.jn", "left")
            .select($"a.node".as("node"),
              least($"a.label", coalesce($"b.jl", $"a.label")).as("label"),
              ($"a.improved" ||
                coalesce($"b.jl" < $"a.label", lit(false))).as("improved"))
            .repartition(parts, $"node")
        }
      // truncate() materializes eagerly (the old persist+count role)
      // and keeps the per-round plan O(1).
      val next = truncate(next0)
      converged = next.filter($"improved").count() == 0L
      labels = next
    }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.shuffle.partitions", shufWas)
      // edges' own blocks are live by now (materialized in round 1);
      // the upstream pair cache has served its double-read purpose
      pairsCached.unpersist(blocking = false)
    }
    require(converged,
      s"label propagation did not converge in $MaxClusterRounds rounds")
    labels.select($"node".as("doc_id"), $"label".as("cluster"))
      .orderBy($"doc_id")
  }

  /** Oracle: reachability closure via a recursive CTE, then min per
    * node — same fixpoint the propagation loop computes. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE
       |  pairs AS (SELECT * FROM ($dedupMinhashPairsSql)),
       |  edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2 AS d1, d1 AS d2 FROM pairs),
       |  reach(node, r) AS (
       |    SELECT d1 AS node, d1 AS r FROM edges
       |    UNION
       |    SELECT e.d1 AS node, r.r AS r FROM edges e JOIN reach r ON e.d2 = r.node
       |  )
       |SELECT node AS doc_id, MIN(r) AS cluster
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- keep policy
  /** The keep-policy step a real pipeline SHIPS: clusters → keep the
    * min-`doc_id` representative of each dup cluster (plus every
    * document the dedup never touched) → the filtered corpus with
    * per-doc token counts. Composes [[dedupClusters]] end to end —
    * the cluster id IS the component min, so "representative" is the
    * predicate `cluster = doc_id`, no extra aggregation.
    *
    * Scale shape: one equi-join of the corpus against the label table
    * on `doc_id`. The label table is dup-graph-sized — usually far
    * smaller than the corpus but NOT provably sublinear (a heavily
    * duplicated crawl can put most documents in pairs), so the join is
    * hinted shuffle-hash, never broadcast, like the other corpus-scale
    * dedup joins. Token counting rides the same scan that feeds the
    * join — no second pass over the corpus. */
  def dedupKeepPolicy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val clusters = minhashCandidatePairs(spark, sfDir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labels = connectedComponents(spark, clusters)
      .select($"doc_id".as("cdoc"), $"cluster")
    Tables.load(spark, sfDir, "documents")
      .join(labels.hint("shuffle_hash"), $"doc_id" === $"cdoc", "left")
      .filter($"cdoc".isNull || $"cluster" === $"doc_id")
      .select($"doc_id",
        size(split(trim(lower($"text")), "\\s+")).cast("long").as("n_tokens"),
        coalesce($"cluster", $"doc_id").as("cluster"))
      .orderBy($"doc_id")
  }

  /** Oracle reuses the clusters closure verbatim, then applies the
    * same keep predicate. */
  val dedupKeepPolicySql: String =
    s"""WITH labels AS (SELECT * FROM ($dedupClustersSql))
       |SELECT d.doc_id,
       |  CAST(len(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS BIGINT) AS n_tokens,
       |  COALESCE(l.cluster, d.doc_id) AS cluster
       |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
       |WHERE l.doc_id IS NULL OR l.cluster = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------- leakage-safe split
  /** Train/validation/test assignment that near-duplicates cannot
    * leak across: every document hashes its dedup-CLUSTER
    * representative (untouched documents hash their own id), so all
    * members of a near-dup cluster land in the SAME split — the
    * standard fix for the eval-set contamination a per-document
    * random split reintroduces after dedup (the failure
    * [[dedupDecontaminate]] detects post-hoc, prevented at split
    * time). The coin is the same salted-md5 integer bucket as the
    * mixing family, so the assignment is deterministic, reshuffle-
    * stable, and bit-equal cross-engine: bucket < 90 → train,
    * < 95 → valid, else test.
    *
    * Scale shape: identical to [[dedupKeepPolicy]] — one shuffle-hash
    * equi-join of the corpus against the dup-graph-sized label table
    * (hinted, never broadcast: a heavily duplicated crawl can put
    * most documents in pairs), then a per-row hash. Nothing else
    * touches the corpus; the split column costs no extra shuffle. */
  val SplitBuckets = 100L
  val SplitTrainLt = 90L
  val SplitValidLt = 95L

  def dedupSplitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashCandidatePairs(spark, sfDir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labels = connectedComponents(spark, pairs)
      .select($"doc_id".as("cdoc"), $"cluster")
    Tables.load(spark, sfDir, "documents")
      .join(labels.hint("shuffle_hash"), $"doc_id" === $"cdoc", "left")
      .select($"doc_id", coalesce($"cluster", $"doc_id").as("rep"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"), $"rep".cast("string"))), 1, 8),
          16, 10).cast("long") % SplitBuckets)
      .select($"doc_id", $"rep",
        when($"bucket" < SplitTrainLt, "train")
          .when($"bucket" < SplitValidLt, "valid")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** Oracle reuses the clusters closure, then the mix-family hash coin. */
  val dedupSplitAssignSql: String =
    s"""WITH labels AS (SELECT * FROM ($dedupClustersSql)),
       |a AS (
       |  SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
       |)
       |SELECT doc_id, rep,
       |  CASE WHEN bucket < $SplitTrainLt THEN 'train'
       |       WHEN bucket < $SplitValidLt THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, rep,
       |    CAST(('0x' || substring(md5('split:' || CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) % $SplitBuckets AS bucket
       |  FROM a
       |)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- decontamination
  /** Benchmark decontamination — the training-data hygiene step: flag
    * every training document sharing ≥ [[ContaminationMinShingles]]
    * distinct 3-gram shingles with any document of the evaluation set
    * (here doc_id < [[EvalDocMax]] stands in for the benchmark
    * corpus). On this vocabulary the overlap distribution is sharply
    * bimodal (background ≤ ~16 incidental shingles, true near-dups of
    * eval docs ≥ ~22), so the threshold cleanly separates.
    *
    * Scale shape: the eval set is benchmark-sized (thousands of
    * documents), so its distinct-shingle set is the ONE legitimately
    * broadcastable side in the dedup family — the training corpus is
    * scanned once, the membership probe rides the scan as a broadcast
    * hash join, and the only shuffle is the per-doc overlap count
    * (map-side partial aggregation). Contrast the pair-generating
    * dedups, where both sides scale with the corpus and broadcasts
    * are plan-gated away. */
  val EvalDocMax = 50L
  val ContaminationMinShingles = 20L

  def dedupDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // (doc, shingle) is distinct by construction (shingleDf), so the
    // overlap count is a plain count over the membership join
    val sh = shingleDf(spark, sfDir)
      .select($"doc_id", shingleHash($"shingle").as("shingle"))
    val evalSh = sh.filter($"doc_id" < EvalDocMax).select($"shingle").distinct()
    sh.filter($"doc_id" >= EvalDocMax)
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter($"n_overlap" >= ContaminationMinShingles)
      .orderBy($"doc_id")
  }

  val dedupDecontaminateSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS shingle
       |  FROM ($shingleSql)
       |),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < $EvalDocMax)
       |SELECT s.doc_id, count(*) AS n_overlap
       |FROM sh s JOIN ev USING (shingle)
       |WHERE s.doc_id >= $EvalDocMax
       |GROUP BY s.doc_id
       |HAVING count(*) >= $ContaminationMinShingles
       |ORDER BY doc_id""".stripMargin

  /** Bloom-prefiltered decontamination — [[dedupDecontaminate]]'s
    * 100 TB form. The exact operator broadcasts the eval shingle SET
    * as raw longs; at web-benchmark scale (10⁸+ eval n-grams) that
    * broadcast is gigabytes of hash table per executor. Here the eval
    * side folds into Spark's own BloomFilterAggregate (the expression
    * AQE's runtime-filter rewrite plans internally — map-side
    * combinable, ~1.2 bytes/item at 1% fpp), shipped to the corpus
    * scan as a SCALAR SUBQUERY — the only broadcast in the plan —
    * where `bloom_might_contain` drops non-member corpus shingles
    * BEFORE any join; the exact SEMI join then runs SHUFFLE-hash on
    * the surviving sliver, eliminating bloom false positives. The
    * result is EXACT — same rows, same oracle as dedup_decontaminate
    * — only the plan changes: broadcast bytes go from O(|eval| · 8B
    * + hash-table overhead) to O(|eval| · 1.2B) bits, and the
    * membership join never broadcasts at all. */
  def dedupDecontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = shingleDf(spark, sfDir)
      .select($"doc_id", shingleHash($"shingle").as("shingle"))
    sh.filter($"doc_id" >= EvalDocMax)
      .createOrReplaceTempView("decon_corpus_sh")
    sh.filter($"doc_id" < EvalDocMax).select($"shingle").distinct()
      .createOrReplaceTempView("decon_eval_sh")
    spark.sql(
      s"""SELECT /*+ SHUFFLE_HASH(e) */ c.doc_id, COUNT(*) AS n_overlap
         |FROM decon_corpus_sh c
         |LEFT SEMI JOIN decon_eval_sh e ON c.shingle = e.shingle
         |WHERE bloom_might_contain(
         |  (SELECT bloom_agg(shingle) FROM decon_eval_sh), c.shingle)
         |GROUP BY c.doc_id
         |HAVING COUNT(*) >= $ContaminationMinShingles
         |ORDER BY c.doc_id""".stripMargin)
  }

  // ------------------------------------------- duplicated-substring spans
  /** EXACT duplicated-substring spans — the ExactSubstr dedup of Lee
    * et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better"), whose single-node form is a suffix array over the
    * concatenated corpus. The distributed re-expression: positional
    * word [[SpanGramK]]-grams; a gram occurring ≥ 2 times anywhere in
    * the corpus is DUPLICATED (the suffix-array "appears elsewhere"
    * predicate at gram granularity); per doc, overlapping-or-adjacent
    * duplicated gram windows merge into maximal token spans
    * (start/end/length + supporting gram count) — the regions
    * ExactSubstr would cut. Resolution is K tokens: any duplicated
    * substring of ≥ K tokens is found in full; shorter repeats are
    * invisible (the paper's k=50-token threshold plays the same
    * role).
    *
    * Scale shape: gram counting is ONE map-side-combinable groupBy on
    * a 60-bit hash (8-byte keys, never the gram text); duplicated
    * positions come from ONE hinted shuffle semi-join (the duplicated
    * gram set is corpus-sized — never broadcast); the island-merge
    * window partitions by doc_id over ONLY duplicated positions, so
    * its state is bounded by one document's length, not the corpus.
    * No all-pairs stage anywhere. The oracle derives the identical
    * spans from first principles on the gram STRINGS (same md5-prefix
    * hash, so even a collision would agree by construction). */
  val SpanGramK = 5

  def dedupSubstringSpans(spark: SparkSession, sfDir: String): DataFrame =
    substringSpansOf(Tables.load(spark, sfDir, "documents"))

  /** The same span detection over ANY (doc_id, text) frame — the form
    * the spec drives with planted fixtures. */
  private[graft] def substringSpansOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val K = SpanGramK
    val grams = Tables.spread(docs)
      .select($"doc_id", split(normText($"text"), " ").as("w"))
      .filter(size($"w") >= K)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, size(w) - $K), " +
          "i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))")))
      .select($"doc_id", $"pos".cast("long").as("pos"),
        shingleHash($"col").as("g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dup = grams.groupBy($"g").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 2).select($"g")
    val dpos = grams.join(dup.hint("shuffle_hash"), Seq("g"), "left_semi")
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val isl = dpos
      .withColumn("prev", lag($"pos", 1).over(byPos))
      .withColumn("newf",
        when($"prev".isNull || $"pos" - $"prev" > K, 1).otherwise(0))
      .withColumn("island", sum($"newf").over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // grams stays persisted: it feeds BOTH the count and the
    // positions side of the semi-join, and the returned plan is lazy —
    // unpersisting here (before the caller's action) would throw the
    // cache away exactly when it is needed. The session-level cache
    // clear between oracle entries reclaims it.
    isl.groupBy($"doc_id", $"island")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + lit(K - 1)).as("span_end"),
        (max($"pos") - min($"pos") + lit(K)).as("span_tokens"),
        count(lit(1)).as("n_dup_grams"))
      .select($"doc_id", $"span_start", $"span_end", $"span_tokens",
        $"n_dup_grams")
      .orderBy($"doc_id", $"span_start")
  }

  val dedupSubstringSpansSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($normTextSql, ' ') AS w FROM documents
       |), pg AS (
       |  SELECT doc_id, unnest(range(1, len(w) - ${SpanGramK - 2})) AS i, w
       |  FROM toks WHERE len(w) >= $SpanGramK
       |), g2 AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    CAST(('0x' || substring(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15)) AS BIGINT) AS g
       |  FROM pg
       |), dup AS (
       |  SELECT g FROM g2 GROUP BY g HAVING COUNT(*) >= 2
       |), dpos AS (
       |  SELECT doc_id, pos FROM g2 WHERE g IN (SELECT g FROM dup)
       |), isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $SpanGramK
       |    THEN 1 ELSE 0 END AS newf
       |  FROM dpos
       |), isl2 AS (
       |  SELECT doc_id, pos,
       |    SUM(newf) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl
       |)
       |SELECT doc_id, MIN(pos) AS span_start,
       |  MAX(pos) + ${SpanGramK - 1} AS span_end,
       |  MAX(pos) - MIN(pos) + $SpanGramK AS span_tokens,
       |  COUNT(*) AS n_dup_grams
       |FROM isl2 GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "dedup_decontaminate_bloom" -> (dedupDecontaminateBloom _),
    "split_leakage_safe" -> (dedupSplitAssign _),
    "dedup_exact" -> (dedupExact _),
    "dedup_passages" -> ((sp, dir) => dedupPassages(sp, dir)),
    "dedup_decontaminate" -> (dedupDecontaminate _),
    "dedup_ngram_jaccard" -> ((sp, dir) => dedupJaccard(sp, dir)),
    "dedup_minhash_sig" -> (dedupMinhashSig _),
    "dedup_minhash_pairs" -> (dedupMinhashPairs _),
    "dedup_minhash_incremental" -> (dedupMinhashIncremental _),
    "dedup_simhash_docs" -> (simhashDocs _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_keep_policy" -> (dedupKeepPolicy _),
    "dedup_containment" -> ((sp, dir) => dedupContainment(sp, dir)))

  val oracles: Map[String, String] = Map(
    "dedup_substring_spans" -> dedupSubstringSpansSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_passages" -> dedupPassagesSql(),
    "dedup_decontaminate" -> dedupDecontaminateSql,
    // bloom variant is EXACT (false positives die in the semi join):
    // identical oracle, only the plan differs
    "dedup_decontaminate_bloom" -> dedupDecontaminateSql,
    "split_leakage_safe" -> dedupSplitAssignSql,
    "dedup_ngram_jaccard" -> dedupJaccardSql(),
    "dedup_minhash_sig" -> dedupMinhashSigSql,
    "dedup_minhash_pairs" -> dedupMinhashPairsSql,
    "dedup_minhash_incremental" -> dedupMinhashIncrementalSql,
    "dedup_simhash_docs" -> simhashDocsSql,
    "dedup_simhash_pairs" -> simhashPairsSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_keep_policy" -> dedupKeepPolicySql,
    "dedup_containment" -> dedupContainmentSql())
}
