package graft.queries

/** Corpus-dependent tunables for the dedup/ANN operator set, threaded
  * through the operators AND their DuckDB oracle generators so both
  * engines always compute from the same values — tune for a real
  * corpus without editing operator code. The defaults are the
  * constants the registered `SparkEntry.queries`/`oracleSql` surface
  * is verified with.
  *
  *  - `maxShingleDf`: inverted-index skew guard — shingles seen in
  *    more documents are dropped before the candidate join, capping
  *    per-shingle fan-out at df² pairs.
  *  - `jaccardThreshold`: n-gram near-dup pair cutoff.
  *  - `containmentThreshold`: asymmetric |A∩B|/|A| cutoff.
  *  - `targetBucketSize`: LSH bucket-count policy — planes = smallest
  *    p with 2^p ≥ n / target, so bucket population tracks the corpus.
  *  - `nearDupThreshold`: embedding-cosine near-dup cutoff (the test
  *    corpus has no planted dups, hence the tail-exercising default;
  *    a production corpus would use ~0.95).
  *  - `chunkWords`: passage-dedup chunk width (words per positional
  *    chunk; a production corpus splitting on real paragraph
  *    boundaries sets this aside entirely).
  *  - `maxSelfVariantDf`: FastSS deletion-neighborhood skew guard for
  *    the self-join paths (`pairsWithin1/2`) — a variant bucket holding
  *    more strings than this skips the candidate equi-join and is
  *    handled by the exact within-bucket grouped pairwise tier instead.
  *    Unlike `maxShingleDf` this changes COST, never the answer: both
  *    tiers are exact. It sits high because the canonical-bucket
  *    exactly-once emission rule means the light join's df² fan-out
  *    streams through one whole-stage-codegen span and never hits a
  *    shuffle — the boundary is purely a per-task CPU bound, so it
  *    sits at `variantChunk` (a df-1024 bucket is ~0.5M bounded-
  *    levenshtein calls ≈ 0.1 CPU-s in one task).
  *  - `variantChunk`: per-task member bound for that within-bucket
  *    tier — buckets larger than this are triangle-partitioned into
  *    chunk-pair tasks so no single task owns a mega-bucket's
  *    pairwise work.
  */
final case class Tuning(
    maxShingleDf: Int = 100,
    jaccardThreshold: Double = 0.8,
    containmentThreshold: Double = 0.9,
    targetBucketSize: Int = 16,
    nearDupThreshold: Double = 0.45,
    chunkWords: Int = 10,
    maxSelfVariantDf: Int = 1024,
    variantChunk: Int = 1024)

object Tuning {
  val default: Tuning = Tuning()
}
