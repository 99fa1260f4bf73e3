package graft.etl

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, CurrentTimestamp, Expression, ExpressionInfo, Literal, Sha2}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.queries._

/** The engine's one extension path: every session [[graft.Session]]
  * builds carries `spark.sql.extensions=graft.etl.GraftExtensions`, and
  * this class installs all of the engine's native functions, the as-of
  * join planner strategy and the materialized-view rewrite rule. The
  * functions are NATIVE Catalyst expressions — they resolve at analysis
  * time and stay inside whole-stage codegen, unlike a UDF.
  *
  * `f_sha256` (the one warehouse UDF the reference ships,
  * sql/001_ETL_create_f_sha256.sql:4-11) maps to `Sha2(e, 256)`;
  * `getdate` to `CurrentTimestamp`. The Redshift dialect's
  * function-shaped shims ([[DialectShims.functions]]) are installed
  * here too, so building a session runs no SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectPlannerStrategy(_ => new graft.plans.AsofJoinStrategy)
    // no-op until a view is registered (MvRewrite.registerMv)
    ext.injectOptimizerRule(session => new graft.plans.MvRewriteRule(session))
  }
}

object GraftExtensions {

  /** Every native function the extension injects, by SQL name: the
    * Redshift dialect's [[DialectShims.functions]] (a name Spark
    * already has installed as `rs_<name>`), then the engine's own. */
  val functions: Seq[(String, Seq[Expression] => Expression)] =
    DialectShims.functions.map { case (name, builder) =>
      DialectShims.sqlName(name) -> builder
    } ++ Seq(
    "f_sha256" -> (c => Sha2(c.head, Literal(256))),
    "getdate" -> (_ => CurrentTimestamp()),
    "trunc_utf8_bytes" -> (c =>
      TruncateUtf8Bytes(c.head, c(1).eval().asInstanceOf[Number].intValue)),
    "bounded_topk" -> BoundedTopK.builder,
    "dot_f" -> DotF.builder,
    "sq8_quantize" -> Sq8Quantize.builder,
    "dot_i8" -> DotI8.builder,
    "bpe_encode" -> BpeEncode.builder,
    "zorder_key" -> ZorderKey.builder,
    "variant_hashes" -> VariantHashes.builder,
    "min_shared_variant_hash" -> MinSharedVariantHash.builder,
    "bounded_lev" -> BoundedLevExpr.builder,
    "pq_encode" -> Pq.encodeBuilder,
    "pq_table" -> Pq.tableBuilder,
    "pq_adc" -> Pq.adcBuilder,
    // Spark's OWN BloomFilterAggregate / BloomFilterMightContain — the
    // expressions the AQE runtime-filter machinery plans internally
    // (InjectRuntimeFilter), surfaced as functions so operators can
    // build the same sublinear membership prefilter explicitly.
    // bloom_agg(hash[, estimatedItems]) -> binary; bloom_might_contain
    // requires its filter arg be a literal or scalar subquery (the
    // expression's own type check), which is exactly the shipped shape.
    "bloom_agg" -> {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, n) => new BloomFilterAggregate(c, n)
      case other => throw new IllegalArgumentException(
        s"bloom_agg(hash[, estimatedItems]) takes 1-2 args, got ${other.size}")
    },
    "bloom_might_contain" -> {
      case Seq(bf, v) => BloomFilterMightContain(bf, v)
      case other => throw new IllegalArgumentException(
        s"bloom_might_contain(filter, hash) takes 2 args, got ${other.size}")
    })
}
