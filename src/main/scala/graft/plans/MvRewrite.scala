package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** Automatic materialized-view query rewrite — the optimization
  * Redshift performs for eligible queries over tables with
  * materialized views ("automatic query rewriting",
  * /root/reference/python/etl/design/bootstrap.py materializes CTAS
  * relations but leaves rewrite to Redshift itself): an aggregate
  * over a BASE table is transparently answered from a much smaller
  * maintained ROLLUP table whenever the rollup covers the query.
  *
  * Spark-first shape: a `Rule[LogicalPlan]` injected by
  * [[graft.etl.GraftExtensions]]. The MV
  * stores the standard re-aggregable PARTIALS per group — `cnt`
  * (row count) plus `sum_c`/`cnt_c`/`min_c`/`max_c` per covered
  * column — so ANY sub-grouping of the MV's keys re-aggregates:
  *
  *   SUM(x)    → SUM(mv.sum_x)            COUNT(*) → SUM(mv.cnt)
  *   COUNT(x)  → SUM(mv.cnt_x)            MIN(x)   → MIN(mv.min_x)
  *   AVG(x)    → SUM(sum_x)/SUM(cnt_x)    MAX(x)   → MAX(mv.max_x)
  *
  * A WHERE clause referencing only MV group columns is rebased onto
  * the MV scan. DISTINCT aggregates, FILTER clauses, non-column agg
  * arguments, group expressions that are not plain columns, or any
  * agg the partials cannot answer ⇒ the query is left untouched.
  *
  * Staleness discipline: a def registers with the base's version
  * stamp and a live probe; the rule rewrites ONLY while the two
  * agree, so a rebuilt/appended base silently turns rewriting off
  * until the MV is refreshed (Redshift does the same: stale MVs
  * disqualify themselves from rewrite until REFRESH).
  *
  * At 100 TB this is the difference between a full-corpus shuffle
  * and a scan of a few thousand rollup rows; the rewritten plan
  * re-aggregates the MV, so it stays correct for any GROUP BY subset
  * of the MV keys.
  */
object MvRewrite {

  /** One registered materialized view over one base table.
    *
    * Freshness is granular when the base is hive-partitioned:
    * `partCol`/`partVersions` carry a per-partition-directory stamp
    * captured at (re)build. A base mutation moves the WHOLE-table
    * `version` (disarming unconditionally-scoped rewrites), but a
    * query whose filter pins `partCol` to values whose partition
    * stamps are unchanged still rewrites — a partition-scoped
    * backfill of day A must not disarm the MV for day-B queries. */
  final case class MvDef(
      name: String,
      groupCols: Seq[String],
      aggCols: Seq[String],
      mvRelation: LogicalRelation,
      basePaths: Set[String],
      baseCatalogId: Option[String],
      version: String,
      currentVersion: () => String,
      partCol: Option[String] = None,
      partVersions: Map[String, String] = Map.empty,
      currentPartVersions: () => Map[String, String] = () => Map.empty) {

    def matches(rel: LogicalRelation): Boolean = {
      val byCatalog = for {
        want <- baseCatalogId
        have <- rel.catalogTable.map(_.identifier.unquotedString)
      } yield want == have
      byCatalog.getOrElse(pathsOf(rel).exists(_ == basePaths))
    }

    def fresh: Boolean = currentVersion() == version

    /** Partition-scoped freshness: every pinned value's partition
      * stamp unchanged, and no stray root-level files appeared (the
      * "" entry). Absent/new partitions for a pinned value count as
      * changed — the MV's rollup rows for them are wrong either way. */
    def freshForValues(values: Seq[String],
                       current: Map[String, String]): Boolean =
      partCol.nonEmpty && partVersions.nonEmpty &&
        current.get("") == partVersions.get("") &&
        values.forall { v =>
          val spec = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.getPartitionPathString(partCol.get, v)
          partVersions.get(spec).exists(current.get(spec).contains)
        }
  }

  private def pathsOf(rel: LogicalRelation): Option[Set[String]] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        Some(fs.location.rootPaths.map(_.toString).toSet)
      case _ => None
    }

  // Session-scoped registries; weak keys so a stopped session frees
  // its defs. Guarded by `registries` for the rare mutation.
  private val registries =
    new java.util.WeakHashMap[SparkSession, mutable.Buffer[MvDef]]

  private[plans] def defsFor(spark: SparkSession): Seq[MvDef] =
    registries.synchronized {
      Option(registries.get(spark)).map(_.toSeq).getOrElse(Nil)
    }

  def clear(spark: SparkSession): Unit =
    registries.synchronized { registries.remove(spark); () }

  /** Drop one view from the session registry. Queries whose
    * QueryExecution already materialized its optimized plan keep
    * their rewrite (the plan is memoized); new plans see the base. */
  def unregister(spark: SparkSession, name: String): Unit =
    registries.synchronized {
      Option(registries.get(spark)).foreach { buf =>
        buf.indexWhere(_.name == name) match {
          case -1 => ()
          case i  => buf.remove(i); ()
        }
      }
    }

  /** The partial-aggregate rollup for (groupCols, aggCols) — what the
    * MV table stores. Decimal sums keep Spark's widened sum type so
    * the re-aggregation stays exact. */
  def partials(base: DataFrame, groupCols: Seq[String],
               aggCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("cnt") +: aggCols.flatMap(c => Seq(
      sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"cnt_$c"),
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Register `mv` (a readable scan of the stored partials table) as
    * the materialized view of `base` for (groupCols, aggCols).
    * `version`/`currentVersion` carry the freshness contract — pass
    * the base table's version stamp (e.g.
    * [[graft.etl.Warehouse.tableVersion]]) or a constant for
    * immutable path inputs. Re-registering the same name replaces
    * the old def (the refresh path). */
  def registerMv(spark: SparkSession, name: String, base: DataFrame,
                 mv: DataFrame, groupCols: Seq[String], aggCols: Seq[String],
                 version: String = "static",
                 currentVersion: () => String = () => "static",
                 partCol: Option[String] = None,
                 partVersions: Map[String, String] = Map.empty,
                 currentPartVersions: () => Map[String, String] =
                   () => Map.empty): Unit = {
    val baseRel = base.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l
    }.getOrElse(throw new IllegalArgumentException(
      s"mv '$name': base must be a plain file/catalog scan"))
    val mvRel = mv.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l
    }.getOrElse(throw new IllegalArgumentException(
      s"mv '$name': the MV side must be a plain file/catalog scan"))
    val mvCols = mvRel.output.map(_.name).toSet
    val needed = "cnt" +: (groupCols ++ aggCols.flatMap(c =>
      Seq(s"sum_$c", s"cnt_$c", s"min_$c", s"max_$c")))
    val missing = needed.filterNot(mvCols)
    require(missing.isEmpty,
      s"mv '$name': stored table lacks partial columns ${missing.mkString(", ")}")
    val d = MvDef(name, groupCols, aggCols, mvRel,
      pathsOf(baseRel).getOrElse(Set.empty),
      baseRel.catalogTable.map(_.identifier.unquotedString),
      version, currentVersion, partCol, partVersions, currentPartVersions)
    registries.synchronized {
      val buf = Option(registries.get(spark)).getOrElse {
        val b = mutable.Buffer.empty[MvDef]
        registries.put(spark, b)
        b
      }
      buf.indexWhere(_.name == name) match {
        case -1 => buf += d
        case i  => buf(i) = d
      }
    }
  }
}

/** The rewrite itself. Runs in the user-optimizer batch (fixpoint,
  * but the rewrite is idempotent — an MV scan never matches a base
  * def again). */
final class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import MvRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val defs = MvRewrite.defsFor(spark)
    if (defs.isEmpty) plan
    else {
      // the freshness probes are filesystem LISTINGs — memoize them
      // per rule application so a plan with many aggregates (and the
      // optimizer's fixpoint re-runs) doesn't put repeated remote
      // LIST calls on the planning path; && order keeps the probe
      // behind the structural match
      val freshMemo = scala.collection.mutable.Map.empty[String, Boolean]
      def freshOf(d: MvDef): Boolean =
        freshMemo.getOrElseUpdate(d.name, d.fresh)
      val partsMemo =
        scala.collection.mutable.Map.empty[String, Map[String, String]]
      def partsOf(d: MvDef): Map[String, String] =
        partsMemo.getOrElseUpdate(d.name, d.currentPartVersions())
      plan.transformUp {
        case agg @ Aggregate(_, _, _, _) =>
          tryRewrite(agg, defs, freshOf, partsOf).getOrElse(agg)
      }
    }
  }

  /** Peel pruning Projects and Filters down to the relation; collect
    * filter conditions. Bails on computed projections. */
  private def strip(plan: LogicalPlan,
                    conds: Seq[Expression] = Nil)
      : Option[(LogicalRelation, Seq[Expression])] = plan match {
    case rel: LogicalRelation => Some((rel, conds))
    case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
      strip(child, conds)
    case Filter(cond, child) => strip(child, conds :+ cond)
    case _ => None
  }

  /** Values the conjuncts pin `col` to (via `=` or IN over
    * literals) — the query provably touches only those partitions.
    * None when no conjunct pins the column. String/integral/boolean
    * literals participate via `String.valueOf` (equal to the hive
    * directory spelling); DATE literals carry epoch DAYS internally
    * and are rendered `yyyy-MM-dd`, which is exactly how the dynamic
    * partition writer names date directories — the
    * `WHERE day = DATE'2024-01-01'` shape on a date-partitioned fact
    * is the primary case this path exists for. Timestamp literals
    * (µs rep, zone-sensitive rendering) conservatively disqualify. */
  private def litStr(l: Literal): Option[String] = l match {
    case Literal(null, _) => None
    case Literal(v, t) => t match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.BooleanType => Some(String.valueOf(v))
      case org.apache.spark.sql.types.DateType =>
        Some(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Int].toLong).toString)
      case _ => None
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def pinnedValues(conds: Seq[Expression],
                           col: String): Option[Seq[String]] = {
    conds.flatMap(conjuncts).collectFirst {
      case EqualTo(a: AttributeReference, l: Literal)
          if a.name == col && litStr(l).isDefined => Seq(litStr(l).get)
      case EqualTo(l: Literal, a: AttributeReference)
          if a.name == col && litStr(l).isDefined => Seq(litStr(l).get)
      case In(a: AttributeReference, list) if a.name == col &&
          list.nonEmpty && list.forall {
            case l: Literal => litStr(l).isDefined
            case _ => false
          } =>
        list.map { case l: Literal => litStr(l).get }
    }
  }

  /** Range pinning over the partition column — `pc >= lo AND pc < hi`
    * (BETWEEN desugars to the same conjuncts) previously fell back to
    * the base scan even when every partition in the range was fresh.
    * Bounds come from comparison conjuncts; the candidate partitions
    * are the UNION of the live listing's and the MV's recorded specs
    * whose values fall in range (both directions, so a partition
    * DROPPED from the base since the MV built still fails the check),
    * and per-value freshness is then exactly [[MvDef.freshForValues]].
    * Comparisons: strings and dates by their directory rendering (ISO
    * dates sort chronologically), integrals numerically; any other
    * bound type disqualifies. Extra unsupported conjuncts only narrow
    * the query further, so checking the bound-derived SUPERSET of
    * touched partitions stays conservative. */
  private def rangeFresh(d: MvDef, pc: String, conds: Seq[Expression],
                         current: Map[String, String]): Boolean = {
    // (literal, isLower, inclusive)
    val bounds = conds.flatMap(conjuncts).collect {
      case GreaterThan(a: AttributeReference, l: Literal) if a.name == pc =>
        (l, true, false)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if a.name == pc =>
        (l, true, true)
      case LessThan(a: AttributeReference, l: Literal) if a.name == pc =>
        (l, false, false)
      case LessThanOrEqual(a: AttributeReference, l: Literal) if a.name == pc =>
        (l, false, true)
      case GreaterThan(l: Literal, a: AttributeReference) if a.name == pc =>
        (l, false, false)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) if a.name == pc =>
        (l, false, true)
      case LessThan(l: Literal, a: AttributeReference) if a.name == pc =>
        (l, true, false)
      case LessThanOrEqual(l: Literal, a: AttributeReference) if a.name == pc =>
        (l, true, true)
    }
    if (bounds.isEmpty) return false
    def cmp(t: org.apache.spark.sql.types.DataType,
            a: String, b: String): Option[Int] = t match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.DateType =>
        // UTF8String, NOT String.compareTo: the query's own predicate
        // evaluates under UTF8_BINARY (UTF-8 byte order), and UTF-16
        // code-unit order disagrees for supplementary-plane values vs
        // U+E000..U+FFFF bounds — a stale partition the query touches
        // could be judged out of range and the MV would serve stale
        // aggregates. ISO dates are ASCII, where the orders coincide.
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType =>
        try Some(java.lang.Long.compare(a.toLong, b.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }
    val rendered = bounds.map { case (l, isLower, incl) =>
      (litStr(l), l.dataType, isLower, incl)
    }
    if (rendered.exists(_._1.isEmpty)) return false
    val prefix = pc + "="
    val candidates = (current.keySet ++ d.partVersions.keySet - "")
      .filter(_.startsWith(prefix))
      .map(s => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(s.substring(prefix.length)))
    // any un-comparable candidate value disqualifies the whole range
    // path (None), never silently drops the partition
    val judged = candidates.toSeq.map { v =>
      val per = rendered.map { case (bOpt, t, isLower, incl) =>
        cmp(t, v, bOpt.get).map(c =>
          if (isLower) c > 0 || (incl && c == 0)
          else c < 0 || (incl && c == 0))
      }
      if (per.exists(_.isEmpty)) None else Some(v -> per.forall(_.get))
    }
    judged.forall(_.isDefined) &&
      d.freshForValues(judged.flatten.filter(_._2).map(_._1), current)
  }

  private def tryRewrite(agg: Aggregate, defs: Seq[MvDef],
                         freshOf: MvDef => Boolean,
                         partsOf: MvDef => Map[String, String])
      : Option[LogicalPlan] = {
    def freshEnough(d: MvDef, conds: Seq[Expression]): Boolean =
      freshOf(d) || d.partCol.exists(pc =>
        pinnedValues(conds, pc).exists(vs => d.freshForValues(vs, partsOf(d))) ||
          rangeFresh(d, pc, conds, partsOf(d)))
    for {
      (rel, conds) <- strip(agg.child)
      d <- defs.find(d => d.matches(rel) && freshEnough(d, conds))
      out <- rewrite(agg, rel, conds, d)
    } yield out
  }

  private def rewrite(agg: Aggregate, rel: LogicalRelation,
                      conds: Seq[Expression], d: MvDef): Option[LogicalPlan] = {
    // Fresh MV attribute instance per rewrite site (a self-join of
    // the base must not share exprIds between its two MV scans).
    val mvRel = d.mvRelation.newInstance()
    val mvAttr: Map[String, AttributeReference] =
      mvRel.output.map(a => a.name -> a).toMap
    val groupSet = d.groupCols.toSet

    // Group expressions: plain base columns, all covered by the MV.
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference if groupSet(a.name) => a.name
      case _ => return None
    }
    // Filters may reference MV group columns only.
    if (!conds.forall(_.references.forall(r => groupSet(r.name)))) return None

    def partial(prefix: String, c: String): Option[AttributeReference] =
      mvAttr.get(s"${prefix}_$c")

    def keepType(e: Expression, want: org.apache.spark.sql.types.DataType) =
      if (e.dataType == want) e else Cast(e, want)

    def aggExpr(fn: AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false, None, NamedExpression.newExprId)

    val rewritten: Seq[NamedExpression] = agg.aggregateExpressions.map {
      // grouping column passed through (bare or aliased)
      case a: AttributeReference if groupSet(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, name) if groupSet(a.name) =>
        Alias(mvAttr(a.name), name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
        val rewrittenAgg: Expression = fn match {
          case Count(Seq(Literal(_, _))) =>
            // COUNT(*)/COUNT(1): never null — coalesce the sum
            Coalesce(Seq(
              keepType(aggExpr(Sum(mvAttr("cnt"))), al.dataType),
              Literal(0L)))
          case Count(Seq(a: AttributeReference)) =>
            partial("cnt", a.name) match {
              case Some(p) => Coalesce(Seq(
                keepType(aggExpr(Sum(p)), al.dataType), Literal(0L)))
              case None => return None
            }
          case Sum(a: AttributeReference, _) =>
            partial("sum", a.name) match {
              case Some(p) => keepType(aggExpr(Sum(p)), al.dataType)
              case None => return None
            }
          case Min(a: AttributeReference) =>
            partial("min", a.name) match {
              case Some(p) => aggExpr(Min(p))
              case None => return None
            }
          case Max(a: AttributeReference) =>
            partial("max", a.name) match {
              case Some(p) => aggExpr(Max(p))
              case None => return None
            }
          case Average(a: AttributeReference, _)
              if !a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
            (partial("sum", a.name), partial("cnt", a.name)) match {
              case (Some(s), Some(c)) =>
                keepType(Divide(
                  Cast(aggExpr(Sum(s)), org.apache.spark.sql.types.DoubleType),
                  Cast(aggExpr(Sum(c)), org.apache.spark.sql.types.DoubleType)),
                  al.dataType)
              case _ => return None
            }
          case _ => return None
        }
        Alias(rewrittenAgg, name)(exprId = al.exprId)
      case _ => return None
    }

    val rebased = conds.map(_.transform {
      case a: AttributeReference => mvAttr(a.name)
    })
    val child: LogicalPlan =
      rebased.foldLeft(mvRel: LogicalPlan)((p, c) => Filter(c, p))
    logInfo(s"mv rewrite: aggregate over base answered by MV '${d.name}'")
    Some(Aggregate(groupNames.map(mvAttr(_)), rewritten, child))
  }
}
