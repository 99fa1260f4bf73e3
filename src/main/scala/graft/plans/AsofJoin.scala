package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Native AS-OF JOIN — the whole-operator custom-plan rung of the
  * extension ladder (logical node → strategy → physical exec), for
  * the temporal-enrichment shape q19 expresses by composition (union
  * + running-last window): for every left row, attach the LATEST
  * right row with the same key(s) and `rightTime <= leftTime`, or
  * nulls (LEFT semantics).
  *
  * Why a custom operator instead of the union-window: the window
  * form materializes clicks+purchases into ONE sorted partition
  * stream and carries the running-last across every row; the native
  * exec keeps the sides separate, asks Catalyst for co-partitioning
  * on the keys and per-side (keys, time) sort — the SAME exchanges a
  * sort-merge equi-join would plan — and then streams BOTH sorted
  * iterators through a two-pointer merge with O(1) state (the last
  * matching right row). No composite union row, no null-padding
  * columns, no window buffer: at 100 TB this is one shuffle per side
  * (AQE-sizable) and a memory-constant merge per partition.
  *
  * Tie-break: the right side is additionally sorted by `rightId`, so
  * among equal timestamps the LARGEST id wins deterministically
  * (DuckDB's ASOF picks an arbitrary row among exact ties — the
  * test corpus has unique (key, ts) on the right, where both agree;
  * the explicit id ordering makes OUR answer stable even when the
  * corpus does not).
  *
  * Null keys never match (SQL equality semantics): a left row with
  * any null key field emits null-padded, right rows with null key
  * fields are skipped by the merge. Null TIMES follow the same SQL
  * three-valued logic (`rightTime <= leftTime` is NULL, not true):
  * a left row with null time emits null-padded, right rows with a
  * null time are skipped — both sort first under the Ascending
  * NULLS FIRST child ordering, so the merge handles them before any
  * comparable row of the same key.
  *
  * Skew caveat (100 TB honesty): AQE's skew-join splitting applies
  * only to the built-in SMJ/SHJ nodes, so a single hot key here
  * lands on one partition. Replication-based salting cannot be
  * applied mechanically (the per-key running-last state does not
  * commute across salt shards); the mitigation is
  * [[AsofJoin.asofBucketed]] — time-bucketed split with boundary
  * carry-over, which joins with the bucket as an extra key through
  * THIS same exec and reproduces its answer exactly.
  */
final case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightId: Attribute) extends BinaryNode {

  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    s"asof join needs matching key lists, got $leftKeys vs $rightKeys")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: the node has exactly one physical strategy. */
class AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lks, rks, lt, rt, rid) =>
      AsofJoinExec(planLater(l), planLater(r), lks, rks, lt, rt, rid) :: Nil
    case _ => Nil
  }
}

final case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightId: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  /** Co-partition both sides on the keys — exactly a sort-merge
    * join's requirement; EnsureRequirements inserts the hash
    * exchanges (and reuses existing compatible partitioning). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) ::
      ClusteredDistribution(rightKeys) :: Nil

  /** Per-partition sort: (keys, time) on the left; (keys, time, id)
    * on the right so equal-timestamp ties resolve to the largest id
    * (the merge keeps the LAST qualifying row). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      Seq(SortOrder(rightTime, Ascending), SortOrder(rightId, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lks = leftKeys; val rks = rightKeys
    val lt = leftTime; val rt = rightTime
    val outputRowsM = longMetric("numOutputRows")
    val matchedM = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      // projections/orderings are codegen'd objects — build per task
      val lKeyP = UnsafeProjection.create(lks.map(_.asInstanceOf[Expression]), leftOut)
      val rKeyP = UnsafeProjection.create(rks.map(_.asInstanceOf[Expression]), rightOut)
      val lTsP = UnsafeProjection.create(Seq(lt: Expression), leftOut)
      val rTsP = UnsafeProjection.create(Seq(rt: Expression), rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lks.map(_.dataType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      val nullRight = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      // emit UnsafeRows: downstream operators (sorts, exchanges,
      // collect) assume the unsafe format — a raw JoinedRow would
      // ClassCastException wherever no Project intervenes (the same
      // reason SortMergeJoinExec applies a result projection)
      val outProj = UnsafeProjection.create(
        (leftOut ++ rightOut).map(_.dataType).toArray)

      new Iterator[InternalRow] {
        private var rCur: InternalRow = _
        private def advanceRight(): Unit =
          rCur = if (rIt.hasNext) rIt.next() else null
        advanceRight()
        // last right row (copied) matching the CURRENT left key, and
        // that key (copied) — O(1) merge state
        private var lastMatch: InternalRow = _
        private var lastMatchKey: InternalRow = _

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val lRow = lIt.next()
          val lKeyRow = lKeyP(lRow)
          outputRowsM += 1
          if (lKeyRow.anyNull) {
            // null key matches nothing; left order puts nulls first,
            // so no right state needs resetting
            return outProj(joined(lRow, nullRight))
          }
          val lTsRow = lTsP(lRow).copy()
          if (lTsRow.isNullAt(0)) {
            // rightTime <= NULL is NULL under SQL semantics — never a
            // match; null times sort first within the key group, so
            // no right rows were absorbed for this key yet
            return outProj(joined(lRow, nullRight))
          }
          if (lastMatch != null && keyOrd.compare(lastMatchKey, lKeyRow) != 0)
            lastMatch = null
          // skip right rows below the current key (null right key
          // fields sort first and compare < any non-null key), and
          // equal-key rows with a null time (NULL <= t is never true)
          while (rCur != null && {
            val rKeyRow = rKeyP(rCur)
            rKeyRow.anyNull || {
              val c = keyOrd.compare(rKeyRow, lKeyRow)
              c < 0 || (c == 0 && rTsP(rCur).isNullAt(0))
            }
          }) advanceRight()
          // absorb equal-key rows up to the left timestamp; the last
          // absorbed (largest ts, then largest id) is the match
          while (rCur != null && keyOrd.compare(rKeyP(rCur), lKeyRow) == 0 &&
              tsOrd.compare(rTsP(rCur), lTsRow) <= 0) {
            lastMatch = rCur.copy()
            if (lastMatchKey == null ||
                keyOrd.compare(lastMatchKey, lKeyRow) != 0)
              lastMatchKey = lKeyRow.copy()
            advanceRight()
          }
          if (lastMatch != null) matchedM += 1
          outProj(joined(lRow, if (lastMatch != null) lastMatch else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {

  private def resolve(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' not found among ${plan.output.map(_.name).mkString(", ")}"))

  /** AS-OF LEFT JOIN: every `left` row joined to the latest `right`
    * row with equal keys and `right.time <= left.time`, null-padded
    * when none exists. `rightId` breaks exact-timestamp ties (largest
    * wins). Column names must be disjoint across the two sides
    * (rename before joining, as with any join). */
  def asof(left: DataFrame, right: DataFrame,
           leftKeys: Seq[String], rightKeys: Seq[String],
           leftTime: String, rightTime: String,
           rightId: String): DataFrame = {
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    val dup = lp.output.map(_.name.toLowerCase)
      .intersect(rp.output.map(_.name.toLowerCase))
    require(dup.isEmpty,
      s"asof: column names must be disjoint, both sides have: ${dup.mkString(", ")}")
    val lks = leftKeys.map(resolve(lp, _))
    val rks = rightKeys.map(resolve(rp, _))
    val lt = resolve(lp, leftTime)
    val rt = resolve(rp, rightTime)
    // the merge's orderings are built from the LEFT side's types and
    // applied to right-side rows — a type mismatch would surface as a
    // deep ClassCastException (or silently wrong comparisons), so
    // fail fast here instead
    lks.zip(rks).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"asof: key type mismatch: ${l.name}: ${l.dataType.sql} vs " +
          s"${r.name}: ${r.dataType.sql} — cast one side before joining")
    }
    require(lt.dataType == rt.dataType,
      s"asof: time type mismatch: ${lt.name}: ${lt.dataType.sql} vs " +
        s"${rt.name}: ${rt.dataType.sql} — cast one side before joining")
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      AsofJoinNode(lp, rp, lks, rks, lt, rt, resolve(rp, rightId)))
  }

  /** Single-key convenience overload. */
  def asof(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTime: String, rightTime: String,
           rightId: String): DataFrame =
    asof(left, right, Seq(leftKey), Seq(rightKey), leftTime, rightTime, rightId)

  /** Skew-resistant AS-OF JOIN — the hot-key mitigation the plain
    * operator documents but cannot apply mechanically (per-key
    * running-last state does not commute across salt shards): split
    * time into fixed-width buckets and join WITH THE BUCKET AS AN
    * EXTRA KEY, so one hot key's rows spread over its time buckets
    * instead of landing on a single partition.
    *
    * Correctness needs boundary carry-over: a left row's match may
    * live in an EARLIER bucket. Per (key, bucket) the right side is
    * summarized to its last row (max (time, id) — the same tie-break
    * as the merge), and a per-key window over BUCKET-granularity rows
    * (one marker per left bucket, one summary per right bucket —
    * thousands of rows for even the hottest key, not millions)
    * assigns each left bucket the latest summary from any STRICTLY
    * EARLIER bucket. That carry row is injected into the bucket's
    * right side; buckets partition time, so the carry's timestamp is
    * below every left timestamp in the bucket and qualifies for all
    * of them, while in-bucket rows win whenever they qualify — the
    * merge's last-qualifying rule then reproduces the unbucketed
    * answer exactly.
    *
    * Scale shape: the hot key's raw rows shuffle to |buckets|
    * partitions (pick `bucketWidth` so one bucket of the hottest key
    * fits a task); only the bucket-summary window — O(|key × bucket|)
    * rows — still hash-partitions on the bare key. Extra cost over
    * the plain operator: one groupBy of the right side and one small
    * window, both map-side-combinable.
    *
    * `bucketWidth` is in MICROSECONDS for timestamp time columns and
    * in the column's own units for integral ones. Null keys/times
    * behave exactly as in [[asof]] (null bucket ⇒ null key field). */
  def asofBucketed(left: DataFrame, right: DataFrame,
                   leftKeys: Seq[String], rightKeys: Seq[String],
                   leftTime: String, rightTime: String,
                   rightId: String, bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{left => _, right => _, _}
    import org.apache.spark.sql.types._
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val lb = "__asof_lbkt"; val rb = "__asof_rbkt"
    def bucketCol(df: DataFrame, time: String): Column = {
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(time)).getOrElse(
        throw new IllegalArgumentException(s"column '$time' not found"))
      val c = df.col(f.name)
      val raw = f.dataType match {
        case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
        case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
        case other => throw new IllegalArgumentException(
          s"asofBucketed: time column '$time' must be timestamp or integral, got ${other.sql}")
      }
      // floor division: (x - pmod(x, W)) is an exact multiple of W, so
      // the double round-trip of `/` is exact (values < 2^53)
      ((raw - pmod(raw, lit(bucketWidth))) / bucketWidth).cast(LongType)
    }
    val lbk = left.withColumn(lb, bucketCol(left, leftTime))
    val rbk = right.withColumn(rb, bucketCol(right, rightTime))
    val rightCols = right.columns.toSeq
    // one summary row per (key, bucket): the last right row by the
    // merge's own (time, id) order
    val summaries = rbk
      .filter((rightKeys :+ rb).map(k => col(k).isNotNull).reduce(_ && _))
      .groupBy((rightKeys :+ rb).map(col): _*)
      .agg(max_by(struct(rightCols.map(col): _*),
        struct(col(rightTime), col(rightId))).as("__asof_row"))
    // one marker row per (key, bucket) the left side touches
    val markers = lbk
      .filter((leftKeys :+ lb).map(k => col(k).isNotNull).reduce(_ && _))
      .select((leftKeys :+ lb).map(col): _*).distinct()
    val rowType = summaries.schema("__asof_row").dataType
    val sumAligned = summaries.select(
      rightKeys.zip(leftKeys).map { case (r, l) => col(r).as(l) } ++
        Seq(col(rb).as(lb), lit(1).as("__asof_kind"), col("__asof_row")): _*)
    val markAligned = markers.select(
      leftKeys.map(col) ++ Seq(col(lb), lit(0).as("__asof_kind"),
        lit(null).cast(rowType).as("__asof_row")): _*)
    // ordered (bucket, kind) with markers BEFORE same-bucket summaries
    // and a frame ending 1 row back, the running last non-null summary
    // at a marker is the latest one from a STRICTLY earlier bucket
    val w = Window.partitionBy(leftKeys.map(col): _*)
      .orderBy(col(lb), col("__asof_kind"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = markAligned.unionByName(sumAligned)
      .withColumn("__asof_carry", last(col("__asof_row"), ignoreNulls = true).over(w))
      .filter(col("__asof_kind") === 0 && col("__asof_carry").isNotNull)
      .select(col("__asof_carry.*") +: Seq(col(lb).as(rb)): _*)
    val rightAug = rbk.select((rightCols :+ rb).map(col): _*)
      .unionByName(carries)
    asof(lbk, rightAug, leftKeys :+ lb, rightKeys :+ rb,
        leftTime, rightTime, rightId)
      .drop(lb, rb)
  }

  /** Single-key convenience overload of [[asofBucketed]]. */
  def asofBucketed(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   rightId: String, bucketWidth: Long): DataFrame =
    asofBucketed(left, right, Seq(leftKey), Seq(rightKey),
      leftTime, rightTime, rightId, bucketWidth)
}
