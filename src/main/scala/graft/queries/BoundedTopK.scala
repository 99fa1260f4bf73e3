package graft.queries

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k accumulator: at most `k` (score, id) pairs, kept
  * sorted best-first by (score DESC, id ASC). `k` is tiny (the ANN
  * result size), so insertion is a linear shift over a flat pair of
  * primitive arrays — no boxing, no heap churn.
  */
final class TopKBuffer(val k: Int) extends Serializable {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size: Int = 0

  @inline private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def insert(s: Double, id: Long): Unit = {
    if (size == k && !beats(s, id, scores(size - 1), ids(size - 1))) return
    // find insertion point from the back, shifting worse entries down
    var pos = if (size < k) size else k - 1
    while (pos > 0 && beats(s, id, scores(pos - 1), ids(pos - 1))) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
    }
    scores(pos) = s; ids(pos) = id
    if (size < k) size += 1
  }
}

/** `bounded_topk(score, id, k)` — per-group top-k as a native
  * [[TypedImperativeAggregate]], the distributed replacement for a
  * `row_number() OVER (PARTITION BY group ORDER BY score DESC)`
  * top-k when the group count is small and the scored set is
  * corpus-sized: the window shape funnels the ENTIRE input onto
  * #groups tasks, while this aggregate's partial state is a bounded
  * k-array, so map-side combine reduces the shuffle to
  * ≤ #groups × #partitions × k tuples — the TakeOrdered shape,
  * per group. Ties break by id ASC, identical to the window's
  * `ORDER BY score DESC, id`.
  *
  * Returns `array<struct<neighbor_id: long, cosine: double>>`
  * ordered best-first (posexplode yields rank-1 positions).
  */
case class BoundedTopK(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer]
  with BinaryLike[Expression] {

  require(k > 0, s"bounded_topk k must be positive, got $k")

  override def left: Expression = score
  override def right: Expression = id
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedTopK =
    copy(score = newLeft, id = newRight)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bounded_topk expects (score: double, id: long), got " +
        s"(${score.dataType.simpleString}, ${id.dataType.simpleString})")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("neighbor_id", LongType, nullable = false),
      StructField("cosine", DoubleType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var j = 0
    while (j < other.size) { buffer.insert(other.scores(j), other.ids(j)); j += 1 }
    buffer
  }

  override def eval(buffer: TopKBuffer): Any =
    new GenericArrayData((0 until buffer.size).map { j =>
      new GenericInternalRow(Array[Any](buffer.ids(j), buffer.scores(j)))
    }.toArray[Any])

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 + buffer.size * 16)
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.k)
    out.writeInt(buffer.size)
    var j = 0
    while (j < buffer.size) {
      out.writeDouble(buffer.scores(j)); out.writeLong(buffer.ids(j)); j += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TopKBuffer(in.readInt())
    val n = in.readInt()
    var j = 0
    while (j < n) {
      val s = in.readDouble(); val i = in.readLong()
      buf.scores(j) = s; buf.ids(j) = i; j += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "bounded_topk"
}

object BoundedTopK {
  /** Expression builder shared by the per-session registration and
    * [[graft.etl.GraftExtensions]]: `bounded_topk(score, id, k)` with
    * k a foldable integer literal. */
  def builder(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      s"bounded_topk(score, id, k) takes 3 arguments, got ${children.size}")
    // `k` sizes the aggregation buffer at plan time, so it must be a
    // foldable integral literal — anything else would previously
    // surface as an opaque ClassCastException from the cast below.
    val kExpr = children(2)
    val k = (if (kExpr.foldable) Option(kExpr.eval()) else None) match {
      case Some(v: java.lang.Integer) => v.intValue
      case Some(v: java.lang.Long) if v >= 1 && v <= Int.MaxValue => v.intValue
      case Some(v: java.lang.Short) => v.intValue
      case Some(v: java.lang.Byte) => v.intValue
      case _ => throw new IllegalArgumentException(
        s"bounded_topk k must be a foldable integral literal " +
          s"(tinyint/smallint/int/bigint), got ${kExpr.sql}")
    }
    BoundedTopK(children(0), children(1), k)
  }
}
