package graft.queries

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product quantization for the ANN family — the 100 TB memory story
  * one step past SQ8: a d-dim float vector (256 bytes at d=64)
  * becomes `m` sub-space code indices (m bytes; 32x smaller), scored
  * against a query by asymmetric distance computation (ADC) — one
  * table lookup + add per sub-space instead of d multiplies.
  *
  * The codebook is one flat double array, j-major: entry
  * `cb[(j*ksub + k)*dsub + i]` is component `i` of codeword `k` of
  * sub-space `j` (`d = m*dsub`, `ksub` codewords per sub-space).
  * Vectors are NORMALIZED before encoding (cosine = dot of unit
  * vectors), so ADC approximates cosine directly and no per-vector
  * scale needs storing. The codebook and `m` ride the expressions as
  * PLAIN FIELDS extracted from literals at function-build time (the
  * BoundedTopK literal-argument pattern), so the generated code
  * references one shared array — nothing is parsed per row.
  */
object Pq {

  /** Unit-normalize into a double buffer (zero vector stays zero). */
  private def unit(v: ArrayData, isFloat: Boolean): Array[Double] = {
    val d = v.numElements()
    val u = new Array[Double](d)
    var s = 0.0
    var i = 0
    while (i < d) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      u(i) = x
      s += x * x
      i += 1
    }
    if (s > 0.0) {
      val n = math.sqrt(s)
      i = 0
      while (i < d) { u(i) /= n; i += 1 }
    }
    u
  }

  /** Encode: per sub-space, the L2-nearest codeword of the normalized
    * sub-vector (ties -> lowest code). Returns m bytes. */
  def encode(v: ArrayData, isFloat: Boolean, cb: Array[Double],
             m: Int): Array[Byte] = {
    val d = v.numElements()
    val dsub = d / m
    val ksub = cb.length / (m * dsub)
    val u = unit(v, isFloat)
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestDist = Double.MaxValue
      var k = 0
      while (k < ksub) {
        val base = (j * ksub + k) * dsub
        var dist = 0.0
        var i = 0
        while (i < dsub) {
          val diff = u(j * dsub + i) - cb(base + i)
          dist += diff * diff
          i += 1
        }
        if (dist < bestDist) { bestDist = dist; best = k }
        k += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /** Query-side ADC table: `t[j*ksub + k] = dot(u_q[j], cb[j][k])` —
    * m*ksub doubles per query, built once and carried on the
    * (broadcast) probe table. */
  def table(q: ArrayData, isFloat: Boolean, cb: Array[Double],
            m: Int): ArrayData = {
    val d = q.numElements()
    val dsub = d / m
    val ksub = cb.length / (m * dsub)
    val u = unit(q, isFloat)
    val t = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var k = 0
      while (k < ksub) {
        val base = (j * ksub + k) * dsub
        var dot = 0.0
        var i = 0
        while (i < dsub) { dot += u(j * dsub + i) * cb(base + i); i += 1 }
        t(j * ksub + k) = dot
        k += 1
      }
      j += 1
    }
    new GenericArrayData(t)
  }

  /** ADC score: one lookup + add per sub-space. */
  def adc(t: ArrayData, codes: Array[Byte]): Double = {
    val m = codes.length
    val ksub = t.numElements() / m
    var s = 0.0
    var j = 0
    while (j < m) {
      s += t.getDouble(j * ksub + (codes(j) & 0xff))
      j += 1
    }
    s
  }

  private[queries] def isFloatArr(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private[queries] def vecOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** Extract (codebook, m) from the literal SQL arguments. */
  private def literalArgs(cb: Expression, m: Expression): (Array[Double], Int) = {
    require(cb.foldable && m.foldable,
      "pq_* codebook and sub-space count must be literals")
    val arr = cb.eval(null).asInstanceOf[ArrayData]
    val cbArr = cb.dataType match {
      case ArrayType(DoubleType, _) => arr.toDoubleArray()
      case ArrayType(FloatType, _) => arr.toFloatArray().map(_.toDouble)
      case t => throw new IllegalArgumentException(
        s"pq codebook must be array<double>/array<float>, got ${t.sql}")
    }
    (cbArr, m.eval(null).asInstanceOf[Number].intValue())
  }

  def encodeBuilder(c: Seq[Expression]): Expression = {
    require(c.size == 3, "pq_encode(vec, codebook, m)")
    val (cbArr, m) = literalArgs(c(1), c(2))
    PqEncode(c(0), cbArr, m)
  }

  def tableBuilder(c: Seq[Expression]): Expression = {
    require(c.size == 3, "pq_table(vec, codebook, m)")
    val (cbArr, m) = literalArgs(c(1), c(2))
    PqTable(c(0), cbArr, m)
  }

  def adcBuilder(c: Seq[Expression]): Expression = {
    require(c.size == 2, "pq_adc(table, codes)")
    PqAdc(c(0), c(1))
  }
}

case class PqEncode(child: Expression, codebook: Array[Double], m: Int)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"
  override def checkInputDataTypes(): TypeCheckResult =
    if (Pq.vecOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float>/array<double>, got ${child.dataType.sql}")

  private def isFloat = Pq.isFloatArr(child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    Pq.encode(v.asInstanceOf[ArrayData], isFloat, codebook, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", codebook, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.queries.Pq.encode($v, $isFloat, $cbRef, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

case class PqTable(child: Expression, codebook: Array[Double], m: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_table"
  override def checkInputDataTypes(): TypeCheckResult =
    if (Pq.vecOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_table expects array<float>/array<double>, got ${child.dataType.sql}")

  private def isFloat = Pq.isFloatArr(child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    Pq.table(v.asInstanceOf[ArrayData], isFloat, codebook, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", codebook, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.queries.Pq.table($v, $isFloat, $cbRef, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqTable =
    copy(child = newChild)
}

/** ADC lookup-sum of a query table against stored codes. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), BinaryType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc expects (array<double>, binary), got ${l.sql} and ${r.sql}")
    }

  override protected def nullSafeEval(t: Any, c: Any): Any =
    Pq.adc(t.asInstanceOf[ArrayData], c.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) =>
      s"${ev.value} = graft.queries.Pq.adc($t, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}
