package graft.queries

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native float-array dot product — the hot inner loop of the whole
  * ANN family (brute-force scoring is n × |queries| evaluations, IVF
  * assignment n × √n), previously expressed as
  * `aggregate(zip_with(a, b, (p, q) => p * q), 0.0, _ + _)`: Spark's
  * higher-order functions allocate a zipped intermediate array and
  * evaluate the lambda per element through `CodegenFallback` — an
  * interpreted call chain in the middle of the scan stage. This
  * expression is one tight codegen'd loop over the two `ArrayData`
  * buffers: no intermediate array, no lambda dispatch, and the
  * surrounding projection stays inside whole-stage codegen.
  *
  * Semantics are IDENTICAL to the fold it replaces (and to the DuckDB
  * oracle's `list_sum` comprehension): left-to-right accumulation of
  * `(double) x[i] * (double) y[i]` — float→double widening per
  * element, sequential double adds, so results are bit-equal and the
  * oracle hashes are unaffected. A null element yields null (as the
  * fold's `acc + null` did); length mismatch dots the common prefix
  * (embeddings are fixed-width, so this never fires in practice).
  */
case class DotF(left: Expression, right: Expression) extends BinaryExpression {

  // each side may be array<float> or array<double> (the LSH hyperplane
  // constants are double literals); elements widen to double exactly
  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f expects array<float>/array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"
  // a null ELEMENT makes the result null even though both arrays are
  // non-null, so the expression is nullable regardless of children
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotF.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left.dataType), isFloat(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("dotBoxed")
    val lf = isFloat(left.dataType)
    val rf = isFloat(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double $boxed = graft.queries.DotF.dot($a, $b, $lf, $rf);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF =
    copy(left = newLeft, right = newRight)
}

object DotF {

  /** Static kernel shared by eval and generated code: one pass, no
    * allocation. Boxed return so the null-element case has a channel
    * (the JIT unboxes the hot non-null path). `xFloat`/`yFloat` pick
    * the element accessor per side (compile-time constants in the
    * generated code, so the JIT sees straight-line loops). */
  def dot(x: ArrayData, y: ArrayData,
          xFloat: Boolean, yFloat: Boolean): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def builder(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"dot_f(a, b) takes 2 arguments, got ${children.size}")
    DotF(children.head, children(1))
  }
}

/** Scalar (SQ8) quantization of a float vector to int8 bytes:
  * `q[i] = round(127 * v[i] / max_i |v[i]|)`, packed as `binary` —
  * 4x smaller than array<float> in every broadcast structure, shuffle,
  * and scan that carries it. Cosine is invariant under any PER-VECTOR
  * positive scale, so the per-vector max-abs normalization costs no
  * accuracy beyond the int8 rounding itself; the approximate cosine of
  * two quantized vectors is `dot_i8(a,b) / (|a| |b|)` with the norms
  * likewise computed on the bytes. An all-zero vector quantizes to
  * all-zero bytes; a null element yields null. */
case class Sq8Quantize(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq8_quantize expects array<float>/array<double>, got ${other.sql}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "sq8_quantize"
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    Sq8Quantize.quantize(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("sq8Bytes")
    val f = isFloat
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |byte[] $boxed = graft.queries.Sq8Quantize.quantize($v, $f);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Quantize =
    copy(child = newChild)
}

object Sq8Quantize {

  /** Static kernel: two passes (max-abs, then scale+round), one byte[]
    * allocation — the output itself. */
  def quantize(v: ArrayData, isFloat: Boolean): Array[Byte] = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      val a = math.abs(x)
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (maxAbs == 0.0) return out
    val scale = 127.0 / maxAbs
    i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = math.round(x * scale).toByte
      i += 1
    }
    out
  }

  def builder(children: Seq[Expression]): Expression = {
    require(children.size == 1,
      s"sq8_quantize(v) takes 1 argument, got ${children.size}")
    Sq8Quantize(children.head)
  }
}

/** Integer dot product of two SQ8-quantized vectors (`binary` from
  * [[Sq8Quantize]]): one tight codegen'd loop over the byte buffers,
  * exact int64 accumulation (127² × 4096 dims is far inside Long).
  * This is the quantized ANN candidate-scoring kernel: 4x less memory
  * traffic than [[DotF]] per pair, no float rounding in the
  * accumulation. Length mismatch dots the common prefix, like dot_f. */
case class DotI8(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.BinaryType &&
        right.dataType == org.apache.spark.sql.types.BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_i8 expects binary arguments, got ${left.dataType.sql} " +
        s"and ${right.dataType.sql}")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "dot_i8"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotI8.dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.queries.DotI8.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotI8 =
    copy(left = newLeft, right = newRight)
}

object DotI8 {

  def dot(x: Array[Byte], y: Array[Byte]): Long = {
    val n = math.min(x.length, y.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x(i).toLong * y(i).toLong
      i += 1
    }
    acc
  }

  def builder(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"dot_i8(a, b) takes 2 arguments, got ${children.size}")
    DotI8(children.head, children(1))
  }
}
