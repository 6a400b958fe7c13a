package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType, DoubleType, LongType}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** Native dot product over two array<double> columns (SURVEY §2 E5/F1-F3).
  *
  * The composable alternative — `aggregate(zip_with(a, b, *), 0d, +)` —
  * allocates an intermediate array and evaluates two lambda closures per
  * element through the higher-order-function interpreter. This expression is
  * a primitive loop over the two ArrayData buffers inside whole-stage
  * codegen: ~20x less per-pair overhead, which is the difference between a
  * usable and unusable brute-force/verification path at scale.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // analysis-time type error instead of a runtime ClassCastException
  override def inputTypes: Seq[ColumnBridge.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.DotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

object DotProduct {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** The same sequential fold over plain arrays, for driver-side kernels
    * that must score exactly as the expression does. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a(i) * b(i)
      i += 1
    }
    acc
  }

  /** Column builder: dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
}

/** Native integer dot product over int8 vectors — the scoring kernel for
  * quantized embeddings (SURVEY §2 F5). Accepts each side as either
  * `array<tinyint>` (the exploded/columnar layout) or `binary` (the packed
  * byte-string layout large ANN deployments actually ship vectors in);
  * mixing layouts is fine. Every product is |a·b| ≤ 127²(/128²), every sum
  * of ≤ dim of them is far under 2^63: the result is EXACT in any
  * accumulation order, and 8× denser through the scan than the double
  * arrays it replaces. The interpreted alternative —
  * `aggregate(zip_with(q, qq, *), 0L, +)` — runs two lambda closures per
  * element through the HOF interpreter per candidate pair; this is a
  * primitive byte loop inside whole-stage codegen.
  */
case class DotProductInt8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // analysis-time type error instead of a runtime ClassCastException
  override def inputTypes: Seq[ColumnBridge.AbstractType] =
    Seq(ColumnBridge.typeCollection(ArrayType(ByteType), BinaryType),
      ColumnBridge.typeCollection(ArrayType(ByteType), BinaryType))

  override def nullSafeEval(a: Any, b: Any): Any = (a, b) match {
    case (x: ArrayData, y: ArrayData) => DotProductInt8.dot(x, y)
    case (x: Array[Byte], y: Array[Byte]) => DotProductInt8.dot(x, y)
    case (x: ArrayData, y: Array[Byte]) => DotProductInt8.dot(x, y)
    case (x: Array[Byte], y: ArrayData) => DotProductInt8.dot(y, x)
  }

  // the generated call resolves to the right overload from the codegen'd
  // operand types (ArrayData for array<tinyint>, byte[] for binary)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      if (left.dataType == BinaryType && right.dataType != BinaryType)
        s"graft.plans.DotProductInt8.dot($b, $a)"
      else s"graft.plans.DotProductInt8.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductInt8 =
    copy(left = l, right = r)
}

object DotProductInt8 {
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getByte(i).toLong * b.getByte(i)
      i += 1
    }
    acc
  }

  def dot(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a(i).toLong * b(i)
      i += 1
    }
    acc
  }

  def dot(a: ArrayData, b: Array[Byte]): Long = {
    val n = math.min(a.numElements(), b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getByte(i).toLong * b(i)
      i += 1
    }
    acc
  }

  /** Column builder: integer dot product of two int8 vector columns
    * (array<tinyint> or binary, in any combination).
    */
  def dot(a: Column, b: Column): Column =
    column(DotProductInt8(expression(a), expression(b)))
}
