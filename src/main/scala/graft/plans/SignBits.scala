package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** Sign-vs-mean bit run of a perceptual hash (SURVEY §2 G5): bits
  * [from, from + width) of the signature packed into one long, bit b set
  * iff `codes(from + b) · W > tot`, where W is the length of `codes` and
  * `tot` their sum. One primitive loop: the per-bit `when` unroll it
  * replaces copied every bit's branch into the stage, and at 128-bit
  * signatures the stage outgrew Janino's 64 KB method limit.
  */
case class SignBits(left: Expression, right: Expression, from: Int, width: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(from >= 0 && width >= 1 && width <= 64,
    s"SignBits needs from >= 0 and a width in [1, 64], got from=$from width=$width")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[ColumnBridge.AbstractType] =
    Seq(ArrayType(IntegerType), LongType)

  override def nullSafeEval(codes: Any, tot: Any): Any =
    SignBits.bits(codes.asInstanceOf[ArrayData], tot.asInstanceOf[Long], from, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, t) => s"graft.plans.SignBits.bits($c, $t, $from, $width)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SignBits =
    copy(left = l, right = r)
}

object SignBits {
  def bits(codes: ArrayData, tot: Long, from: Int, width: Int): Long = {
    val w = codes.numElements().toLong
    var acc = 0L
    var b = 0
    while (b < width) {
      if (codes.getInt(from + b) * w > tot) acc |= 1L << b
      b += 1
    }
    acc
  }

  /** Column builder over an array<int> `codes` and their long sum `tot`. */
  def of(codes: Column, tot: Column, from: Int, width: Int): Column =
    column(SignBits(expression(codes), expression(tot), from, width))
}
