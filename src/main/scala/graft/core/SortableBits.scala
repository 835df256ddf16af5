package graft.core

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Order-preserving integer image of a double: the IEEE-754 bit pattern
  * remapped so that signed-long comparison of images equals double
  * comparison of values (`x < y ⇔ bits(x) < bits(y)`, total over
  * ±Infinity; `-0.0` is first normalized to `0.0` so the two equal
  * zeros share one image; NaN is the caller's problem — exclude it
  * upstream).
  *
  * Why it exists: any fixed right-shift of the image is a monotone,
  * data-independent bucketing of the double line whose resolution
  * doubles per bit — the foundation of [[OrderStats]]' single-pass
  * histogram selection. An equi-width value-space histogram needs a
  * min/max pre-pass and special-cases infinite tails; the bit image
  * needs neither.
  *
  * The remap is the classic radix-sort trick: positive doubles already
  * order correctly as signed longs (sign bit 0, exponent then mantissa
  * lexicographic); negative doubles order reversed, so flipping their
  * non-sign bits (`b ^ ((b >> 63) & Long.MaxValue)`) reverses them back
  * while keeping them below every positive image.
  */
case class SortableBitsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dbits expects a double, got ${other.catalogString}")
  }

  override def nullSafeEval(a: Any): Any = {
    // + 0.0 canonicalizes -0.0 to 0.0 (IEEE: -0.0 + 0.0 = +0.0) and
    // leaves every other value bit-identical
    val b = java.lang.Double.doubleToLongBits(a.asInstanceOf[Double] + 0.0)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.freshName("b")
      s"""
         |long $b = java.lang.Double.doubleToLongBits($a + 0.0);
         |${ev.value} = $b ^ (($b >> 63) & 0x7fffffffffffffffL);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SortableBitsExpr =
    copy(child = newChild)
}
