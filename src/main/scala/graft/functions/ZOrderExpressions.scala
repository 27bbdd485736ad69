package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import graft.zorder.{ZOrder, ZOrder3}

/**
 * `zorder(x, y)`: Morton-interleave two non-negative 32-bit coordinates
 * into one 64-bit key. Native Catalyst expression with whole-stage
 * codegen — the hot-path replacement for a Scala UDF (SURVEY §2.10).
 *
 * Semantics: `graft.zorder.ZOrder.zorder`, the Long re-expression of the
 * reference codec (Tiny-MD-HBase `Utils.java:32-59`, `bitwiseZip`).
 * Codegen emits a direct static call, so the expression stays inside
 * WholeStageCodegen spans.
 */
case class ZOrderKey(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "zorder"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    ZOrder.zorder(x.asInstanceOf[Int], y.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.zorder.ZOrder.zorder($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderKey =
    copy(left = newLeft, right = newRight)
}

/** Dimension extractor of a 2-D Morton key: `shift` = 1 for x
  * (`zorder_x`), 0 for y (`zorder_y`) — the bit within each pair
  * (reference `Utils.java:61-73`, `bitwiseUnzip`). */
case class ZOrderDim(child: Expression, shift: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(shift == 0 || shift == 1, s"shift out of range: $shift")
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = Seq("zorder_y", "zorder_x")(shift)
  override protected def nullSafeEval(z: Any): Any =
    ZOrder.elimGap(z.asInstanceOf[Long] >>> shift)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, z => s"graft.zorder.ZOrder.elimGap($z >>> $shift)")
  override protected def withNewChildInternal(c: Expression): ZOrderDim = copy(child = c)
}

/** `zorder3(x, y, t)`: 3-D Morton key of three non-negative 21-bit
  * coordinates — the spatio-temporal octree key ([[graft.zorder.ZOrder3]]). */
case class ZOrder3Key(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(IntegerType, IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "zorder3"
  override protected def nullSafeEval(x: Any, y: Any, t: Any): Any =
    ZOrder3.zorder3(x.asInstanceOf[Int], y.asInstanceOf[Int], t.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, t) => s"graft.zorder.ZOrder3.zorder3($x, $y, $t)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ZOrder3Key =
    copy(first = f, second = s, third = t)
}

/** Dimension extractor of a 3-D Morton key: `shift` = 2 for x, 1 for
  * y, 0 for t (the bit within each triple). */
case class ZOrder3Dim(child: Expression, shift: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(shift >= 0 && shift <= 2, s"shift out of range: $shift")
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = Seq("zorder3_t", "zorder3_y", "zorder3_x")(shift)
  override protected def nullSafeEval(z: Any): Any =
    ZOrder3.elimGap3(z.asInstanceOf[Long] >>> shift)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, z => s"graft.zorder.ZOrder3.elimGap3($z >>> $shift)")
  override protected def withNewChildInternal(c: Expression): ZOrder3Dim = copy(child = c)
}
