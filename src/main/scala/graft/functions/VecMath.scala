package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Whole-stage-codegen vector arithmetic for the ANN family (guide §4.1:
  * prefer codegen expressions over interpreted higher-order functions in
  * the hot path). The previous cosine implementation chained `zip_with` +
  * `aggregate` — both HigherOrderFunctions that Catalyst evaluates
  * INTERPRETED, walking an expression tree per element — which made the
  * exact-verify / re-rank stages of q18/q19/q28/q31/q54/q55 cost tens of
  * microseconds per pair (q28's 130k-candidate verify alone measured ~3 s
  * on one task). [[VecMath.dot]] is the same left-fold in the same index
  * order — `s += a(i)*b(i)` ascending — so every IEEE-754 addition and
  * multiplication happens in the identical sequence and the result is
  * BIT-IDENTICAL to the old expression; only the per-element interpreter
  * dispatch is gone.
  */
object VecMath {

  /** Σ a(i)·b(i), ascending index order (the exact fold order of
    * aggregate(zip_with(a, b, _*_), 0.0, _+_)). Defined only where
    * [[defined]] holds; [[VecDotExpr]] checks that first.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Whether the legacy fold yields a number: zip_with pads the shorter
    * array with nulls, and one null product makes the whole sum null, so
    * a length mismatch or any null element gives null.
    */
  def defined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Column API: vec_dot(a, b) over two array&lt;double&gt; columns. */
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDotExpr(Bridge.expression(a), Bridge.expression(b)))
}

/** Catalyst expression wrapping [[VecMath.dot]]; stays inside whole-stage
  * codegen via a static call (the ScrubPiiExpr pattern). Null where
  * [[VecMath.defined]] fails, in both the interpreted and codegen paths,
  * as the legacy fold is.
  */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (VecMath.defined(x, y)) VecMath.dot(x, y) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if (graft.functions.VecMath.defined($a, $b)) {
         |  ${ev.value} = graft.functions.VecMath.dot($a, $b);
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}
