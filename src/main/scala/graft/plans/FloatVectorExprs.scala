package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the embedding hot loop (SURVEY §7
  * scale extension; custom-Expression route (b) from the build rules).
  *
  * `zip_with + aggregate` higher-order functions evaluate interpreted —
  * per-element lambda dispatch with boxing — and sit in every ANN
  * candidate pair. This expression generates a tight primitive loop
  * inside whole-stage codegen instead. Accumulation is sequential in
  * double precision, bit-identical to the HOF formulation, so oracle
  * parity is unaffected.
  */
case class FloatVectorDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"
  // nullable even when both children are not: a LENGTH MISMATCH yields
  // null (matching the zip_with null-padding semantics of the HOF
  // formulation) — a malformed embedding must surface as a detectable
  // null, never as a plausible partial dot product.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

object FloatVectorExprs {
  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"float_dot expects exactly 2 arguments (two array<float>), got ${exprs.length}")
    FloatVectorDot(exprs(0), exprs(1))
  }
}
