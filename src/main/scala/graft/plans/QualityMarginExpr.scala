package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.QualityCoefficients

/** The frozen quality model's logistic margin as ONE native expression.
  *
  * The Catalyst formulation ([[graft.operators.Sampling.marginOf]])
  * evaluates |vocab| separate `size(filter(split(lower(text))))`
  * subtrees per row: higher-order functions never enter whole-stage
  * codegen, so that is 29 interpreted array passes (plus repeated
  * splits) per document — the measured hot predicate of the margin-gated
  * pipeline family (q108/q111/q112 and the streaming quota twin). This
  * expression computes the identical margin in a single pass: lowercase
  * once, walk the space-separated tokens once, count term frequencies
  * through one hash probe per token, then fold
  * `intercept + Σᵢ weight(i)·tf(i)` LEFT-TO-RIGHT IN VOCABULARY ORDER
  * with the same pre-multiplied `coef(i)·idf(i)` double literals the
  * Catalyst fold uses.
  *
  * Bit-exactness argument (the oracle replays the fold literally, so
  * this must be exact, not approximate): term frequencies are integer
  * counts — order-free and exact; the floating-point work is exactly
  * the fold's `acc + weight(i) * (double) tf(i)` chain, evaluated in
  * the same order with the same literals, so every intermediate double
  * is bit-identical to the HOF formulation. Tokenization parity:
  * `split(lower(text), " ")` splits on single spaces keeping empty
  * segments; empty segments and non-vocab tokens contribute nothing to
  * any tf, so walking only the non-empty runs between 0x20 bytes counts
  * the same matches (after `UTF8String.toLowerCase`, the same lowercase
  * Spark's `lower` applies, multi-byte sequences never contain 0x20).
  * MarginExprSpec pins native ≡ fold on the corpus plus planted
  * edge cases; the q108/q111/q112 oracle hashes gate it end-to-end.
  */
case class QualityMargin(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_margin"

  override def nullSafeEval(v: Any): Any =
    QualityMarginExpr.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.QualityMarginExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): QualityMargin =
    copy(child = newChild)
}

object QualityMarginExpr {
  private val V = QualityCoefficients.vocab.length

  /** coef(i)·idf(i) pre-multiplied on the driver — the SAME product the
    * Catalyst fold materializes as one literal per term (and the same
    * one the DuckDB oracle embeds), so no reassociation anywhere. */
  private val weights: Array[Double] =
    Array.tabulate(V)(i => QualityCoefficients.coef(i) * QualityCoefficients.idf(i))

  /** vocab word → index; read-only after construction (safe under
    * concurrent task threads). Vocab words are non-empty and contain no
    * spaces by the artifact generator's construction — required for the
    * run-walk to see them as single tokens. */
  private val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](V * 2)
    var i = 0
    while (i < V) {
      val w = QualityCoefficients.vocab(i)
      require(w.nonEmpty && !w.contains(" ") && w == w.toLowerCase,
        s"vocab word '$w' breaks the single-token lowercase contract")
      m.put(UTF8String.fromString(w), Integer.valueOf(i))
      i += 1
    }
    m
  }

  /** Static helper shared by eval and codegen: one lowercase, one pass
    * over the bytes, one hash probe per non-empty token, then the
    * vocab-order weighted fold. */
  def compute(text: UTF8String): Double = {
    val bytes = text.toLowerCase.getBytes
    val tf = new Array[Int](V)
    val n = bytes.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        if (i > start) {
          val idx = index.get(UTF8String.fromBytes(bytes, start, i - start))
          if (idx != null) tf(idx.intValue()) += 1
        }
        start = i + 1
      }
      i += 1
    }
    var m = QualityCoefficients.intercept
    var j = 0
    while (j < V) {
      m += weights(j) * tf(j)
      j += 1
    }
    m
  }

  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"quality_margin expects exactly 1 argument (string), got ${exprs.length}")
    QualityMargin(exprs.head)
  }
}
