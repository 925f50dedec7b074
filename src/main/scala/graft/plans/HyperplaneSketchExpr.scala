package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Random-hyperplane sign sketch of an `array<float>` embedding as ONE
  * native codegen'd expression — the hot inner loop of the LSH family
  * (q31 ANN, q43 embedding dedup).
  *
  * Replaces the interpreted `aggregate(zip_with(...))` higher-order
  * formulation, which pays per-element lambda dispatch and boxing for
  * bits×dim multiply-adds on every row. Semantics are IDENTICAL: the
  * plane family is the same md5-derived `Similarity.planeCoef(seed, j,
  * d)` grid, products accumulate left-to-right in double precision
  * (bit-equal to the HOF left fold, hence to the DuckDB oracle's
  * literal-embedded planes), and a vector whose length differs from
  * `dim` yields sketch 0 exactly as zip_with null-padding nulls every
  * dot (each CASE then contributes no bit).
  */
case class HyperplaneSketch(child: Expression, bits: Int, dim: Int, seed: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sketch"

  override def nullSafeEval(v: Any): Any =
    HyperplaneSketch.compute(v.asInstanceOf[ArrayData], bits, dim, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.HyperplaneSketch.compute($c, $bits, $dim, $seed)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSketch =
    copy(child = newChild)
}

object HyperplaneSketch {
  // plane grids are tiny (bits×dim doubles) and keyed by (bits, dim,
  // seed); cached per JVM so executors derive them once, not per row
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]

  private def planes(bits: Int, dim: Int, seed: Int): Array[Double] =
    planeCache.computeIfAbsent((bits, dim, seed), { key =>
      val (b, d, s) = key
      val flat = new Array[Double](b * d)
      var j = 0
      while (j < b) {
        var k = 0
        while (k < d) {
          flat(j * d + k) = graft.operators.Similarity.planeCoef(s, j, k)
          k += 1
        }
        j += 1
      }
      flat
    })

  /** Shared by eval and codegen: bits sign dots, each a sequential
    * left-to-right double accumulation over the dim elements. */
  def compute(vec: ArrayData, bits: Int, dim: Int, seed: Int): Long = {
    if (vec.numElements() != dim) return 0L // HOF null-padding semantics
    val p = planes(bits, dim, seed)
    var sketch = 0L
    var j = 0
    while (j < bits) {
      var acc = 0.0
      val base = j * dim
      var d = 0
      while (d < dim) {
        acc += p(base + d) * vec.getFloat(d).toDouble
        d += 1
      }
      if (acc > 0.0) sketch |= (1L << j)
      j += 1
    }
    sketch
  }

  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4,
      s"hyperplane_sketch expects (array<float>, bits, dim, seed), got ${exprs.length} args")
    def intArg(i: Int): Int = exprs(i) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
      case other => throw new IllegalArgumentException(
        s"hyperplane_sketch arg $i must be an integer literal, got $other")
    }
    HyperplaneSketch(exprs.head, intArg(1), intArg(2), intArg(3))
  }
}
