package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Karp-Rabin rolling-hash document fingerprint (the brief's "document
  * fingerprinting (rolling hash)" operator) as a native expression.
  *
  * For token array t, window size k: each window's hash is the
  * polynomial h(w) = Σ H(tᵢ)·Bᵏ⁻¹⁻ⁱ (mod 2⁶⁴ wraparound), updated in
  * O(1) per slide — h' = (h − H(t_out)·Bᵏ⁻¹)·B + H(t_in) — so the whole
  * document fingerprints in O(n) regardless of k, vs the O(n·k) of
  * re-hashing every shingle (TextFunctions.minShingleFingerprint, which
  * remains the portable/oracle-friendly variant). The emitted value is
  * the MINIMUM window hash: stable under local edits outside the
  * minimal window, the winnowing-style property dedup pipelines key on.
  * Returns null for docs with fewer than k tokens.
  */
case class MinRollingHash(child: Expression, k: Int)
  extends UnaryExpression {

  require(k > 0, "window size must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "min_rolling_hash"

  // "shorter than window" is decided by LENGTH, not an in-band sentinel:
  // the mod-2^64 hash space covers every long, so any reserved value
  // would collide with a legitimate fingerprint (~1e-5 expected hits at
  // SCALE.md's 1e14-window corpus) and silently null it out.
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() < k) null
    else java.lang.Long.valueOf(MinRollingHash.compute(arr, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
         |if ($c.numElements() < $k) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.MinRollingHash.compute($c, $k);
         |}
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinRollingHash =
    copy(child = newChild)
}

object MinRollingHash {
  private val B = 1000003L // polynomial base (prime)

  /** Per-token 64-bit hash (FNV-1a over UTF8 bytes — cheap, stable). */
  private def tokenHash(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  def compute(tokens: ArrayData, k: Int): Long = {
    val n = tokens.numElements()
    require(n >= k, "caller must length-check before compute")
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = if (tokens.isNullAt(i)) 0L
              else tokenHash(tokens.getUTF8String(i).getBytes)
      i += 1
    }
    // B^(k-1) for the O(1) slide
    var bk = 1L
    var j = 1
    while (j < k) { bk *= B; j += 1 }
    // first window
    var h = 0L
    i = 0
    while (i < k) { h = h * B + hs(i); i += 1 }
    var min = h
    // slide
    i = k
    while (i < n) {
      h = (h - hs(i - k) * bk) * B + hs(i)
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"min_rolling_hash(tokens, k) takes 2 arguments, got ${exprs.length}")
    val k = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"min_rolling_hash window must be an int literal, got $other")
    }
    MinRollingHash(exprs.head, k)
  }
}
