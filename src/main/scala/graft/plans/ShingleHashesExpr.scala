package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** All k-token shingle hashes of a token array in ONE native pass:
  * `shingle_hashes_md5(tokens, k)` returns `array<long>` where element
  * i is the 60-bit md5 of the space-joined window starting at token i —
  * value-identical to the declarative
  * `transform(sequence(...), i -> md5Long(concat_ws(" ", slice(toks, i,
  * k))))` (spec-asserted element-for-element), which q83's oracle
  * replays in DuckDB.
  *
  * Why native: higher-order-function lambda bodies evaluate INTERPRETED
  * — no whole-stage codegen inside `transform` — and a q83 stage
  * profile measured the interpreted slice+concat+md5 projection at
  * ~60-80% of q83's wall. Here token bytes are fetched once per row and each
  * window's buffer is assembled and hashed in a tight JVM loop.
  * Returns an empty array for docs shorter than k tokens (the
  * declarative sequence form would be undefined there; the corpus
  * guarantees ≥ k, so the difference is unobservable in the queries).
  */
case class ShingleHashesMd5(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0, "window size must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes_md5"

  override def nullSafeEval(v: Any): Any =
    ShingleHashesMd5.compute(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleHashesMd5.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesMd5 =
    copy(child = newChild)
}

object ShingleHashesMd5 {
  /** One pass: token UTF8 bytes fetched once, each window joined with
    * single spaces into a scratch buffer and md5'd via
    * [[SimHashMd5.md5Hash60]] (the `conv(substring(md5(s),1,15),16,10)`
    * value). Null tokens hash as empty strings. */
  def compute(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.emptyLongArray)
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
              else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      var len = k - 1
      var j = 0
      while (j < k) { len += tb(i + j).length; j += 1 }
      val buf = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < k) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = tb(i + j)
        System.arraycopy(t, 0, buf, off, t.length)
        off += t.length
        j += 1
      }
      out(i) = SimHashMd5.md5Hash60(buf)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"shingle_hashes_md5(tokens, k) takes 2 arguments, got ${exprs.length}")
    val k = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"shingle_hashes_md5 window must be an int literal, got $other")
    }
    ShingleHashesMd5(exprs.head, k)
  }
}

/** All k-token shingle WINDOW STRINGS in one native pass:
  * `shingle_windows(tokens, k)` returns `array<string>` of the
  * space-joined windows — the string sibling of [[ShingleHashesMd5]],
  * for consumers that must keep the window TEXT (q84's Count-Min salts
  * re-hash `"r:bigram"`, so the bigram string itself is the key).
  * Value-identical to `transform(sequence(...), i -> concat_ws(" ",
  * slice(toks, i, k)))`, which the oracle replays; the declarative
  * form's interpreted lambda cost is the same story as
  * [[ShingleHashesMd5]] (measured in the q83 stage profile). Empty
  * array when fewer than k tokens. */
case class ShingleWindows(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0, "window size must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_windows"

  override def nullSafeEval(v: Any): Any =
    ShingleWindows.compute(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleWindows.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleWindows =
    copy(child = newChild)
}

object ShingleWindows {
  /** Token bytes fetched once; each window joined with single spaces.
    * Null tokens join as empty strings. */
  def compute(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](0))
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
              else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Any](n - k + 1)
    i = 0
    while (i <= n - k) {
      var len = k - 1
      var j = 0
      while (j < k) { len += tb(i + j).length; j += 1 }
      val buf = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < k) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = tb(i + j)
        System.arraycopy(t, 0, buf, off, t.length)
        off += t.length
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(buf)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"shingle_windows(tokens, k) takes 2 arguments, got ${exprs.length}")
    val k = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"shingle_windows window must be an int literal, got $other")
    }
    ShingleWindows(exprs.head, k)
  }
}
