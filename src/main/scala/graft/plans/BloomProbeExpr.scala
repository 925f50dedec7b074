package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row Bloom membership probe against a PACKED bitmap — the
  * deployment shape of the q85 pre-filter: `bloom_probe_md5(key,
  * bitmap)` returns true iff all h salted positions of `key` are set in
  * the m-bit `bitmap` (m = 8·length, inferred from the literal — the
  * builder of the bitmap decides the geometry, the probe just reads it).
  *
  * Positions reproduce [[graft.operators.Sketches.bloomPositions]]
  * exactly: `md5("r:" + key)` first-15-hex-chars (via
  * [[SimHashMd5.md5Hash60]]) mod m, salts r = 0..h-1, bit `pos` stored
  * LSB-first in byte `pos >>> 3`. The declarative explode+join probe and
  * this expression are spec-asserted equal key-for-key.
  *
  * Why it exists next to the join form: with the bitmap as a 128 KiB
  * literal the probe is a pure per-row predicate — no explode, no join,
  * no aggregation, whole-stage codegen'd — so the 100-TB train gram
  * stream is filtered in the scan stage and ONLY Bloom-positive
  * survivors reach any exchange. The join form stays the mergeable /
  * oracle-replayable audit shape.
  */
case class BloomProbeMd5(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, binary), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_probe_md5"

  override def nullSafeEval(k: Any, b: Any): Any =
    BloomProbeMd5.probe(k.asInstanceOf[UTF8String], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, b) => s"graft.plans.BloomProbeMd5.probe($k, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): BloomProbeMd5 =
    copy(left = newLeft, right = newRight)
}

object BloomProbeMd5 {
  /** Salt count — [[graft.operators.Sketches.BloomH]] is defined AS
    * this constant, so the two layers cannot drift. */
  val H = 3

  private val SaltPrefixes: Array[Array[Byte]] =
    Array.tabulate(H)(r => s"$r:".getBytes("UTF-8"))

  /** True iff every salted position of `key` is set in `bitmap`
    * (m = 8·bitmap.length). Static helper shared by eval and codegen. */
  def probe(key: UTF8String, bitmap: Array[Byte]): Boolean = {
    if (bitmap.length == 0) return false // no bits set ⇒ nothing is a member
    val m = bitmap.length.toLong * 8L
    val kb = key.getBytes
    var r = 0
    while (r < H) {
      val pre = SaltPrefixes(r)
      val buf = new Array[Byte](pre.length + kb.length)
      System.arraycopy(pre, 0, buf, 0, pre.length)
      System.arraycopy(kb, 0, buf, pre.length, kb.length)
      val pos = (SimHashMd5.md5Hash60(buf) % m).toInt
      if ((bitmap(pos >>> 3) & (1 << (pos & 7))) == 0) return false
      r += 1
    }
    true
  }

  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"bloom_probe_md5 expects exactly 2 arguments (key string, " +
        s"packed bitmap binary), got ${exprs.length}")
    BloomProbeMd5(exprs.head, exprs(1))
  }
}
