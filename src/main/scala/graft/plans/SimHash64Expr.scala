package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a token array as ONE native expression: for each
  * bit j, sum ±1 over the tokens' xxhash64 bit j; the signature packs
  * the sign bits. Replaces the explode + 64-conditional-aggregate
  * formulation — the whole signature computes in a single pass over the
  * token array with no shuffle at all (the groupBy disappears).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Static helper shared by eval and codegen: one pass over the tokens,
    * 64 bit-counters on the stack. */
  def compute(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = XxHash64Function.hash(
          tokens.getUTF8String(i), StringType, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"simhash64 expects exactly 1 argument (array<string>), got ${exprs.length}")
    SimHash64(exprs.head)
  }
}

/** 60-bit SimHash over md5-derived per-token hashes — the PORTABLE
  * sibling of [[SimHash64]]: the token hash is the first 15 hex chars of
  * md5(token) (a positive 60-bit long), which any engine with md5 can
  * reproduce (DuckDB: `CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)`),
  * so the whole signature is oracle-checkable cross-engine. Same
  * single-pass, shuffle-free evaluation; md5 costs more per token than
  * xxhash64 — keep [[SimHash64]] for throughput when portability is not
  * needed.
  */
case class SimHashMd5(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5_60"

  override def nullSafeEval(v: Any): Any =
    SimHashMd5.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashMd5.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}

object SimHashMd5 {
  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** First 15 hex chars of md5(bytes) as a positive 60-bit long: the
    * first 8 digest bytes big-endian, low nibble (16th hex char)
    * dropped. Identical to `conv(substring(md5(x),1,15),16,10)`. */
  def md5Hash60(bytes: Array[Byte]): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(bytes)
    java.nio.ByteBuffer.wrap(d).getLong(0) >>> 4
  }

  /** One pass over the tokens, 60 bit-counters on the stack. */
  def compute(tokens: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = md5Hash60(tokens.getUTF8String(i).getBytes)
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Arity-checked builder — the [[graft.GraftExtensions.functions]]
    * entry both the extension and `install` register. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"simhash_md5_60 expects exactly 1 argument (array<string>), got ${exprs.length}")
    SimHashMd5(exprs.head)
  }
}
