package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans._

/** Session-extension entry point (custom-operator route (c) from the
  * build rules: registration via `SparkSessionExtensions`): injects
  * every native Catalyst expression in [[GraftExtensions.functions]]
  * into the session's function registry at SESSION BUILD time, so a
  * user enables the whole library surface in plain SQL with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`). Sessions built without
  * it get the same functions from [[GraftExtensions.install]], which the
  * operators call before building a plan that uses them; both routes
  * walk the one table, so they cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        GraftExtensions.info(name, usage), builder))
    }
    // route (c) continued: a Rule[LogicalPlan] — constant-width pure
    // range joins become bucket-grid equi-joins instead of cartesians
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
  }
}

object GraftExtensions {
  /** (name, usage, builder) for every native expression in graft.plans. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("float_dot",
      "float_dot(a, b) - dot product of two array<float> in double precision (codegen'd)",
      FloatVectorExprs.build),
    ("hyperplane_sketch",
      "hyperplane_sketch(vec, bits, dim, seed) - sign-bit sketch of an array<float> against md5-derived hyperplanes",
      HyperplaneSketch.build),
    ("min_rolling_hash",
      "min_rolling_hash(tokens, k) - minimum Karp-Rabin hash over all k-gram windows",
      MinRollingHash.build),
    ("simhash64",
      "simhash64(tokens) - 64-bit SimHash over xxhash64 token hashes",
      SimHash64.build),
    ("simhash_md5_60",
      "simhash_md5_60(tokens) - 60-bit portable SimHash over md5-derived token hashes",
      SimHashMd5.build),
    ("bloom_probe_md5",
      "bloom_probe_md5(key, bitmap) - true iff all salted md5 positions of key are set in the packed m-bit bitmap",
      BloomProbeMd5.build),
    ("shingle_hashes_md5",
      "shingle_hashes_md5(tokens, k) - array of 60-bit md5 hashes of every k-token shingle, one native pass",
      ShingleHashesMd5.build),
    ("shingle_windows",
      "shingle_windows(tokens, k) - array of space-joined k-token windows, one native pass",
      ShingleWindows.build),
    ("quality_margin",
      "quality_margin(text) - frozen quality-classifier logistic margin (QualityCoefficients fold), one native pass",
      QualityMarginExpr.build),
  )

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Register every [[functions]] entry the session's registry lacks
    * (usable from SQL and via call_function). Names already present —
    * from an earlier call or from the extension — are left as they are,
    * so a repeat call changes nothing and operators call it per use. */
  def install(s: SparkSession): Unit = {
    val registry = s.sessionState.functionRegistry
    registry.synchronized {
      functions.foreach { case (name, usage, builder) =>
        val id = FunctionIdentifier(name)
        if (!registry.functionExists(id))
          registry.registerFunction(id, info(name, usage), builder)
      }
    }
  }
}
