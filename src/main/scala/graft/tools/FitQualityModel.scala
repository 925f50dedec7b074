package graft.tools

import org.apache.spark.sql.functions._

/** Regenerates the checked-in quality-classifier artifact
  * (`graft/operators/QualityCoefficients.scala`): fits
  * [[graft.ml.QualityModel]] (TF-IDF → logistic) on the corpus with
  * labels distilled from the q24 heuristic gate, then renders the
  * fitted VOCABULARY, per-term IDF weights, coefficients, and intercept
  * as Scala double literals.
  *
  * WHY an artifact in the repo (the IvfCentroids rationale applied to
  * the scoring model): at corpus scale the quality classifier is
  * versioned STATE — fit once on a bounded labeled sample, shipped
  * broadcast to every scoring pass — never a per-query step. Freezing
  * the (vocab, idf, coef, intercept) tuple makes the SCORE a pure
  * deterministic expression over literals on BOTH engines, which is
  * what lets the q108 DuckDB oracle replay the model-scored quota
  * exactly instead of declaring it rows-only: term frequency is a
  * token-count fold, tf·idf·coef products and the left-to-right sum are
  * IEEE-identical across engines, and no libm call (exp/log) ever runs
  * at query time — ranking by the raw MARGIN is order-equivalent to
  * ranking by the sigmoid probability.
  *
  * Labels: clean = passes the q24 heuristic gate
  * ([[graft.operators.TextOps.qualityOk]]) — the CCNet-style recipe
  * with the curated side distilled from the gate the pipeline already
  * trusts, so the model learns a smooth vocabulary-weighted version of
  * the hard gate (usable as a ranking score where the gate is only a
  * predicate).
  *
  * Run: sbt "runMain graft.tools.FitQualityModel [docsDir] [vocabSize]"
  */
object FitQualityModel {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val vocabSize = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = graft.Sessions.local(8)
    import graft.functions.TextFunctions.{tokenCount, distinctTokenCount}
    val docs = graft.sources.Tables(spark, dir, "documents")
    val nTokens = tokenCount(col("text"))
    val uniqRatio = distinctTokenCount(col("text")).cast("double") / nTokens
    // clean = above-median lexical diversity (the q24 gate's continuous
    // core). The hard q24 PREDICATE would be the natural label, but the
    // driver corpus passes it wholesale — a one-class fit degenerates to
    // (intercept=∞, coef=0), the r14 first attempt. The median split
    // keeps the label quality-flavored AND two-class on any corpus;
    // exact percentile (not approx) so the artifact is reproducible.
    val scored = docs.select(col("text"), uniqRatio.as("_ur"))
    val cut = scored.agg(expr("percentile(_ur, 0.5)")).head.getDouble(0)
    val labeled = scored.select(col("text"),
      when(col("_ur") > cut, 1.0).otherwise(0.0).as("label"))
    val model = graft.ml.QualityModel.fit(labeled, vocabSize = vocabSize)
    // stages: [PipelineModel(tok, stop, cv, idf), LogisticRegressionModel]
    val inner = model.stages(0)
      .asInstanceOf[org.apache.spark.ml.PipelineModel].stages
    val cv = inner.collectFirst {
      case m: org.apache.spark.ml.feature.CountVectorizerModel => m
    }.get
    val idfM = inner.collectFirst {
      case m: org.apache.spark.ml.feature.IDFModel => m
    }.get
    val lr = model.stages(1)
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val vocab = cv.vocabulary
    val idf = idfM.idf.toArray
    val coef = lr.coefficients.toArray
    require(vocab.length == idf.length && idf.length == coef.length,
      s"shape mismatch: ${vocab.length} vocab / ${idf.length} idf / ${coef.length} coef")
    // a degenerate fit must never become the artifact (the one-class
    // corpus case: intercept=∞, coef all 0 — not even valid Scala)
    require(java.lang.Double.isFinite(lr.intercept) &&
      coef.forall(java.lang.Double.isFinite) && coef.exists(_ != 0.0),
      s"degenerate fit (intercept=${lr.intercept}, " +
        s"nonzero coefs=${coef.count(_ != 0.0)}) — check the labels carry " +
        "both classes and real signal")
    require(vocab.forall(w => w.matches("[A-Za-z0-9]+")),
      s"vocab words must be literal-safe (alnum): ${vocab.mkString(",")}")
    def arr(xs: Seq[String]) = xs.mkString("Array(\n    ", ",\n    ", ")")
    val src =
      s"""package graft.operators
         |
         |/** Fit-once quality-classifier ARTIFACT — TF-IDF (vocab
         |  * ${vocab.length}) → logistic, labels distilled from the q24
         |  * heuristic gate, trained on `$dir` and checked in as literals.
         |  * GENERATED by graft.tools.FitQualityModel — regenerate there
         |  * when the corpus distribution changes; do not edit by hand.
         |  *
         |  * The score both engines evaluate is the raw logistic MARGIN
         |  * intercept + Σᵢ coef(i)·tf(i)·idf(i), folded left-to-right in
         |  * vocabulary order with tf(i) = the count of vocab word i among
         |  * the document's lowercased whitespace tokens — every operation
         |  * IEEE-identical across engines (no exp/log at query time), so
         |  * the q108 oracle replays the quota bit-for-bit. */
         |object QualityCoefficients {
         |  val vocab: Array[String] = ${arr(vocab.map(w => "\"" + w + "\""))}
         |  val idf: Array[Double] = ${arr(idf.map(_.toString))}
         |  val coef: Array[Double] = ${arr(coef.map(_.toString))}
         |  val intercept: Double = ${lr.intercept}
         |
         |  /** The margin-gate threshold q111/q112 filter at: the model's own
         |    * decision boundary (margin 0 ⇔ P(clean) = 0.5). A literal, not a
         |    * fitted quantile, so regeneration never silently moves the gate. */
         |  val MarginTau: Double = 0.0
         |}
         |""".stripMargin
    val out = java.nio.file.Paths.get(
      "src/main/scala/graft/operators/QualityCoefficients.scala")
    java.nio.file.Files.write(out,
      src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[fit-quality] wrote $out (vocab ${vocab.length}, " +
      f"intercept ${lr.intercept}%.6f)")
    spark.stop()
  }
}
