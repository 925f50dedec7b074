package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._

/** ML-layer specs mirroring the reference notebooks' ground-truth checks
  * (SURVEY §5.1.4): seeded synthetic data with planted parameters, model
  * recovers them within tolerance. */
class MlSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // y = −1 + 0.5x + ε — the data_mining_Assignment1 cell-15 fixture
  private lazy val regression: DataFrame =
    spark.range(500).select(
      (randn(1) * 2.0).as("x"))
      .withColumn("y", lit(-1.0) + lit(0.5) * col("x") + randn(2) * 0.25)

  // two Gaussian blobs at (0,0) and (3,3)
  private lazy val blobs: DataFrame =
    spark.range(400).select(
      (col("id") % 2).cast("double").as("label"),
      (randn(3) + when(col("id") % 2 === 1, 3.0).otherwise(0.0)).as("f1"),
      (randn(4) + when(col("id") % 2 === 1, 3.0).otherwise(0.0)).as("f2"))

  test("OLS recovers planted coefficients (M1)") {
    val fit = Models.olsSummary(Features.assemble(regression, Seq("x")), "y")
    val Array(slope, intercept) = fit.coefficients
    assert(math.abs(slope - 0.5) < 0.05, s"slope $slope")
    assert(math.abs(intercept + 1.0) < 0.05, s"intercept $intercept")
    assert(fit.r2 > 0.9)
    assert(fit.pValues.head < 1e-6) // slope significant
  }

  test("logistic regression separates blobs (M2)") {
    val df = Features.assemble(blobs, Seq("f1", "f2"))
    val pred = Models.logistic("label").fit(df).transform(df)
    assert(Evaluate.binaryMetrics(pred)("accuracy") > 0.95)
  }

  test("LDA and QDA separate blobs (M3)") {
    for (pooled <- Seq(true, false)) {
      val pred = Customs.discriminantAnalysis(
        blobs, blobs, "label", Seq("f1", "f2"), pooled)
      val acc = pred.filter(col("prediction") === col("label")).count().toDouble /
        pred.count()
      assert(acc > 0.95, s"pooled=$pooled acc=$acc")
    }
  }

  test("oneHot ≡ pandas get_dummies(drop_first=True): the alphabetically first level is dropped (F20)") {
    import org.apache.spark.ml.linalg.Vector
    // "a" is the MOST frequent level, so a frequency-ordered indexer
    // would keep it and drop "b"; pandas drops the alphabetically first
    val df = Seq("c", "a", "b", "a", "c", "a").toDF("cat")
    val enc = Features.oneHot("cat", "cat_vec").fit(df).transform(df)
      .select("cat", "cat_vec").collect()
      .map(r => r.getString(0) -> r.getAs[Vector](1)).toMap
    assert(enc.values.forall(_.size == 2), "levels − 1 dummy columns")
    assert(enc("a").numNonzeros == 0, s"reference level a must be all-zero: ${enc("a")}")
    Seq("b", "c").foreach { l =>
      assert(enc(l).numNonzeros == 1 && enc(l).toArray.max == 1.0, s"$l: ${enc(l)}")
    }
    assert(enc("b") != enc("c"))
  }

  test("exact KNN classifies held-out blob points (M4)") {
    val test = blobs.limit(40).withColumn("pid", monotonically_increasing_id())
    val pred = Customs.knn(blobs, test, "label", Seq("f1", "f2"), k = 5, idCol = "pid")
    val joined = pred.join(test, "pid")
    val acc = joined.filter(col("prediction") === col("label")).count().toDouble /
      joined.count()
    assert(acc > 0.9, s"knn acc=$acc")
  }

  test("gaussian NB separates blobs (M5)") {
    val df = Features.assemble(blobs, Seq("f1", "f2"))
    val pred = Models.gaussianNB("label").fit(df).transform(df)
    assert(Evaluate.binaryMetrics(pred)("accuracy") > 0.9)
  }

  test("decision tree + RF + GBT fit the regression surface (M6/M8/M9)") {
    val df = Features.assemble(regression, Seq("x"))
    val dt = Models.decisionTreeRegressor("y").fit(df).transform(df)
    assert(Evaluate.regressionMetrics(dt, "y")("r2") > 0.8)
    val rf = Models.randomForest("y", numTrees = 20, featureSubset = "all")
      .fit(df).transform(df)
    assert(Evaluate.regressionMetrics(rf, "y")("r2") > 0.8)
    val gbtModel = Models.gbt("y", maxIter = 20).fit(df)
    val staged = Models.gbtStagedErrors(gbtModel, df)
    assert(staged.length == 20 && staged.last <= staged.head) // error non-increasing
  }

  test("feature importances expose the informative feature (M10)") {
    val noisy = blobs.withColumn("noise", randn(9))
    val df = Features.assemble(noisy, Seq("f1", "f2", "noise"))
    val m = Models.randomForestClassifier("label", numTrees = 20).fit(df)
    val imp = m.featureImportances.toArray
    assert(imp(0) + imp(1) > imp(2) * 3, imp.mkString(","))
  }

  test("linear SVC separates blobs (M11)") {
    val df = Features.assemble(blobs, Seq("f1", "f2"))
    val pred = Models.linearSvc("label", c = 1.0, n = 400).fit(df).transform(df)
    assert(Evaluate.binaryMetrics(pred)("accuracy") > 0.95)
  }

  test("cross-validation selects a sensible regParam (M13/M14)") {
    val df = Features.assemble(blobs, Seq("f1", "f2"))
    val lr = Models.logistic("label")
    val cvGrid = Models.grid(lr.regParam, Seq(0.0, 10.0)) // 10.0 ruins the fit
    // accuracy (not AUC): heavy regularization collapses predictions to
    // the majority class, which AUC's ranking view would not penalize
    val cv = Models.crossValidate(lr, cvGrid,
      new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
        .setMetricName("accuracy"), folds = 3)
    val cvm = cv.fit(df)
    val best = cvm.bestModel.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    assert(best.getRegParam == 0.0)
  }

  test("bootstrap SE of a mean matches the analytic rate (M15)") {
    val se = Customs.bootstrapSE(regression.select(col("x")),
      d => d.agg(avg("x")).head.getDouble(0), b = 50)
    // x ~ N(0,4), n=500 ⇒ SE(mean) ≈ 2/√500 ≈ 0.089
    assert(se > 0.03 && se < 0.2, s"se=$se")
  }

  test("forward stepwise picks the true predictor first (M16)") {
    val withNoise = regression
      .withColumn("junk1", randn(7)).withColumn("junk2", randn(8))
    val Array(tr, va) = withNoise.randomSplit(Array(0.7, 0.3), 11L)
    val path = Customs.forwardStepwise(tr, va, "y",
      Seq("x", "junk1", "junk2"), maxK = 2)
    assert(path.head._1 == Seq("x"), path.toString)
  }

  test("standard scaler + PCA explained variance (M18/M19)") {
    val df = Features.assemble(blobs, Seq("f1", "f2"))
    val scaled = Features.standardScaler().fit(df).transform(df)
    val pcaModel = Models.pca(2, "scaled").fit(scaled)
    val ev = pcaModel.explainedVariance.toArray
    assert(math.abs(ev.sum - 1.0) < 1e-6)
    assert(ev.head > 0.5) // blob axis dominates
    assert(Models.componentsFor(ev, 0.95) <= 2)
  }

  test("kmeans recovers the two blob centers (M21)") {
    val df = Features.assemble(blobs, Seq("f1", "f2"))
    val model = Models.kmeans(2).fit(df)
    val centers = model.clusterCenters.map(_.toArray).sortBy(_.sum)
    assert(math.abs(centers(0)(0)) < 0.5 && math.abs(centers(1)(0) - 3.0) < 0.5)
    val inertias = Models.elbow(df, Seq(2, 3, 4))
    assert(inertias.map(_._2).sliding(2).forall(p => p(1) <= p(0))) // monotone
    val pred = model.transform(df)
    assert(Evaluate.silhouette(pred) > 0.5)
    assert(Evaluate.daviesBouldin(pred, Seq("f1", "f2")) < 1.0)
    assert(Evaluate.calinskiHarabasz(pred, Seq("f1", "f2")) > 100.0)
  }

  test("tf-idf + logistic sentiment pipeline (M23)") {
    val texts = Seq.tabulate(200) { i =>
      if (i % 2 == 0) ("great movie awesome film", 1.0)
      else ("terrible movie bad film", 0.0)
    }
    val df = texts.toDF("text", "label")
    val feats = Features.tfidf("text").fit(df).transform(df)
    val pred = Models.logistic("label").fit(feats).transform(feats)
    assert(Evaluate.binaryMetrics(pred)("accuracy") == 1.0)
  }

  test("model-based quality filter: junk/clean separation on held-out docs, quota wiring") {
    // planted corpora from disjoint vocabularies — junk is the spammy
    // low-diversity register, clean the varied-prose one. Deterministic
    // combos (no RNG), so the fit and every score are reproducible.
    val junkVocab = Vector("buy", "cheap", "pills", "win", "prize",
      "casino", "click", "bonus", "offer", "deal")
    val cleanVocab = Vector("science", "river", "mountain", "history",
      "garden", "music", "painting", "theory", "harvest", "journey")
    def doc(v: Vector[String], i: Int): String =
      (0 until 8).map(j => v((i * 3 + j * 2) % v.size)).mkString(" ")
    val train = ((0 until 12).map(i => (doc(junkVocab, i), 0.0)) ++
      (0 until 12).map(i => (doc(cleanVocab, i), 1.0))).toDF("text", "label")
    val model = QualityModel.fit(train)
    // held-out: UNSEEN index range — different token combinations from
    // the same registers, labeled here only for the assertion
    val held = ((12 until 20).map(i => (100L + i, "srcA", doc(junkVocab, i), 0)) ++
      (12 until 20).map(i => (200L + i, "srcA", doc(cleanVocab, i), 1)) ++
      (12 until 16).map(i => (300L + i, "srcB", doc(junkVocab, i + 7), 0)) ++
      (12 until 16).map(i => (400L + i, "srcB", doc(cleanVocab, i + 7), 1)))
      .toDF("doc_id", "source", "text", "truth")
    val scored = QualityModel.score(model, held)
    // score() keeps the caller's frame + one new column, nothing else
    assert(scored.columns.toSeq ===
      Seq("doc_id", "source", "text", "truth", "quality_prob"))
    val rows = scored.select(col("truth"), col("quality_prob")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
    val junkMax = rows.collect { case (0, p) => p }.max
    val cleanMin = rows.collect { case (1, p) => p }.min
    assert(cleanMin > junkMax,
      s"no separation: clean min $cleanMin <= junk max $junkMax")
    assert(junkMax < 0.5 && cleanMin > 0.5,
      s"0.5 threshold doesn't separate: junk up to $junkMax, clean from $cleanMin")
    // the q100-style wiring: a salted per-source quota keyed on the
    // MODEL score must pick only clean docs, identically at salts=1
    // (the naive one-window plan) and the default 16 — the pigeonhole
    // exactness of saltedTopK, executed on the new primitive
    def picks(salts: Int): Set[Long] =
      operators.Sampling.saltedTopK(scored, col("source"), col("doc_id"),
        Seq(col("quality_prob").desc, col("doc_id")), k = 3, salts = salts)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val p16 = picks(16)
    assert(p16 === picks(1))
    assert(p16.size === 6 && p16.forall(id => id >= 200L),
      s"quota picked a junk doc: $p16")
    // r13 ADVICE: caller frames that already carry the old hard-coded
    // temp names must survive — the rank columns pick collision-free
    // names instead of overwriting-and-dropping the caller's `_r1`/`_r2`
    val withClash = scored.withColumn("_r1", lit(77)).withColumn("_r2", lit(88))
    val kept = operators.Sampling.saltedTopK(withClash, col("source"),
      col("doc_id"), Seq(col("quality_prob").desc, col("doc_id")), k = 3)
    assert(kept.columns.count(_ == "_r1") === 1 &&
      kept.columns.count(_ == "_r2") === 1)
    assert(kept.select("_r1", "_r2").distinct().collect().map(r =>
      (r.getInt(0), r.getInt(1))).toSeq === Seq((77, 88)))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet === p16)
    // the FROZEN-artifact contract (q108): extracting (vocab, idf, coef,
    // intercept) the way graft.tools.FitQualityModel does and evaluating
    // the literal left-fold margin must reproduce the live model's
    // probability — sigmoid(margin) ≈ quality_prob (BLAS sums in a
    // different order, hence tolerance, not bit-equality; the DuckDB
    // oracle never sees the live model and compares the fold exactly)
    val inner = model.stages(0)
      .asInstanceOf[org.apache.spark.ml.PipelineModel].stages
    val cv = inner.collectFirst {
      case m: org.apache.spark.ml.feature.CountVectorizerModel => m }.get
    val idfM = inner.collectFirst {
      case m: org.apache.spark.ml.feature.IDFModel => m }.get
    val lr = model.stages(1)
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val viaFold = scored.withColumn("_m",
      operators.Sampling.marginOf(col("text"), cv.vocabulary.toSeq,
        idfM.idf.toArray.toSeq, lr.coefficients.toArray.toSeq, lr.intercept))
      .select(col("doc_id"), col("quality_prob"),
        (lit(1.0) / (lit(1.0) + exp(-col("_m")))).as("_p"))
      .collect()
    viaFold.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
        s"doc ${r.getLong(0)}: model ${r.getDouble(1)} vs fold ${r.getDouble(2)}")
    }
  }

  test("VIF flags the collinear feature (M25)") {
    val df = regression
      .withColumn("x2", col("x") * 2.0 + randn(5) * 0.01) // ~perfectly collinear
      .withColumn("z", randn(6))
    val v = Customs.vif(df, Seq("x", "x2", "z"))
    assert(v("x") > 100.0 && v("x2") > 100.0 && v("z") < 2.0, v.toString)
  }

  test("confusion matrix pivot has the right mass (A14)") {
    val df = Features.assemble(blobs, Seq("f1", "f2"))
    val pred = Models.logistic("label").fit(df).transform(df)
    val cm = Evaluate.confusionMatrix(pred)
    val total = cm.select((col("`0.0`") + col("`1.0`")).as("s"))
      .agg(sum("s")).head.getLong(0)
    assert(total == 400)
  }
}
