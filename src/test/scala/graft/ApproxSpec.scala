package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._

/** Specs for the MLlib-gap approximations (SURVEY M7/M12/M22/M26/M27). */
class ApproxSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  // concentric-circles data: NOT linearly separable, RBF-separable —
  // the canonical kernel-SVM fixture (SVM.ipynb's RBF section)
  private lazy val circles: DataFrame = {
    val inner = spark.range(200).select(
      (randn(10) * 0.3).as("f1"), (randn(11) * 0.3).as("f2"),
      lit(0.0).as("label"))
    val angle = rand(12) * 2 * math.Pi
    val outer = spark.range(200).select(
      (cos(angle) * 2.0 + randn(13) * 0.2).as("f1"),
      (sin(angle) * 2.0 + randn(14) * 0.2).as("f2"),
      lit(1.0).as("label"))
    inner.unionByName(outer).cache()
  }

  // 900 inliers at origin + 100 outliers at (5,5) — the reference's
  // anomaly fixture (data_mining_Assignment1.ipynb cell 52)
  private lazy val anomalies: DataFrame = {
    val in = spark.range(900).select(
      randn(20).as("f1"), randn(21).as("f2"), lit(0).as("truth"))
    val out = spark.range(100).select(
      (randn(22) + 6.0).as("f1"), (randn(23) + 6.0).as("f2"), lit(1).as("truth"))
    in.unionByName(out).cache()
  }

  test("RFF + LinearSVC separates circles a linear SVC cannot (M12)", Soak) {
    val dfAsm = Features.assemble(circles, Seq("f1", "f2"))
    val linear = Models.linearSvc("label", c = 1.0, n = 400)
      .fit(dfAsm).transform(dfAsm)
    val linAcc = Evaluate.binaryMetrics(linear)("accuracy")
    val rbf = Approx.rbfSvc(circles, "label", Seq("f1", "f2"), d = 128, gamma = 1.0)
    val rbfAcc = Evaluate.binaryMetrics(rbf(circles))("accuracy")
    assert(linAcc < 0.75, s"linear should fail on circles, got $linAcc")
    assert(rbfAcc > 0.9, s"rbf approx should separate, got $rbfAcc")
  }

  test("RBF-SVC + OVR separates 3 concentric rings; decision-score ROC matches pair counting (M12)", Soak) {
    import org.apache.spark.ml.functions.vector_to_array
    // three rings at radii ~0 / 2 / 4 — radially separable ONLY, so OVR
    // over the shared RFF space must do what no linear multiclass can
    def ring(n: Int, r: Double, seed: Int, label: Double): DataFrame = {
      val angle = rand(seed) * 2 * math.Pi
      spark.range(n).select(
        (cos(angle) * r + randn(seed + 100) * 0.2).as("f1"),
        (sin(angle) * r + randn(seed + 200) * 0.2).as("f2"),
        lit(label).as("label"))
    }
    val rings = ring(150, 0.0, 60, 0.0)
      .unionByName(ring(150, 2.0, 61, 1.0))
      .unionByName(ring(150, 4.0, 62, 2.0)).cache()
    val scorer = Approx.rbfSvcOvr(rings, "label", Seq("f1", "f2"),
      d = 128, gamma = 0.5)
    val pred = scorer(rings)
    val acc = pred.filter(col("prediction") === col("label")).count().toDouble /
      pred.count()
    assert(acc > 0.85, s"OVR rbf accuracy=$acc")
    // binary decision-function ROC (SVM lab's roc_curve over
    // clf.decision_function): MLlib's AUC on the margin score must agree
    // with the definitional pair-counting AUC
    val bin = Approx.rbfSvc(circles, "label", Seq("f1", "f2"), d = 128)
    val scored = bin(circles)
      .select(col("label"), vector_to_array(col("rawPrediction"))(1).as("score"))
      .cache()
    val auc = Evaluate.rocAuc(scored, "label", "score")
    val rows = scored.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val pos = rows.filter(_._1 == 1.0).map(_._2)
    val neg = rows.filter(_._1 == 0.0).map(_._2)
    val bf = pos.map(p => neg.map(nn =>
      if (p > nn) 1.0 else if (p == nn) 0.5 else 0.0).sum).sum /
      (pos.length.toDouble * neg.length)
    assert(math.abs(auc - bf) < 1e-6, s"evaluator AUC $auc vs pair-count $bf")
    assert(auc > 0.95, s"decision-score AUC=$auc")
    scored.unpersist(); rings.unpersist()
  }

  test("gaussian-tail anomaly scoring flags the planted outliers (M22)") {
    val scored = Approx.gaussianAnomaly(anomalies, Seq("f1", "f2"), threshold = 3.0)
    val m = Evaluate.binaryMetrics(
      scored.withColumnRenamed("truth", "label")
        .withColumnRenamed("is_anomaly", "prediction"))
    // outliers inflate the fitted sigma, so recall tops out just under
    // 0.9 at threshold 3.0 — precision stays 1.0
    assert(m("recall") > 0.85, m.toString)
    assert(m("precision") > 0.9, m.toString)
  }

  test("kmeans-distance anomaly scoring also separates (M22 alt)") {
    val scored = Approx.kmeansAnomaly(anomalies, Seq("f1", "f2"), k = 2,
      threshold = 2.0)
    // outliers form their own tight cluster ⇒ their distance is small;
    // this variant flags points far from ANY center — verify it runs and
    // produces scores with the inlier bulk below threshold
    assert(scored.filter(col("anomaly_score").isNull).count() == 0)
    val flaggedFrac = scored.filter(col("is_anomaly") === 1).count().toDouble /
      scored.count()
    assert(flaggedFrac < 0.2, s"flagged $flaggedFrac")
  }

  test("CV-pruned tree picks a bounded depth (M7)") {
    val df = Features.assemble(circles, Seq("f1", "f2"))
    val best = Approx.cvPrunedTree(df, "label", depths = Seq(2, 4, 8),
      minGains = Seq(0.0, 0.01))
    assert(best.depth <= 8)
    val acc = Evaluate.binaryMetrics(best.transform(df))("accuracy")
    assert(acc > 0.9, s"tree acc=$acc") // circles are axis-box separable
  }

  test("ANOVA F-test prefers the informative added regressor (M26)") {
    val df = spark.range(300).select(randn(30).as("x1"), randn(31).as("x2"))
      .withColumn("y", col("x1") * 2.0 + col("x2") * 1.5 + randn(32) * 0.5)
      .withColumn("junk", randn(33))
    val (fGood, _, _) = Approx.anovaF(df, "y", Seq("x1"), Seq("x1", "x2"))
    val (fJunk, _, _) = Approx.anovaF(df, "y", Seq("x1", "x2"), Seq("x1", "x2", "junk"))
    assert(fGood > 100.0, s"F for real regressor = $fGood")
    assert(fJunk < 10.0, s"F for junk regressor = $fJunk")
  }

  test("OLS influence diagnostics match the closed-form hat/studentized values (M27)") {
    import spark.implicits._
    // simple regression has textbook closed forms:
    //   h_i = 1/n + (x_i − x̄)²/Sxx,  t_i = e_i/√(s²(1−h_i)), s² = RSS/(n−2)
    // — an INDEPENDENT derivation of what influenceDiagnostics computes
    // via the inverse moment matrix. x=10 is the planted high-leverage pt.
    val pts = Seq((1.0, 2.1), (2.0, 3.9), (3.0, 6.2), (4.0, 8.1),
      (5.0, 9.7), (10.0, 21.0))
    val diag = Approx.influenceDiagnostics(pts.toDF("x", "y"), "y", Seq("x"))
      .collect().map(r => r.getAs[Double]("x") ->
        ((r.getAs[Double]("leverage"), r.getAs[Double]("residual"),
          r.getAs[Double]("student_resid")))).toMap
    val n = pts.size
    val xbar = pts.map(_._1).sum / n
    val sxx = pts.map(t => (t._1 - xbar) * (t._1 - xbar)).sum
    val slope = pts.map(t => (t._1 - xbar) * t._2).sum / sxx
    val icpt = pts.map(_._2).sum / n - slope * xbar
    val resid = pts.map { case (x, yy) => x -> (yy - (icpt + slope * x)) }.toMap
    val s2 = resid.values.map(e => e * e).sum / (n - 2)
    pts.foreach { case (x, _) =>
      val h = 1.0 / n + (x - xbar) * (x - xbar) / sxx
      assert(math.abs(diag(x)._1 - h) < 1e-8, s"leverage at x=$x: ${diag(x)._1} vs $h")
      assert(math.abs(diag(x)._2 - resid(x)) < 1e-8, s"residual at x=$x")
      val t = resid(x) / math.sqrt(s2 * (1.0 - h))
      assert(math.abs(diag(x)._3 - t) < 1e-8, s"studentized at x=$x: ${diag(x)._3} vs $t")
    }
    val hs = diag.values.map(_._1)
    assert(math.abs(hs.sum - 2.0) < 1e-8, "trace of hat matrix must be p+1")
    assert(diag(10.0)._1 == hs.max, "the far point must carry the top leverage")
  }

  test("influence diagnostics hold hat-matrix invariants on a 2-feature fit (M27)") {
    val df = spark.range(200).select(randn(50).as("x1"), randn(51).as("x2"))
      .withColumn("y", col("x1") * 2.0 - col("x2") + randn(52) * 0.4)
    val diag = Approx.influenceDiagnostics(df, "y", Seq("x1", "x2")).cache()
    // 0 < h ≤ 1 row-wise; Σh = p+1 = 3; residuals orthogonal to the design
    assert(diag.filter(col("leverage") <= 0.0 || col("leverage") > 1.0).count() == 0)
    val hsum = diag.agg(sum("leverage")).head.getDouble(0)
    assert(math.abs(hsum - 3.0) < 1e-6, s"trace=$hsum")
    val dots = diag.agg(sum(col("residual")),
      sum(col("residual") * col("x1")), sum(col("residual") * col("x2"))).head
    Seq(0, 1, 2).foreach(i => assert(math.abs(dots.getDouble(i)) < 1e-6,
      s"residual not orthogonal to design col $i: ${dots.getDouble(i)}"))
    diag.unpersist()
  }

  test("residual diagnostics standardize to unit scale (M27)") {
    val df = Features.assemble(
      spark.range(300).select(randn(40).as("x"))
        .withColumn("y", col("x") + randn(41) * 0.3), Seq("x"))
    val fit = Models.olsSummary(df, "y")
    val pred = fit.model.transform(df)
    val diag = Approx.residualDiagnostics(pred, "y")
    val sd = diag.agg(stddev_samp(col("std_residual"))).head.getDouble(0)
    assert(math.abs(sd - 1.0) < 0.05, s"std_residual sd=$sd")
  }

  test("inverse normal CDF matches known quantiles (M27 Q-Q)") {
    assert(math.abs(Approx.invNormalCdf(0.5)) < 1e-12)
    assert(math.abs(Approx.invNormalCdf(0.975) - 1.959963985) < 1e-6)
    assert(math.abs(Approx.invNormalCdf(0.025) + 1.959963985) < 1e-6)
    assert(math.abs(Approx.invNormalCdf(0.841344746) - 1.0) < 1e-6)
    // symmetry across the approximation's region boundaries (0.02425)
    Seq(0.001, 0.01, 0.02, 0.03, 0.2).foreach { p =>
      assert(math.abs(Approx.invNormalCdf(p) + Approx.invNormalCdf(1 - p)) < 1e-8,
        s"asymmetric at $p")
    }
  }

  test("Q-Q against normal data lies on the diagonal; exponential data departs (M27)") {
    val normal = spark.range(5000).select(randn(50).as("v"))
    val qqN = Approx.qqNormal(normal, "v")
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    // least-squares line through the 99 QQ points
    def line(pts: Array[(Double, Double)]): (Double, Double) = {
      val n = pts.length
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      (slope, (sy - slope * sx) / n)
    }
    val (slopeN, interceptN) = line(qqN)
    assert(math.abs(slopeN - 1.0) < 0.1, s"normal QQ slope $slopeN")
    assert(math.abs(interceptN) < 0.05, s"normal QQ intercept $interceptN")
    // exp(1) is right-skewed: its standardized upper tail must sit WELL
    // above the normal quantile while the lower tail is compressed
    val expo = spark.range(5000).select((-log(rand(51))).as("v"))
    val qqE = Approx.qqNormal(expo, "v")
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val topGap = qqE.last._2 - qqE.last._1
    val botGap = qqE.head._2 - qqE.head._1
    assert(topGap > 0.5, s"exp upper tail should exceed normal: $topGap")
    assert(botGap > 0.5, s"exp lower tail should be compressed: $botGap")
  }

  test("Q-Q scatter renders deterministically via the plot sink (M27/S15)") {
    val normal = spark.range(2000).select(randn(52).as("v"))
    val qq = Approx.qqNormal(normal, "v")
    val dir = tempDir("graft_qq").toString
    val f1 = graft.sources.PlotSink.scatter(qq, "theoretical_q", "sample_q",
      s"$dir/qq1.png", refLine = true)
    val f2 = graft.sources.PlotSink.scatter(qq, "theoretical_q", "sample_q",
      s"$dir/qq2.png", refLine = true)
    assert(f1.exists() && f1.length() > 0)
    val img = javax.imageio.ImageIO.read(f1)
    val blue = new java.awt.Color(31, 119, 180).getRGB
    val pixels = for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
      yield img.getRGB(x, y)
    assert(pixels.contains(blue), "expected scatter points in the render")
    assert(pixels.contains(java.awt.Color.GRAY.getRGB), "expected the y=x reference line")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(f1.toPath),
      java.nio.file.Files.readAllBytes(f2.toPath)))
  }
}
