package graft.ml

import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector, Matrices, Vectors}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Custom estimators for the reference operators Spark MLlib lacks
  * (SURVEY §2.7 M3/M4/M25/M15/M16): LDA/QDA Gaussian classifiers, exact
  * KNN, VIF, bootstrap SE, forward stepwise selection.
  *
  * Design: fitting collects only O(k·p²) sufficient statistics to the
  * driver (class means/covariances — tiny regardless of row count);
  * scoring is pushed back down as a generated column expression, so
  * predictions stay distributed and codegen'd. No per-row driver work.
  */
object Customs {

  /** Per-class Gaussian fit: priors, means, covariances (pooled for LDA,
    * per-class for QDA) from one `Summarizer` pass per class. */
  case class GaussianClassStats(label: Double, prior: Double,
                                mean: Array[Double], cov: Array[Array[Double]])

  private def classStats(df: DataFrame, labelCol: String, features: Seq[String]): Seq[GaussianClassStats] = {
    val p = features.size
    val assembled = Features.assemble(df, features, "_x")
    val total = df.count().toDouble
    val rows = assembled.groupBy(col(labelCol).cast("double").as("_label"))
      .agg(count(lit(1)).as("_n"),
        Summarizer.mean(col("_x")).as("_mean"),
        Summarizer.variance(col("_x")).as("_var"))
      .collect()
    // covariance needs cross-moments: E[xi·xj] per class via p² aggregates
    val crossAggs = for (i <- 0 until p; j <- i until p) yield
      avg(col(features(i)) * col(features(j))).as(s"_m_${i}_$j")
    val cross = df.groupBy(col(labelCol).cast("double").as("_label"))
      .agg(crossAggs.head, crossAggs.tail: _*)
      .collect().map(r => r.getDouble(0) -> r).toMap
    rows.map { r =>
      val label = r.getDouble(0)
      val n = r.getLong(1).toDouble
      val mean = r.getAs[DenseVector]("_mean").toArray
      val cr = cross(label)
      val cov = Array.ofDim[Double](p, p)
      for (i <- 0 until p; j <- i until p) {
        val eij = cr.getAs[Double](s"_m_${i}_$j")
        val c = (eij - mean(i) * mean(j)) * n / (n - 1) // sample covariance
        cov(i)(j) = c; cov(j)(i) = c
      }
      GaussianClassStats(label, n / total, mean, cov)
    }.sortBy(_.label)
  }

  private[ml] def invertAndLogDet(m: Array[Array[Double]]): (Array[Array[Double]], Double) = {
    // Gauss-Jordan with partial pivoting; p is small (features count)
    val p = m.length
    val a = Array.tabulate(p, 2 * p)((i, j) =>
      if (j < p) m(i)(j) else if (j - p == i) 1.0 else 0.0)
    var logDet = 0.0
    for (c <- 0 until p) {
      val piv = (c until p).maxBy(r => math.abs(a(r)(c)))
      if (piv != c) { val t = a(piv); a(piv) = a(c); a(c) = t }
      // covariance matrices are PSD ⇒ det > 0; log|det| unaffected by swaps
      val d = a(c)(c)
      logDet += math.log(math.abs(d))
      for (j <- 0 until 2 * p) a(c)(j) /= d
      for (r <- 0 until p if r != c) {
        val f = a(r)(c)
        for (j <- 0 until 2 * p) a(r)(j) -= f * a(c)(j)
      }
    }
    (Array.tabulate(p, p)((i, j) => a(i)(j + p)), logDet)
  }

  /** Discriminant classifier. `pooled=true` → LDA (shared covariance),
    * else QDA (per-class covariance + log-det term). Returns the input
    * with a `prediction` column built as a pure column expression
    * (distributed scoring, no UDF). */
  def discriminantAnalysis(train: DataFrame, score: DataFrame, labelCol: String,
                           features: Seq[String], pooled: Boolean): DataFrame = {
    val stats = classStats(train, labelCol, features)
    val p = features.size
    val pooledCov: Array[Array[Double]] =
      if (!pooled) null
      else {
        val nTotal = stats.map(_.prior).sum // priors sum to 1; weight by prior
        Array.tabulate(p, p)((i, j) =>
          stats.map(s => s.prior * s.cov(i)(j)).sum / nTotal)
      }
    // per-class discriminant: -0.5·(x-μ)ᵀ Σ⁻¹ (x-μ) - 0.5·log|Σ| + log π
    val scores: Seq[(Double, Column)] = stats.map { s =>
      val (inv, logDet) = invertAndLogDet(if (pooled) pooledCov else s.cov)
      val diffs = features.indices.map(i => col(features(i)) - lit(s.mean(i)))
      val quad = (for (i <- 0 until p; j <- 0 until p) yield
        diffs(i) * diffs(j) * lit(inv(i)(j))).reduce(_ + _)
      val disc = lit(-0.5) * quad +
        lit(if (pooled) 0.0 else -0.5 * logDet) + lit(math.log(s.prior))
      s.label -> disc
    }
    // argmax over class discriminants via greatest + chained when
    val best = greatest(scores.map(_._2): _*)
    val pred = scores.foldLeft(lit(Double.NaN)) { case (acc, (label, sc)) =>
      when(sc === best, lit(label)).otherwise(acc)
    }
    score.withColumn("prediction", pred)
  }

  def lda(train: DataFrame, score: DataFrame, labelCol: String,
          features: Seq[String]): DataFrame =
    discriminantAnalysis(train, score, labelCol, features, pooled = true)

  /** Exact KNN classifier (M4): candidate pairs via broadcast of the
    * (small) test side, vote by majority among the k nearest. Exact — the
    * LSH route in operators.Similarity is the at-scale approximation. */
  def knn(train: DataFrame, test: DataFrame, labelCol: String,
          features: Seq[String], k: Int, idCol: String): DataFrame = {
    val dist2 = features.map(f =>
      pow(col(s"tr_$f") - col(s"te_$f"), 2)).reduce(_ + _)
    val tr = train.select(
      (features.map(f => col(f).as(s"tr_$f")) :+ col(labelCol).as("_trlabel")): _*)
    val te = test.select(
      (features.map(f => col(f).as(s"te_$f")) :+ col(idCol).as("_teid")): _*)
    val w = Window.partitionBy(col("_teid")).orderBy(col("_d2"), col("_trlabel"))
    tr.crossJoin(broadcast(te))
      .withColumn("_d2", dist2)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy(col("_teid"), col("_trlabel"))
      .agg(count(lit(1)).as("_votes"), min(col("_rn")).as("_nearest"))
      .withColumn("_rank", row_number().over(
        Window.partitionBy(col("_teid"))
          .orderBy(desc("_votes"), col("_nearest"), col("_trlabel"))))
      .filter(col("_rank") === 1)
      .select(col("_teid").as(idCol), col("_trlabel").as("prediction"))
  }

  /** Variance-inflation factors (M25): per-feature auxiliary OLS →
    * 1/(1−R²). Driver loop over p lazy fits — p is small, rows stay
    * distributed. */
  def vif(df: DataFrame, features: Seq[String]): Map[String, Double] =
    features.map { f =>
      val others = features.filterNot(_ == f)
      val fit = Models.olsSummary(Features.assemble(df, others, "_vx")
        .withColumnRenamed(f, "_vy"), "_vy", "_vx")
      f -> (if (fit.r2 >= 1.0) Double.PositiveInfinity else 1.0 / (1.0 - fit.r2))
    }.toMap

  /** Bootstrap standard error of a statistic (M15: B resamples with
    * replacement, SE of the statistic across resamples). The statistic
    * is any DataFrame → Double aggregation; each resample is a lazy
    * distributed `sample`, the loop is driver-side over B jobs. */
  def bootstrapSE(df: DataFrame, statistic: DataFrame => Double,
                  b: Int = 100, seed: Long = 42L): Double = {
    val stats = (0 until b).map { i =>
      statistic(df.sample(withReplacement = true, 1.0, seed + i))
    }
    val mean = stats.sum / b
    math.sqrt(stats.map(x => (x - mean) * (x - mean)).sum / (b - 1))
  }

  /** One fitted support from [[bestSubset]]: the minimum-RSS model among
    * all C(p,k) supports of size `k`. */
  case class SubsetFit(k: Int, support: Seq[String], intercept: Double,
                       coef: Map[String, Double], rss: Double, r2: Double)

  /** M17 — exact best-subset selection (the reference's `l0bnb`
    * best-subset path, explained_codes.ipynb:~1405 (cell 29)), re-derived
    * Spark-first: ONE aggregation pass collects the (p+1)² cross-moments
    * XᵀX, Xᵀy and yᵀy — the same sufficient statistics the OLS /
    * influence closed forms use — then the driver enumerates every
    * support of size ≤ `maxK` and solves each restricted normal system
    * FROM THOSE MOMENTS. Zero further scans: row count never re-enters.
    *
    * A single-node MIP solver is the wrong shape at 100 TB; for the
    * small p the notebooks use (p ≤ ~20), sufficient-statistics
    * enumeration is EXACT (global optimum per support size, which is
    * what the l0 path reports) and costs one scan plus 2^p tiny
    * driver-side solves. Rank-deficient supports (non-finite RSS) are
    * skipped rather than reported as spurious zeros.
    */
  /** ONE-pass OLS sufficient statistics over the intercept-augmented
    * design: (XᵀX, Xᵀy, yᵀy or NaN). The single home of this
    * numerically sensitive agg list — [[bestSubset]] and the
    * `Approx` diagnostics/interval surfaces all draw from it. */
  private[ml] def crossMoments(df: DataFrame, labelCol: String,
                               features: Seq[String], withYY: Boolean):
      (Array[Array[Double]], Array[Double], Double) = {
    val p = features.size
    val xs: Seq[Column] = lit(1.0) +: features.map(f => col(f).cast("double"))
    val y = col(labelCol).cast("double")
    val aggs =
      (for (a <- 0 to p; b <- a to p)
        yield sum(xs(a) * xs(b)).as(s"_xx_${a}_$b")) ++
      (0 to p).map(a => sum(xs(a) * y).as(s"_xy_$a")) ++
      (if (withYY) Seq(sum(y * y).as("_yy")) else Nil)
    val r = df.agg(aggs.head, aggs.tail: _*).head
    val xtx = Array.tabulate(p + 1, p + 1)((a, b) =>
      if (a <= b) r.getAs[Double](s"_xx_${a}_$b")
      else r.getAs[Double](s"_xx_${b}_$a"))
    val xty = Array.tabulate(p + 1)(a => r.getAs[Double](s"_xy_$a"))
    (xtx, xty, if (withYY) r.getAs[Double]("_yy") else Double.NaN)
  }

  def bestSubset(df: DataFrame, labelCol: String, features: Seq[String],
                 maxK: Int): Seq[SubsetFit] = {
    val p = features.size
    require(p <= 20, s"bestSubset enumerates subsets of p=$p features; cap is 20")
    val (xtx, xty, yy) = crossMoments(df, labelCol, features, withYY = true)
    val n = xtx(0)(0) // Σ1
    require(n > 1, s"bestSubset needs at least 2 rows, got $n")
    val tss = yy - xty(0) * xty(0) / n // Σ(y−ȳ)²; xty(0) = Σy
    (1 to math.min(maxK, p)).flatMap { k =>
      val fits = features.indices.combinations(k).flatMap { s =>
        val sel = 0 +: s.map(_ + 1)
        val a = Array.tabulate(k + 1, k + 1)((i, j) => xtx(sel(i))(sel(j)))
        val b = Array.tabulate(k + 1)(i => xty(sel(i)))
        val (inv, _) = invertAndLogDet(a)
        val beta = Array.tabulate(k + 1)(i => (0 to k).map(j => inv(i)(j) * b(j)).sum)
        val rss = yy - (0 to k).map(i => beta(i) * b(i)).sum
        // reject rank-deficient supports: a singular XᵀX slips through
        // Gauss-Jordan as a huge-but-finite inverse, so validate the
        // normal equations A·β = b instead of trusting the RSS value
        val resid = (0 to k).map(i =>
          math.abs((0 to k).map(j => a(i)(j) * beta(j)).sum - b(i))).max
        val scale = 1.0 + b.map(math.abs).max
        if (!rss.isFinite || resid > 1e-6 * scale) None
        else {
          val rc = math.max(rss, 0.0)
          Some(SubsetFit(k, s.map(features), beta(0),
            s.map(features).zip(beta.drop(1)).toMap, rc, 1.0 - rc / tss))
        }
      }.toSeq
      if (fits.isEmpty) None else Some(fits.minBy(_.rss))
    }
  }

  /** Forward stepwise selection by validation MSE (M16): greedy add-one
    * driver loop; each candidate fit is distributed. Returns the chosen
    * feature order with the validation MSE at each step. */
  def forwardStepwise(train: DataFrame, valid: DataFrame, labelCol: String,
                      candidates: Seq[String], maxK: Int): Seq[(Seq[String], Double)] = {
    def mse(feats: Seq[String]): Double = {
      val fit = Models.olsSummary(Features.assemble(train, feats, "_sx"), labelCol, "_sx")
      val pred = fit.model.setFeaturesCol("_sx")
        .transform(Features.assemble(valid, feats, "_sx"))
      pred.select(avg(pow(col(labelCol) - col(fit.model.getPredictionCol), 2)))
        .head.getDouble(0)
    }
    var chosen = Seq.empty[String]
    var out = Seq.empty[(Seq[String], Double)]
    while (chosen.size < maxK) {
      val best = candidates.filterNot(chosen.contains)
        .map(f => f -> mse(chosen :+ f)).minBy(_._2)
      chosen = chosen :+ best._1
      out = out :+ (chosen, best._2)
    }
    out
  }
}
