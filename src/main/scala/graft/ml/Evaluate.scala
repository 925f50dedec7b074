package graft.ml

import org.apache.spark.ml.evaluation._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evaluation layer (SURVEY §2.7 M24/A14/M14): classification /
  * regression metrics as single-pass aggregations, the confusion-matrix
  * pivot, and split helpers. Everything computes distributed; only the
  * final scalar(s) reach the driver.
  */
object Evaluate {

  /** Confusion matrix (A14): label rows × prediction columns. */
  def confusionMatrix(pred: DataFrame, labelCol: String = "label",
                      predCol: String = "prediction"): DataFrame =
    pred.groupBy(col(labelCol)).pivot(predCol).count()
      .na.fill(0L).orderBy(col(labelCol))

  /** Binary classification metrics from one conditional-agg pass. */
  def binaryMetrics(pred: DataFrame, labelCol: String = "label",
                    predCol: String = "prediction"): Map[String, Double] = {
    val r = pred.agg(
      sum(when(col(labelCol) === 1 && col(predCol) === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col(labelCol) === 0 && col(predCol) === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(col(labelCol) === 1 && col(predCol) === 0, 1L).otherwise(0L)).as("fn"),
      sum(when(col(labelCol) === 0 && col(predCol) === 0, 1L).otherwise(0L)).as("tn"))
      .head
    val (tp, fp, fn, tn) =
      (r.getLong(0).toDouble, r.getLong(1).toDouble, r.getLong(2).toDouble, r.getLong(3).toDouble)
    val precision = if (tp + fp == 0) 0.0 else tp / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp / (tp + fn)
    Map(
      "accuracy" -> (tp + tn) / (tp + fp + fn + tn),
      "precision" -> precision,
      "recall" -> recall,
      "f1" -> (if (precision + recall == 0) 0.0
               else 2 * precision * recall / (precision + recall)),
      "zeroOneLoss" -> (fp + fn) / (tp + fp + fn + tn))
  }

  /** Regression metrics incl. the customs MLlib lacks (MAPE/SMAPE),
    * one aggregation pass (M24). */
  def regressionMetrics(pred: DataFrame, labelCol: String = "label",
                        predCol: String = "prediction"): Map[String, Double] = {
    val e = col(labelCol) - col(predCol)
    // zero-label rows are excluded from MAPE (the standard convention —
    // and a DIVIDE_BY_ZERO under ANSI otherwise); SMAPE term is defined
    // as 0 when label and prediction are both 0
    val smapeDen = abs(col(labelCol)) + abs(col(predCol))
    val r = pred.agg(
      sqrt(avg(e * e)).as("rmse"),
      avg(abs(e)).as("mae"),
      coalesce(avg(when(col(labelCol) =!= 0.0, abs(e) / abs(col(labelCol)))),
        lit(Double.NaN)).as("mape"), // all-zero labels ⇒ NaN, not an NPE
      avg(when(smapeDen =!= 0.0, lit(2.0) * abs(e) / smapeDen).otherwise(0.0)).as("smape"),
      // R² from moments: 1 − SS_res / (n·var_pop(y)) — single pass
      (lit(1.0) - sum(e * e) / (count(lit(1)) * var_pop(col(labelCol)))).as("r2"))
      .head
    Map("rmse" -> r.getDouble(0), "mae" -> r.getDouble(1),
      "mape" -> r.getDouble(2), "smape" -> r.getDouble(3), "r2" -> r.getDouble(4))
  }

  /** ROC-AUC via MLlib's evaluator (M24). `rawCol` is the score column. */
  def rocAuc(pred: DataFrame, labelCol: String = "label",
             rawCol: String = "rawPrediction"): Double =
    new BinaryClassificationEvaluator().setLabelCol(labelCol)
      .setRawPredictionCol(rawCol).setMetricName("areaUnderROC")
      .evaluate(pred)

  /** Silhouette (M21) via ClusteringEvaluator. */
  def silhouette(pred: DataFrame, featuresCol: String = "features",
                 predCol: String = "prediction"): Double =
    new ClusteringEvaluator().setFeaturesCol(featuresCol)
      .setPredictionCol(predCol).evaluate(pred)

  /** Davies-Bouldin index (M21 custom): lower is better. Centroids and
    * scatters from one grouped agg over the feature columns. */
  def daviesBouldin(pred: DataFrame, features: Seq[String],
                    predCol: String = "prediction"): Double = {
    // collect centroids (k×p scalars), then per-cluster scatter aggs
    val centroids = pred.groupBy(col(predCol).as("_k"))
      .agg(features.map(f => avg(col(f)).as(f)).head,
           features.map(f => avg(col(f)).as(f)).tail: _*)
      .collect().map(r => r.getAs[Any]("_k").toString.toDouble ->
        features.map(f => r.getAs[Double](f)).toArray).toMap
    // ONE grouped pass for all scatters: map each row to its own
    // cluster's centroid distance via a CASE chain over the (few)
    // collected centroids, then groupBy — not k filter+agg jobs
    val distToOwn = centroids.foldLeft(lit(Double.NaN)) { case (acc, (k, c)) =>
      val d2 = features.zipWithIndex.map { case (f, i) =>
        pow(col(f) - lit(c(i)), 2) }.reduce(_ + _)
      when(col(predCol) === k, sqrt(d2)).otherwise(acc)
    }
    val scatters = pred.withColumn("_down", distToOwn)
      .groupBy(col(predCol).as("_k")).agg(avg(col("_down")).as("_s"))
      .collect()
      .map(r => r.getAs[Any]("_k").toString.toDouble -> r.getAs[Double]("_s"))
      .toMap
    val ks = centroids.keys.toSeq.sorted
    val ratios = for (i <- ks; j <- ks if i != j) yield {
      val dij = math.sqrt(centroids(i).zip(centroids(j))
        .map { case (a, b) => (a - b) * (a - b) }.sum)
      (i, (scatters(i) + scatters(j)) / dij)
    }
    ks.map(i => ratios.filter(_._1 == i).map(_._2).max).sum / ks.size
  }

  /** Calinski-Harabasz index (M21 custom): higher is better. */
  def calinskiHarabasz(pred: DataFrame, features: Seq[String],
                       predCol: String = "prediction"): Double = {
    val n = pred.count().toDouble
    val global = pred.agg(features.map(f => avg(col(f)).as(f)).head,
      features.map(f => avg(col(f)).as(f)).tail: _*).head
    val g = features.map(f => global.getAs[Double](f)).toArray
    val per = pred.groupBy(col(predCol).as("_k"))
      .agg(count(lit(1)).as("_n"), features.map(f => avg(col(f)).as(f)): _*)
      .collect()
    val k = per.length
    val bss = per.map { r =>
      val nk = r.getAs[Long]("_n").toDouble
      nk * features.zipWithIndex.map { case (f, i) =>
        val d = r.getAs[Double](f) - g(i); d * d }.sum
    }.sum
    // single pass: CASE-map each row to its own cluster's squared
    // centroid distance, then one global sum
    val d2ToOwn = per.foldLeft(lit(Double.NaN)) { (acc, r) =>
      val kk = r.getAs[Any]("_k")
      val d2 = features.map(f =>
        pow(col(f) - lit(r.getAs[Double](f)), 2)).reduce(_ + _)
      when(col(predCol) === kk, d2).otherwise(acc)
    }
    val wss = pred.agg(sum(d2ToOwn)).head.getDouble(0)
    (bss / (k - 1)) / (wss / (n - k))
  }
}
