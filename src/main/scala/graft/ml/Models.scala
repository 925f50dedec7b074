package graft.ml

import org.apache.spark.ml.classification._
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.evaluation._
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.regression._
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.Estimator
import org.apache.spark.sql.DataFrame

/** Model layer (SURVEY §2.7): the sklearn/statsmodels estimators the
  * reference exercises, mapped to `org.apache.spark.ml`. Thin,
  * opinionated constructors (seeded, sane defaults) plus the summary
  * extraction the notebooks rely on (coefficient tables, staged errors,
  * inertia) — returned as DataFrames so results stay in the engine.
  */
object Models {

  /** OLS with the full statsmodels-style coefficient table
    * (M1: estimate / std error / t / p per term, plus R², via the normal
    * solver — exact least squares like `sm.OLS`). */
  def olsSummary(df: DataFrame, labelCol: String,
                 featuresCol: String = "features"): OlsFit = {
    val lr = new LinearRegression()
      .setLabelCol(labelCol).setFeaturesCol(featuresCol)
      .setSolver("normal").setRegParam(0.0)
    val model = lr.fit(df)
    val s = model.summary
    OlsFit(model,
      coefficients = model.coefficients.toArray :+ model.intercept,
      stdErrors = s.coefficientStandardErrors,
      tValues = s.tValues, pValues = s.pValues,
      r2 = s.r2, rmse = s.rootMeanSquaredError)
  }

  case class OlsFit(model: LinearRegressionModel, coefficients: Array[Double],
                    stdErrors: Array[Double], tValues: Array[Double],
                    pValues: Array[Double], r2: Double, rmse: Double)

  /** Logistic regression (M2). */
  def logistic(labelCol: String, featuresCol: String = "features",
               regParam: Double = 0.0): LogisticRegression =
    new LogisticRegression().setLabelCol(labelCol).setFeaturesCol(featuresCol)
      .setRegParam(regParam)

  /** Gaussian Naive Bayes (M5). */
  def gaussianNB(labelCol: String, featuresCol: String = "features"): NaiveBayes =
    new NaiveBayes().setModelType("gaussian")
      .setLabelCol(labelCol).setFeaturesCol(featuresCol)

  /** Decision tree classifier, entropy criterion (M6:
    * `DecisionTreeClassifier(criterion='entropy', max_depth=d)`). */
  def decisionTree(labelCol: String, maxDepth: Int = 3,
                   featuresCol: String = "features"): DecisionTreeClassifier =
    new DecisionTreeClassifier().setImpurity("entropy").setMaxDepth(maxDepth)
      .setLabelCol(labelCol).setFeaturesCol(featuresCol).setSeed(42L)

  def decisionTreeRegressor(labelCol: String, maxDepth: Int = 5,
                            featuresCol: String = "features"): DecisionTreeRegressor =
    new DecisionTreeRegressor().setMaxDepth(maxDepth)
      .setLabelCol(labelCol).setFeaturesCol(featuresCol).setSeed(42L)

  /** Random forest; `featureSubsetStrategy="all"` reproduces bagging
    * (M8: bagging = RF over all features). */
  def randomForest(labelCol: String, numTrees: Int = 100,
                   featureSubset: String = "sqrt",
                   featuresCol: String = "features"): RandomForestRegressor =
    new RandomForestRegressor().setNumTrees(numTrees)
      .setFeatureSubsetStrategy(featureSubset)
      .setLabelCol(labelCol).setFeaturesCol(featuresCol).setSeed(42L)

  def randomForestClassifier(labelCol: String, numTrees: Int = 100,
                             featuresCol: String = "features"): RandomForestClassifier =
    new RandomForestClassifier().setNumTrees(numTrees)
      .setLabelCol(labelCol).setFeaturesCol(featuresCol).setSeed(42L)

  /** Gradient boosting (M9) with staged-error extraction
    * (`evaluateEachIteration` ≡ sklearn's staged_predict error curve). */
  def gbt(labelCol: String, maxIter: Int = 50, stepSize: Double = 0.1,
          maxDepth: Int = 3, featuresCol: String = "features"): GBTRegressor =
    new GBTRegressor().setMaxIter(maxIter).setStepSize(stepSize)
      .setMaxDepth(maxDepth)
      .setLabelCol(labelCol).setFeaturesCol(featuresCol).setSeed(42L)

  def gbtStagedErrors(model: GBTRegressionModel, df: DataFrame): Array[Double] =
    model.evaluateEachIteration(df, "squared")

  /** Linear SVM (M11). sklearn's C maps to regParam ≈ 1/(n·C). */
  def linearSvc(labelCol: String, c: Double, n: Long,
                featuresCol: String = "features"): LinearSVC =
    new LinearSVC().setRegParam(1.0 / (n * c))
      .setLabelCol(labelCol).setFeaturesCol(featuresCol)

  /** One-vs-rest multiclass wrapper (M12's OVO surface — OVR is the
    * MLlib-native strategy; semantic delta recorded in Scaladoc). */
  def oneVsRest(base: Classifier[_, _, _], labelCol: String): OneVsRest =
    new OneVsRest().setClassifier(base).setLabelCol(labelCol)

  /** KMeans with inertia (M21: `inertia_` ≡ summary.trainingCost). */
  def kmeans(k: Int, featuresCol: String = "features"): KMeans =
    new KMeans().setK(k).setFeaturesCol(featuresCol).setSeed(42L)

  def inertia(model: KMeansModel): Double = model.summary.trainingCost

  /** Elbow curve: inertia per k (the notebook's `for k in range…` loop,
    * data_mining_Assignment1.ipynb cell 52). */
  def elbow(df: DataFrame, ks: Seq[Int],
            featuresCol: String = "features"): Seq[(Int, Double)] =
    ks.map(k => k -> inertia(kmeans(k, featuresCol).fit(df)))

  /** PCA with explained-variance ratio and the 95% component cutoff
    * (M19: `np.argmax(cumsum >= 0.95) + 1`). */
  def pca(k: Int, featuresCol: String = "features",
          out: String = "pca"): PCA =
    new PCA().setK(k).setInputCol(featuresCol).setOutputCol(out)

  def componentsFor(explained: Array[Double], target: Double = 0.95): Int = {
    val cum = explained.scanLeft(0.0)(_ + _).drop(1)
    cum.indexWhere(_ >= target) match { case -1 => explained.length; case i => i + 1 }
  }

  /** k-fold CV + grid search (M13: GridSearchCV(cv=k, refit=True)). */
  def crossValidate(est: Estimator[_], grid: Array[ParamMap],
                    evaluator: Evaluator, folds: Int = 5): CrossValidator =
    new CrossValidator().setEstimator(est).setEstimatorParamMaps(grid)
      .setEvaluator(evaluator).setNumFolds(folds).setSeed(42L)

  /** Convenience grid builder for a single hyperparameter sweep. */
  def grid[T](param: org.apache.spark.ml.param.Param[T], values: Seq[T]): Array[ParamMap] =
    values.map(v => ParamMap(org.apache.spark.ml.param.ParamPair(param, v))).toArray
}
