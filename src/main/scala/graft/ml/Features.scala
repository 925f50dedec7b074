package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature._
import org.apache.spark.sql.DataFrame

/** Feature-engineering layer (SURVEY §2.7 M18/F3/F20/M23): the
  * reference's pandas/sklearn transforms re-expressed as Spark ML
  * transformers, composable into `Pipeline`s so the whole transform graph
  * ships to executors (fit once, transform anywhere — the 100-TB shape).
  */
object Features {

  /** Assemble numeric columns into the `features` vector column
    * (the NumPy-matrix ⇒ ml.linalg.Vector mapping, SURVEY §1.5). */
  def assemble(df: DataFrame, cols: Seq[String],
               out: String = "features"): DataFrame =
    new VectorAssembler().setInputCols(cols.toArray).setOutputCol(out)
      .transform(df)

  /** z-score standardization (sklearn StandardScaler,
    * data_mining_Assignment1.ipynb cell 29). */
  def standardScaler(in: String = "features", out: String = "scaled"): StandardScaler =
    new StandardScaler().setInputCol(in).setOutputCol(out)
      .setWithMean(true).setWithStd(true)

  /** One-hot ≡ pandas get_dummies(drop_first=True)
    * (codes_in_book_of_statisct.ipynb cell 168): alphabetDesc indexing
    * puts the alphabetically FIRST category at the last index, so
    * dropLast drops it — the same reference level pandas drops. */
  def oneHot(col: String, out: String): Pipeline = {
    val idx = new StringIndexer().setInputCol(col).setOutputCol(s"${col}_idx")
      .setStringOrderType("alphabetDesc")
    val ohe = new OneHotEncoder().setInputCol(s"${col}_idx").setOutputCol(out)
      .setDropLast(true)
    new Pipeline().setStages(Array(idx, ohe))
  }

  /** Degree-d polynomial basis (np.power.outer grid,
    * codes_in_book_of_statisct.ipynb cell 181). */
  def polynomial(degree: Int, in: String = "features",
                 out: String = "poly"): PolynomialExpansion =
    new PolynomialExpansion().setDegree(degree).setInputCol(in).setOutputCol(out)

  /** TF-IDF text pipeline (sklearn TfidfVectorizer(max_features,
    * stop_words), data_mining_Assignment1.ipynb cell 52):
    * tokenize → stopword-filter → count-vectorize → IDF. */
  def tfidf(textCol: String, vocabSize: Int = 500,
            out: String = "features"): Pipeline = {
    val tok = new Tokenizer().setInputCol(textCol).setOutputCol("_tokens")
    val stop = new StopWordsRemover().setInputCol("_tokens").setOutputCol("_filtered")
    val cv = new CountVectorizer().setInputCol("_filtered").setOutputCol("_tf")
      .setVocabSize(vocabSize)
    val idf = new IDF().setInputCol("_tf").setOutputCol(out)
    new Pipeline().setStages(Array(tok, stop, cv, idf))
  }

  /** Quantile/threshold binning (pd.cut, data_mining_Assignment1.ipynb
    * cell 7). */
  def bucketize(col: String, splits: Array[Double], out: String): Bucketizer =
    new Bucketizer().setInputCol(col).setOutputCol(out).setSplits(splits)
}
