package graft

import org.apache.spark.sql.functions._

import graft.ml._
import graft.sources.Tables

/** Example entry point: the ML layer driven end-to-end over the driver
  * testdata, the way a user of the engine would compose it.
  * Run: sbt "runMain graft.MlDemo [sfDir]" */
object MlDemo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(8)

    // 1. OLS: extendedprice ~ quantity on lineitem, with the full
    //    coefficient table (M1)
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    val fit = Models.olsSummary(Features.assemble(li, Seq("x")), "y")
    println(f"OLS  slope=${fit.coefficients(0)}%.4f intercept=${fit.coefficients(1)}%.2f " +
      f"r2=${fit.r2}%.4f p=${fit.pValues(0)}%.2e")

    // 2. Logistic + evaluation: is this order URGENT, from its totalprice?
    val ord = Tables(spark, sf, "orders")
      .select((col("o_orderpriority") === "1-URGENT").cast("double").as("label"),
        col("o_totalprice").as("f1"))
    val lodf = Features.assemble(ord, Seq("f1"))
    val lpred = Models.logistic("label").fit(lodf).transform(lodf)
    println(s"LOGIT metrics=${Evaluate.binaryMetrics(lpred).view.mapValues(v => f"$v%.3f").toMap}")

    // 3. KMeans on real embeddings + cluster quality indices (M21)
    val embCols = Seq(col("vec_id"), col("label")) ++ (0 until 4).map(i =>
      element_at(col("embedding"), i + 1).cast("double").as(s"e$i"))
    val emb = Tables(spark, sf, "embeddings").select(embCols: _*)
    val edf = Features.assemble(emb, (0 until 4).map(i => s"e$i"))
    val km = Models.kmeans(3).fit(edf)
    val kpred = km.transform(edf)
    println(f"KMEANS inertia=${Models.inertia(km)}%.1f " +
      f"silhouette=${Evaluate.silhouette(kpred)}%.3f " +
      f"DB=${Evaluate.daviesBouldin(kpred, (0 until 4).map(i => s"e$i"))}%.3f")

    // 4. LDA on embedding dims vs the real label column (M3)
    val two = emb.filter(col("label") < 2)
    val ldaPred = Customs.lda(two, two, "label", (0 until 4).map(i => s"e$i"))
    val acc = ldaPred.filter(col("prediction") === col("label")).count().toDouble /
      ldaPred.count()
    println(f"LDA  label<2 acc=$acc%.3f")

    // 5. VIF on genuinely correlated fact columns (M25)
    val vifs = Customs.vif(
      Tables(spark, sf, "lineitem")
        .select(col("l_quantity").as("qty"),
          col("l_extendedprice").as("price"), col("l_discount").as("disc")),
      Seq("qty", "price", "disc"))
    println(s"VIF  ${vifs.view.mapValues(v => f"$v%.2f").toMap}")

    // 6. Anomaly scoring on customer balances (M22 substitute)
    val bal = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_acctbal").as("f1"))
    val anom = Approx.gaussianAnomaly(bal, Seq("f1"), threshold = 2.5)
    println(s"ANOM flagged=${anom.filter(col("is_anomaly") === 1).count()}" +
      s" of ${anom.count()} customers at 2.5 sigma")
    spark.stop()
  }
}
