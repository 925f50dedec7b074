package graft

import org.apache.spark.sql.functions._

import graft.gen.DataGen
import graft.operators.Ecommerce

/** Example entry point: the reference's end-to-end e-commerce pipeline
  * (generate → load → E1/E2/E3 analytics) as one Spark program.
  * Run: sbt "runMain graft.EcomDemo [nSessions]" */
object EcomDemo {
  def main(args: Array[String]): Unit = {
    val nSessions = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = Sessions.local(32)

    val t0 = System.nanoTime()
    val users = DataGen.users(spark)
    val prods = DataGen.products(spark)
    val sess = DataGen.sessions(spark, nSessions)
    val txns = DataGen.transactions(sess)
    // Materialize the full entity set (generation benchmark vs the
    // reference's single-threaded run: 2M sessions + 500k txns in
    // ~18.6 min, dataset_generator.log:1168-1174)
    val counts = Map(
      "users" -> users.count(), "products" -> prods.count(),
      "sessions" -> sess.count(), "transactions" -> txns.count())
    val genSecs = (System.nanoTime() - t0) / 1e9
    println(f"GEN  $counts in $genSecs%.1f s (${nSessions / genSecs}%.0f sessions/s)")

    val t1 = System.nanoTime()
    users.createOrReplaceTempView("users")
    txns.createOrReplaceTempView("transactions")
    val e1 = spark.sql(Ecommerce.revenueByStateSql).collect()
    println(s"E1   top state: ${e1.head}  (${e1.length} rows)")
    val e3 = Ecommerce.topProductsByRevenue(txns, prods).collect()
    println(s"E3   top product: ${e3.head}")
    val e2 = Ecommerce.clv(txns, sess)
    val e2row = e2.filter(col("session_count") > 0).head
    println(s"E2   sample CLV row: $e2row  (${e2.count()} users)")
    val pm = Ecommerce.productMetrics(sess)
    println(s"A5   product-metrics rows: ${pm.count()}")
    println(f"ANALYTICS in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    spark.stop()
  }
}
