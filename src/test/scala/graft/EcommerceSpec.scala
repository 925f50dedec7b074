package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.DataGen
import graft.operators.Ecommerce
import graft.schema.Schemas
import graft.sources.EntityIO

/** E-commerce layer specs: generator invariants (SURVEY §1.2 schema
  * contracts), the three entry-point pipelines, JSON round-trips in both
  * layouts, and the degenerate CLV mode. */
class EcommerceSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private lazy val cats = DataGen.categories(spark).cache()
  private lazy val prods = DataGen.products(spark, 500, 25).cache()
  private lazy val users = DataGen.users(spark, 200).cache()
  private lazy val sess = DataGen.sessions(spark, 2000, 200, 500).cache()
  private lazy val txns = DataGen.transactions(sess).cache()

  test("generator cardinalities and referential integrity") {
    assert(cats.count() == 25 && prods.count() == 500 && users.count() == 200)
    assert(sess.count() == 2000)
    // FK: every session user exists
    assert(sess.join(users, Seq("user_id"), "left_anti").count() == 0)
    // FK: every txn user exists
    assert(txns.join(users, Seq("user_id"), "left_anti").count() == 0)
  }

  test("generator distributions match the reference's shapes") {
    // ~95% active products (dataset_generator.py:216)
    val active = prods.filter(col("is_active")).count().toDouble / 500
    assert(active > 0.9 && active < 1.0, s"active=$active")
    // subcategories 3..5 per category
    val subs = cats.select(size(col("subcategories")).as("n"))
      .agg(min("n"), max("n")).head
    assert(subs.getInt(0) >= 3 && subs.getInt(1) <= 5)
    // stock 413..644 (dataset_generator.py:215)
    val stock = prods.agg(min("current_stock"), max("current_stock")).head
    assert(stock.getInt(0) >= 413 && stock.getInt(1) <= 644)
    // duration 30..3600
    val dur = sess.agg(min("duration_seconds"), max("duration_seconds")).head
    assert(dur.getInt(0) >= 30 && dur.getInt(1) <= 3600)
  }

  test("as-of invariant: base_price equals last price_history entry") {
    val bad = prods.filter(
      col("base_price") =!= element_at(col("price_history"), -1).getField("price"))
    assert(bad.count() == 0)
    // price_history dates ascending
    val unsorted = prods.filter(
      expr("price_history != array_sort(price_history, (a, b) -> CASE WHEN a.date < b.date THEN -1 WHEN a.date > b.date THEN 1 ELSE 0 END)"))
    assert(unsorted.count() == 0)
  }

  test("money invariants: subtotal = sum(items), total = subtotal - discount") {
    val bad1 = txns.filter(
      abs(col("subtotal") -
        round(expr("aggregate(items, 0D, (acc, x) -> acc + x.subtotal)"), 2)) > 0.001)
    assert(bad1.count() == 0)
    val bad2 = txns.filter(
      abs(col("total") - round(col("subtotal") - col("discount"), 2)) > 0.001)
    assert(bad2.count() == 0)
    // null session_id only on top-ups; session-derived txns reference real sessions
    assert(txns.filter(col("session_id").isNotNull)
      .join(sess, Seq("session_id"), "left_anti").count() == 0)
    assert(txns.filter(col("session_id").isNull).count() > 0)
  }

  test("cart_contents is a true MapType and JSON round-trips both layouts") {
    assert(Schemas.sessions("cart_contents").dataType.isInstanceOf[MapType])
    val dir = tempDir("graft_json").toString
    // JSONL layout
    EntityIO.writeJsonl(sess, s"$dir/sessions_jsonl")
    val back = EntityIO.readEntity(spark, s"$dir/sessions_jsonl", "sessions")
    assert(back.count() == 2000)
    assert(back.schema("cart_contents").dataType.isInstanceOf[MapType])
    // array layout (reference format): write a small array file by hand
    val rows = sess.limit(3).toJSON.collect().mkString("[", ",", "]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/sessions_array.json"), rows)
    val arr = EntityIO.readEntity(spark, s"$dir/sessions_array.json",
      "sessions", multiLine = true)
    assert(arr.count() == 3)
    // map survives: exploding yields (product_id -> quantity) pairs
    val entries = arr.select(explode(col("cart_contents")))
    assert(entries.schema("key").dataType == StringType)
  }

  test("E1 revenue-by-state: typed builder == verbatim reference SQL") {
    users.createOrReplaceTempView("users")
    txns.createOrReplaceTempView("transactions")
    val typed = Ecommerce.revenueByState(users, txns).collect()
    val sql = spark.sql(Ecommerce.revenueByStateSql).collect()
    assert(typed.toSeq == sql.toSeq)
    assert(typed.nonEmpty && typed.length <= 10)
  }

  test("E3 top-5 products: explode+broadcast join returns k rows with names") {
    val top = Ecommerce.topProductsByRevenue(txns, prods).collect()
    assert(top.length == 5)
    assert(top.forall(r => r.getAs[String]("name") != null))
    // descending revenue
    val revs = top.map(_.getAs[Double]("total_revenue"))
    assert(revs.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("E2 CLV: intended mode and degenerate mode") {
    val intended = Ecommerce.clv(txns, sess)
    assert(intended.filter(col("session_count") > 0).count() > 0)
    // engagement formula spot check
    val r = intended.filter(col("session_count") > 0).head
    val eng = r.getAs[Long]("session_count") * r.getAs[Long]("total_duration") / 1000.0
    assert(math.abs(r.getAs[Double]("engagement_score") - eng) < 1e-9)
    // degenerate: EMPTY session table ⇒ one row per spending user, all
    // metrics zero-filled (the reference's golden-CSV shape, SURVEY §3 E2)
    val emptySessions = sess.filter(lit(false))
    val degen = Ecommerce.clv(txns, emptySessions)
    val spenders = txns.select("user_id").distinct().count()
    assert(degen.count() == spenders)
    assert(degen.filter(col("clv") =!= 0.0 || col("session_count") =!= 0L).count() == 0)
  }

  test("A5 product metrics rollup composes views + carts + purchases") {
    val pm = Ecommerce.productMetrics(sess)
    assert(pm.count() > 0)
    // purchases only come from converted sessions' carts ⇒ purchases <= cart_additions
    assert(pm.filter(col("purchases") > col("cart_additions")).count() == 0)
    val viewsTotal = pm.agg(sum("views")).head.getLong(0)
    val explodedViews = sess.select(explode(col("viewed_products"))).count()
    assert(viewsTotal == explodedViews)
  }

  test("A7 monthly trend covers the 90-day window") {
    val mt = Ecommerce.monthlyTrend(txns).collect()
    assert(mt.length >= 3 && mt.length <= 5) // 90 days spans 3-4 months
  }

  test("J3/J4 denormalization embeds category with fallback") {
    val denorm = Ecommerce.denormalizeProducts(prods, cats)
    assert(denorm.filter(col("category.name") === "Unknown Category").count() == 0)
    val orphan = prods.limit(1).withColumn("category_id", lit("cat_999"))
    val fallback = Ecommerce.denormalizeProducts(orphan, cats)
    assert(fallback.head.getAs[org.apache.spark.sql.Row]("category")
      .getAs[String]("name") == "Unknown Category")
  }

  test("S15 plot sink renders an aggregated result to a deterministic PNG") {
    val trend = operators.Relational.monthlyRevenue(spark, sf) // q12 feed
    val dir = tempDir("graft_plot").toString
    val f1 = graft.sources.PlotSink.barChart(trend, "month", "revenue", s"$dir/a.png")
    val f2 = graft.sources.PlotSink.barChart(trend, "month", "revenue", s"$dir/b.png")
    assert(f1.exists() && f1.length() > 0)
    val img = javax.imageio.ImageIO.read(f1)
    assert(img.getWidth == 640 && img.getHeight == 400)
    // bars actually drawn: the C0-blue fill appears somewhere in the plot
    val blue = new java.awt.Color(31, 119, 180).getRGB
    val pixels = for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
      yield img.getRGB(x, y)
    assert(pixels.contains(blue), "expected bar pixels in the rendered chart")
    // text-free rect rendering is deterministic: byte-identical re-render
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(f1.toPath),
      java.nio.file.Files.readAllBytes(f2.toPath)))
    // the sink refuses raw (unaggregated) inputs and NaN values
    val big = spark.range(20000).selectExpr("cast(id as string) AS k", "cast(id as double) AS v")
    intercept[IllegalArgumentException] {
      graft.sources.PlotSink.barChart(big, "k", "v", s"$dir/c.png")
    }
    val withNan = spark.range(2).selectExpr("cast(id as string) AS k",
      "CASE WHEN id = 0 THEN cast('NaN' as double) ELSE 1.0 END AS v")
    intercept[IllegalArgumentException] {
      graft.sources.PlotSink.barChart(withNan, "k", "v", s"$dir/d.png")
    }
  }

  test("S15 line chart renders the monthly trend (visualizations.py's plt.plot panel)") {
    val trend = operators.Relational.monthlyRevenue(spark, sf) // q12 feed
    val dir = tempDir("graft_line").toString
    val f1 = graft.sources.PlotSink.lineChart(trend, "month", "revenue", s"$dir/a.png")
    val f2 = graft.sources.PlotSink.lineChart(trend, "month", "revenue", s"$dir/b.png")
    assert(f1.exists() && f1.length() > 0)
    val img = javax.imageio.ImageIO.read(f1)
    assert(img.getWidth == 640 && img.getHeight == 400)
    val blue = new java.awt.Color(31, 119, 180).getRGB
    def bluePixels(i: java.awt.image.BufferedImage): Int =
      (for (x <- 0 until i.getWidth; y <- 0 until i.getHeight
            if i.getRGB(x, y) == blue) yield 1).sum
    val n = trend.count().toInt
    // a polyline + markers must paint MORE than the markers alone
    // (segments actually connect the vertices) but far less than bars
    assert(bluePixels(img) > n * 25, "line segments must be drawn between vertices")
    // deterministic bytes: re-render is byte-identical
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(f1.toPath),
      java.nio.file.Files.readAllBytes(f2.toPath)))
    // vertex x positions are row-order slots: a reversed frame renders
    // DIFFERENT bytes (the x axis is the caller's ORDER BY, per the
    // reference's month-sorted plt.plot input)
    val rev = trend.orderBy(org.apache.spark.sql.functions.col("month").desc)
    val f3 = graft.sources.PlotSink.lineChart(rev, "month", "revenue", s"$dir/c.png")
    assert(!java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(f1.toPath),
      java.nio.file.Files.readAllBytes(f3.toPath)),
      "row order is the x axis — reversing it must change the drawing")
    // same raw-input and NaN guards as the other sinks
    val big = spark.range(20000).selectExpr("cast(id as string) AS k", "cast(id as double) AS v")
    intercept[IllegalArgumentException] {
      graft.sources.PlotSink.lineChart(big, "k", "v", s"$dir/d.png")
    }
  }
}
