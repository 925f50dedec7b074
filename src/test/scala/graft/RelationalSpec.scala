package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf = "/root/testdata/sf0.001"

  /** `body`'s result and the names of the stages of the Spark jobs it
    * launched (a stage's name is its call site), seen by a listener. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "jobsOf-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        e.stageInfos.foreach(st => seen.add((g, st.name)))
      }
    }
    def inGroup[R](g: String)(r: => R): R = {
      sc.setJobGroup(g, g)
      try r finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val out = inGroup(group)(body)
      // the listener bus delivers in order: once the marker job is seen,
      // every earlier job start has been delivered too
      inGroup(group + "-marker")(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.stream().anyMatch(_._1 == group + "-marker") &&
             System.nanoTime() < deadline)
        Thread.sleep(20)
      val jobs = seen.toArray(Array.empty[(String, String)]).toSeq
      assert(jobs.exists(_._1 == group + "-marker"), "marker job never seen")
      (out, jobs.filter(_._1 == group).map(_._2))
    } finally sc.removeSparkListener(listener)
  }
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs non-empty on sf0.001 (except the span report)") {
    // q15 included: since round 11 it anti-joins the URGENT-order
    // projection, so its oracle row is non-empty (load-bearing) at
    // every driver scale. q88 emits one row per contaminated SPAN —
    // sf0.001's eval split has zero cross-split gram overlaps
    // (DuckDB-confirmed), so an empty report is the correct answer
    // there; the driver gate runs at sf0.01, where it is non-empty
    // (5 pairs) and hash-gated.
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      if (name != "q88_contaminated_spans")
        assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("QUERIES.md matches the generated catalog (no drift)") {
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("QUERIES.md"))
    assert(committed == Catalog.render,
      "QUERIES.md is stale — run `sbt \"runMain graft.Catalog\"`")
  }

  test("README live counts match the generated numbers (no drift)") {
    val md = java.nio.file.Files.readString(
      java.nio.file.Paths.get("README.md"))
    assert(md.contains(Catalog.readmeCounts),
      "README.md counts are stale — run `sbt \"runMain graft.Catalog\"`")
    assert(md == Catalog.syncReadme(md),
      "README.md count region is stale — run `sbt \"runMain graft.Catalog\"`")
  }

  test("README spec count matches the instantiated suites (no drift)") {
    val md = java.nio.file.Files.readString(
      java.nio.file.Paths.get("README.md"))
    val n = SpecCatalog.specCount()
    assert(md.contains(SpecCatalog.readmeSpecLine(n)),
      s"README.md spec count is stale (suites register $n) — run " +
        "`sbt \"Test/runMain graft.SpecCatalog\"`")
    assert(md == SpecCatalog.syncReadme(md, n),
      "README.md spec-count region is stale — run `sbt \"Test/runMain graft.SpecCatalog\"`")
  }

  test("every query has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // keep this list tiny and intentional (non-SQL-expressible ops only)
    assert(noOracle.forall(n => SparkEntry.rowsOnlyQueries.contains(n)),
      s"queries missing an oracle without justification: $noOracle")
  }

  test("q01 aggregates reconcile with a direct computation") {
    import org.apache.spark.sql.functions._
    val got = Relational("q01")(spark)
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val expTotal = li.agg(count(lit(1))).head.getLong(0)
    val gotTotal = got.agg(sum("count_order")).head.getLong(0)
    assert(gotTotal == expTotal)
  }

  test("q04 clv degenerate mode: users with no events get zero metrics") {
    val clv = operators.Relational.clv(spark, sf)
    val row = clv.filter(clv("event_count") === 0)
    // all zero-event users must have engagement 0 and clv 0
    assert(row.filter(row("clv") =!= 0.0).count() == 0)
  }

  test("q11 running total is monotone within a partition") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rt = operators.Relational.runningQuantity(spark, sf)
    val w = Window.partitionBy("l_partkey")
      .orderBy(col("ship_date"), col("l_orderkey"), col("l_linenumber"))
    val bad = rt.withColumn("prev", lag(col("running_qty"), 1).over(w))
      .filter(col("prev").isNotNull && col("running_qty") < col("prev"))
    assert(bad.count() == 0)
  }

  test("approx quartiles track exact quartiles within tolerance (q39 scale form)") {
    import org.apache.spark.sql.functions._
    val exact = operators.Relational.quantityQuartiles(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = operators.Relational.quantityQuartilesApprox(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet)
    // l_quantity spans ~1..55; the sketch at accuracy 10k should land
    // within one unit of the exact linear-interpolation quantile
    exact.foreach { case (flag, (e25, e50, e75)) =>
      val (a25, a50, a75) = approx(flag)
      assert(math.abs(a25 - e25) <= 1.0, s"$flag q25: $a25 vs $e25")
      assert(math.abs(a50 - e50) <= 1.0, s"$flag q50: $a50 vs $e50")
      assert(math.abs(a75 - e75) <= 1.0, s"$flag q75: $a75 vs $e75")
    }
  }

  test("funnel strict-order gating on planted sequences (naive has-all-types would differ)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // u1 full convert; u2 clicked BEFORE viewing (stage2 must reject);
    // u3 purchased BEFORE its qualified click (stage3 must reject — a
    // naive "has all three types" query would wrongly count u3);
    // u4 never viewed
    val ev = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"),
      (2L, 1L, "click"), (2L, 2L, "view"),
      (3L, 1L, "view"), (3L, 2L, "purchase"), (3L, 3L, "click"),
      (4L, 1L, "purchase"))
      .toDF("user_id", "seq", "event_type")
      .select(col("user_id"),
        timestamp_seconds(col("seq") * 60).as("ts"),
        col("seq").as("event_id"), col("event_type"))
    val got = operators.Relational.conversionFunnelFrom(ev)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(got("1_view") == 3L, s"views: $got")
    assert(got("2_click_after_view") == 2L, s"strict clicks: $got")
    assert(got("3_purchase_after_click") == 1L, s"strict purchases: $got")
  }

  test("k-stage funnel: 4-stage chain gates each stage on the previous one") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // A converts in order; B's cart precedes its qualified click (stage 3
    // must reject it and therefore stage 4 too); C never views; D stops
    // after viewing
    val ev = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "cart"), (1L, 4L, "purchase"),
      (2L, 1L, "view"), (2L, 2L, "cart"), (2L, 3L, "click"), (2L, 4L, "purchase"),
      (3L, 1L, "click"), (3L, 2L, "cart"), (3L, 3L, "purchase"),
      (4L, 1L, "view"))
      .toDF("user_id", "seq", "event_type")
      .select(col("user_id"),
        timestamp_seconds(col("seq") * 60).as("ts"),
        col("seq").as("event_id"), col("event_type"))
    val got = operators.Relational
      .conversionFunnelFrom(ev, Seq("view", "click", "cart", "purchase"))
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(got == Map(
      "1_view" -> 3L, "2_click_after_view" -> 2L,
      "3_cart_after_click" -> 1L, "4_purchase_after_cart" -> 1L), got.toString)
    // stage names are data-derived: quotes/backslashes must survive the
    // stack() literal (regression: unescaped interpolation threw a
    // ParseException here)
    val quoted = operators.Relational.conversionFunnelFrom(
      ev.withColumn("event_type",
        when(col("event_type") === "view", lit("view's\\x")).otherwise(col("event_type"))),
      Seq("view's\\x", "click"))
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(quoted == Map("1_view's\\x" -> 3L, "2_click_after_view's\\x" -> 2L),
      quoted.toString)
  }

  test("funnel past 9 stages orders by stage_idx, not the lexicographic label") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one user marches through 12 stages in order — every stage converts
    val stages = (1 to 12).map(i => s"s$i")
    val ev = stages.zipWithIndex.map { case (st, i) => (1L, (i + 1).toLong, st) }
      .toDF("user_id", "seq", "event_type")
      .select(col("user_id"),
        timestamp_seconds(col("seq") * 60).as("ts"),
        col("seq").as("event_id"), col("event_type"))
    val rows = operators.Relational.conversionFunnelFrom(ev, stages).collect()
    assert(rows.map(_.getAs[Int]("stage_idx")).toSeq == (1 to 12),
      "rows must come back in stage order")
    // lexicographic label order would interleave 10..12 after 1_
    assert(rows.map(_.getAs[String]("stage")).take(3).toSeq ==
      Seq("1_s1", "2_s2_after_s1", "3_s3_after_s2"))
    assert(rows.map(_.getAs[Long]("n_users")).forall(_ == 1L))
  }

  test("as-of join: inclusive boundary, latest-event tie-break, no-prior-event null (q55)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: events at t=60 and t=120; orders at t=120 (inclusive hit →
    // the t=120 event), t=90 (→ t=60 event), t=30 (no prior → null).
    // user 2: two events at the SAME ts — larger event_id must win.
    val ev = Seq(
      (1L, 60L, 10L, "view"), (1L, 120L, 11L, "click"),
      (2L, 100L, 20L, "view"), (2L, 100L, 21L, "click"))
      .toDF("user_id", "sec", "event_id", "event_type")
      .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"),
        col("event_id"), col("event_type"))
    val ord = Seq(
      (101L, 1L, 120L, 10.0), (102L, 1L, 90L, 20.0), (103L, 1L, 30L, 30.0),
      (201L, 2L, 100L, 40.0))
      .toDF("o_orderkey", "o_custkey", "sec", "o_totalprice")
      .select(col("o_orderkey"), col("o_custkey"),
        timestamp_seconds(col("sec")).as("o_orderdate"), col("o_totalprice"))
    val got = operators.Relational.asofLastEventFrom(ev, ord)
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(4)), Option(r.getString(5)))).toMap
    assert(got(101L) == (Some("1970-01-01 00:02:00"), Some("click")), got(101L).toString)
    assert(got(102L) == (Some("1970-01-01 00:01:00"), Some("view")), got(102L).toString)
    assert(got(103L) == (None, None), got(103L).toString)
    // equal-ts tie: event_id 21 ("click") outranks 20 ("view")
    assert(got(201L) == (Some("1970-01-01 00:01:40"), Some("click")), got(201L).toString)
  }

  test("salted group-sum is row-identical to the plain groupBy (q56)") {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val salted = operators.Relational.saltedRevenue(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val plain = li.groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain, s"salted $salted vs plain $plain")
  }

  test("funnel stages agree with a brute-force ordered walk per user") {
    import org.apache.spark.sql.functions._
    val got = operators.Relational.conversionFunnel(spark, sf)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    // brute force: per user, sort by (ts, event_id) and walk the strict
    // view -> click -> purchase state machine. Compare on epoch MICROS —
    // ts is microsecond-precision and a millisecond truncation could
    // reorder same-ms events differently than the engine
    val events = graft.sources.Tables(spark, sf, "events")
      .select(col("user_id"), expr("unix_micros(ts)"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byUser = events.groupBy(_._1)
    var (n1, n2, n3) = (0L, 0L, 0L)
    byUser.values.foreach { evs =>
      val sorted = evs.sortBy(e => (e._2, e._3))
      var (sawView, sawQClick, sawQPurch) = (false, false, false)
      sorted.foreach { e =>
        e._4 match {
          case "view" => sawView = true
          case "click" if sawView => sawQClick = true
          case "purchase" if sawQClick => sawQPurch = true
          case _ =>
        }
      }
      if (sawView) n1 += 1
      if (sawQClick) n2 += 1
      if (sawQPurch) n3 += 1
    }
    assert(got("1_view") == n1 && got("2_click_after_view") == n2 &&
      got("3_purchase_after_click") == n3,
      s"got $got, brute force ($n1, $n2, $n3)")
    assert(n1 >= n2 && n2 >= n3, "funnel must be monotone")
  }

  test("fkOrphans n_rows is the plain fact count even when the dim PK is duplicated") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fact = Seq(1L, 1L, 2L, 3L, 99L).toDF("fk")   // 5 rows, one orphan (99)
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val dupDim = Seq(1L, 1L, 2L, 3L).toDF("pk")      // defective: duplicate PK 1
    val clean = operators.Relational.fkOrphans("t", fact, "fk", dim, "pk").head
    val dirty = operators.Relational.fkOrphans("t", fact, "fk", dupDim, "pk").head
    // the audit must not assume the uniqueness invariant it exists to check:
    // a duplicate dim PK must not inflate the audited fact-row count
    assert(clean.getLong(1) == 5L && dirty.getLong(1) == 5L)
    assert(clean.getLong(2) == 1L && dirty.getLong(2) == 1L)
  }

  private object Relational {
    def apply(prefix: String): SparkSession => org.apache.spark.sql.DataFrame = {
      val (name, fn) = SparkEntry.queries.find(_._1.startsWith(prefix)).get
      s => fn(s, sf)
    }
  }
}
