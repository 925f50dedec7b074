package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Spec for the `spark.sql.extensions=graft.GraftExtensions` entry
  * point: every native expression must resolve in plain SQL on a session
  * built WITH the extension and WITHOUT any `install` call, and must
  * agree with the `install` path value-for-value. */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("GraftExtensions injects every native function at session build") {
    val base = spark // force the shared context to exist first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // reuses base's SparkContext; a FRESH session state is built with
      // the extension applied. (`spark.sql.extensions` is a STATIC conf
      // — honored only at SparkContext launch, which the shared test
      // context predates — so the builder API form is what a same-JVM
      // spec can exercise; both routes run the same GraftExtensions.)
      val ext = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(ext ne base, "expected a fresh session")
      val row = ext.sql(
        """SELECT float_dot(array(cast(1.0 AS float), cast(2.0 AS float)),
          |                 array(cast(3.0 AS float), cast(4.0 AS float))) AS d,
          |       simhash64(array('the','quick','fox')) AS s64,
          |       simhash_md5_60(array('the','quick','fox')) AS s60,
          |       min_rolling_hash(array('a','b','c','d'), 2) AS mrh,
          |       hyperplane_sketch(array(cast(1.0 AS float), cast(-1.0 AS float)), 8, 2, 42) AS hp,
          |       bloom_probe_md5('k', cast('' AS BINARY)) AS bp0,
          |       shingle_hashes_md5(array('a','b','c'), 2) AS shs,
          |       shingle_windows(array('a','b','c'), 2) AS shw,
          |       quality_margin('join hash JOIN') AS qm
          |""".stripMargin).head

      assert(row.getDouble(0) == 11.0, s"float_dot: ${row.getDouble(0)}")
      assert(!row.getBoolean(5), "empty bitmap must reject every key")
      assert(row.getSeq[Long](6).length == 2,
        "shingle_hashes_md5 must emit one hash per 2-token window")
      assert(row.getSeq[String](7) == Seq("a b", "b c"),
        "shingle_windows must emit the space-joined windows")
      // the install path on the base session must agree bit-for-bit
      GraftExtensions.install(base)
      val expect = base.sql(
        """SELECT simhash64(array('the','quick','fox')),
          |       simhash_md5_60(array('the','quick','fox')),
          |       min_rolling_hash(array('a','b','c','d'), 2),
          |       hyperplane_sketch(array(cast(1.0 AS float), cast(-1.0 AS float)), 8, 2, 42),
          |       quality_margin('join hash JOIN')
          |""".stripMargin).head
      assert(row.getLong(1) == expect.getLong(0), "simhash64 disagrees")
      assert(row.getLong(2) == expect.getLong(1), "simhash_md5_60 disagrees")
      assert(row.getLong(3) == expect.getLong(2), "min_rolling_hash disagrees")
      assert(row.getLong(4) == expect.getLong(3), "hyperplane_sketch disagrees")
      assert(row.getDouble(8) == expect.getDouble(4), "quality_margin disagrees")

      // every table entry resolves on both sessions, and a repeat
      // install keeps each registration as it was
      import org.apache.spark.sql.catalyst.FunctionIdentifier
      val names = GraftExtensions.functions.map(_._1)
      for (sess <- Seq(ext, base); n <- names)
        assert(sess.catalog.functionExists(n), s"$n missing")
      val registry = base.sessionState.functionRegistry
      def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
      val before = infos
      GraftExtensions.install(base)
      assert(before.zip(infos).forall { case (a, b) => a eq b },
        "a second install must leave every registration untouched")

      // DESCRIBE FUNCTION surfaces the injected usage text
      val desc = ext.sql("DESCRIBE FUNCTION float_dot")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("float_dot"), desc)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("RangeJoinRule turns a pure range join into an equi-join, same rows") {
    import org.apache.spark.sql.functions._
    val base = spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val ext = SparkSession.builder()
        .withExtensions(new GraftExtensions).getOrCreate()
      import ext.implicits._
      // 300 points, 40 constant-width intervals, NO equi key — the shape
      // Catalyst can only nested-loop on its own
      val pts = ext.range(300).select(col("id").as("pid"),
        pmod(xxhash64(col("id")), lit(1000)).as("t"))
      val ivs = ext.range(40).select(col("id").as("iid"),
        (pmod(xxhash64(col("id") + 5), lit(950))).as("lo"))
      val joined = pts.join(ivs,
        col("t") >= col("lo") && col("t") < col("lo") + lit(60L))
        .select(col("pid"), col("iid"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"rule did not fire:\n${plan.take(1500)}")
      // semantics: identical rows to the SAME query on the base session
      // (no rule injected there)
      val basePts = base.range(300).select(col("id").as("pid"),
        pmod(xxhash64(col("id")), lit(1000)).as("t"))
      val baseIvs = base.range(40).select(col("id").as("iid"),
        (pmod(xxhash64(col("id") + 5), lit(950))).as("lo"))
      val expected = basePts.join(baseIvs,
        col("t") >= col("lo") && col("t") < col("lo") + lit(60L))
        .select(col("pid"), col("iid"))
      val baseP = expected.queryExecution.executedPlan.toString
      assert(baseP.contains("BroadcastNestedLoopJoin") ||
        baseP.contains("CartesianProduct"),
        "fixture no longer exercises the nested-loop path")
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val exp = expected.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.nonEmpty && got.sameElements(exp),
        s"rows diverge: ${got.length} vs ${exp.length}")
      // negative domains: the floor-division grid must cover below zero
      val negPts = pts.withColumn("t", col("t") - 500)
      val negIvs = ivs.withColumn("lo", col("lo") - 500)
      val negGot = negPts.join(negIvs,
          col("t") >= col("lo") && col("t") < col("lo") + lit(60L))
        .select(col("pid"), col("iid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(negGot.sameElements(exp),
        "negative-shifted domain must join the same (pid, iid) pairs")
      // BETWEEN (closed upper bound) fires too and matches the rule-free
      // session — t = lo + W boundary rows included
      val betGot = pts.join(ivs,
          col("t").between(col("lo"), col("lo") + lit(60L)))
        .select(col("pid"), col("iid"))
      assert(!betGot.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"), "BETWEEN shape did not fire")
      val betExp = basePts.join(baseIvs,
          col("t").between(col("lo"), col("lo") + lit(60L)))
        .select(col("pid"), col("iid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(betGot.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        .sameElements(betExp), "BETWEEN rows diverge")
      // a join that already has an equi-conjunct must be left alone
      val withKey = pts.withColumn("k", col("pid") % 3)
        .join(ivs.withColumn("k2", col("iid") % 3),
          col("k") === col("k2") &&
            col("t") >= col("lo") && col("t") < col("lo") + lit(60L))
      val keyPlan = withKey.queryExecution.executedPlan.toString
      assert(!keyPlan.contains("_graft_pb"),
        "rule must not fire when an equi-conjunct exists")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("RangeJoinRule fires on timestamp + INTERVAL and date + date_add domains") {
    import org.apache.spark.sql.functions._
    val base = spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val ext = SparkSession.builder()
        .withExtensions(new GraftExtensions).getOrCreate()
      // --- timestamps, with SUB-SECOND micros (a seconds-truncating
      // cast in the grid would mis-cell these and drop rows) ---
      def tsPts(s: SparkSession) = s.range(300).select(col("id").as("pid"),
        timestamp_micros(pmod(xxhash64(col("id")), lit(1000000000L))).as("t"))
      def tsIvs(s: SparkSession) = s.range(40).select(col("id").as("iid"),
        timestamp_micros(pmod(xxhash64(col("id") + 5), lit(940000000L))).as("lo"))
      def tsJoin(s: SparkSession) =
        tsPts(s).join(tsIvs(s),
          col("t") >= col("lo") &&
            col("t") < col("lo") + expr("INTERVAL 60 SECONDS"))
          .select(col("pid"), col("iid"))
      val extTs = tsJoin(ext)
      val extTsPlan = extTs.queryExecution.executedPlan.toString
      assert(!extTsPlan.contains("BroadcastNestedLoopJoin") &&
        !extTsPlan.contains("CartesianProduct"),
        s"timestamp shape did not fire:\n${extTsPlan.take(1500)}")
      val baseTs = tsJoin(base)
      assert(baseTs.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
        "fixture no longer exercises the nested-loop path")
      val gotTs = extTs.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val expTs = baseTs.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(gotTs.nonEmpty && gotTs.sameElements(expTs),
        s"timestamp rows diverge: ${gotTs.length} vs ${expTs.length}")
      // --- dates with date_add ---
      def dPts(s: SparkSession) = s.range(300).select(col("id").as("pid"),
        date_add(lit("2020-01-01").cast("date"),
          pmod(xxhash64(col("id")), lit(365)).cast("int")).as("d"))
      def dIvs(s: SparkSession) = s.range(40).select(col("id").as("iid"),
        date_add(lit("2020-01-01").cast("date"),
          pmod(xxhash64(col("id") + 5), lit(358)).cast("int")).as("lo"))
      def dJoin(s: SparkSession) =
        dPts(s).join(dIvs(s),
          col("d") >= col("lo") && col("d") < date_add(col("lo"), 7))
          .select(col("pid"), col("iid"))
      val extD = dJoin(ext)
      assert(!extD.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"), "date shape did not fire")
      val gotD = extD.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val expD = dJoin(base).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(gotD.nonEmpty && gotD.sameElements(expD), "date rows diverge")
      // --- the naive q57 formulation (user equi-key + interval window)
      // must never nested-loop under the extension session ---
      val ev = graft.sources.Tables(ext, sf, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("err_user"), col("ts").as("err_ts"))
      val others = ev.filter(col("event_type") =!= "error")
        .select(col("user_id"), col("ts"))
      val naiveQ57 = others.join(errors,
        col("user_id") === col("err_user") &&
          col("ts") >= col("err_ts") &&
          col("ts") < col("err_ts") + expr("INTERVAL 10 MINUTES"))
      val q57Plan = naiveQ57.queryExecution.executedPlan.toString
      assert(!q57Plan.contains("BroadcastNestedLoopJoin") &&
        !q57Plan.contains("CartesianProduct"),
        s"naive q57 shape nested-loops:\n${q57Plan.take(1500)}")
      assert(naiveQ57.count() > 0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
