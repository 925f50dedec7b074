package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches

/** Semantic specs for the mergeable sketches (q83 HLL / q84 CMS): the
  * bit-level rank math against a JVM reference, the merge laws that
  * justify the "constant-size shuffle" scale claims, the one-sided CMS
  * error bound over EVERY key (the query only reports 20), and
  * accuracy on planted cardinalities the fixture can't fake. */
class SketchesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** JVM reference for the SQL rho: low 8 bits index the register,
    * rho = leading zeros of the 52-bit remainder + 1. */
  private def rhoRef(hv: Long): Int = {
    val w = hv / 256
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(w) // 0 for w=0
    Sketches.HllShift - bitlen
  }

  /** Deterministic "distinct strings" frame: md5-derived keys k0..k(n-1)
    * with hv + (bucket, rho) columns attached via the operator's own
    * expressions. */
  private def planted(n: Int): DataFrame =
    spark.range(n.toLong)
      .select(concat(lit("key"), col("id")).as("token"))
      .withColumn("hv", graft.functions.TextFunctions.md5Long(col("token")))

  private def registers(df: DataFrame): Map[Long, Int] =
    df.withColumn("bucket", col("hv") % Sketches.HllM)
      .withColumn("rho", Sketches.rhoExpr)
      .groupBy("bucket").agg(max("rho").as("mj"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** The estimator on (s_harmonic, v_empty), exactly as both engines
    * spell it. */
  private def estimate(sHarmonic: Long, vEmpty: Long): Double = {
    val eRaw = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 *
      9007199254740992.0 / sHarmonic.toDouble
    if (vEmpty > 0 && eRaw <= 2.5 * Sketches.HllM)
      Sketches.HllM.toDouble * math.log(Sketches.HllM.toDouble / vEmpty)
    else eRaw
  }

  test("hll rho: SQL bit math equals the JVM leading-zeros reference") {
    val rows = planted(2000)
      .withColumn("rho", Sketches.rhoExpr)
      .select("hv", "rho").collect()
    rows.foreach { r =>
      val hv = r.getLong(0)
      assert(r.getInt(1) == rhoRef(hv), s"rho mismatch for hv=$hv")
    }
    // and the boundary cases the HOF must get right: w = 0 (rho 53),
    // w = 1 (rho 52), w = 2^51 (rho 1), w = 2^51 - 1 (rho 2)
    val edge = Seq(0L, 256L, 256L * (1L << 51), 256L * ((1L << 51) - 1))
      .toDF("hv").withColumn("rho", Sketches.rhoExpr)
      .select("hv", "rho").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(edge(0L) == 53 && edge(256L) == 52 &&
      edge(256L * (1L << 51)) == 1 && edge(256L * ((1L << 51) - 1)) == 2)
  }

  test("native shingle_hashes_md5 equals the declarative " +
       "transform+md5Long form element-for-element on the real corpus") {
    GraftExtensions.install(spark)
    import graft.functions.TextFunctions.{md5Long, tokens}
    val toks = tokens(col("text"))
    val both = graft.sources.Tables(spark, sf, "documents")
      .select(
        call_function("shingle_hashes_md5", toks,
          lit(Sketches.ShingleK)).as("native"),
        transform(Sketches.shingleWindows(toks), w => md5Long(w))
          .as("declarative"),
        Sketches.bigrams(toks).as("nativeW"),
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))).as("declW"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "native and declarative shingle hashes diverge")
      assert(r.getSeq[String](2) == r.getSeq[String](3),
        "native and declarative shingle windows diverge")
    }
    // short-array edge: fewer tokens than k ⇒ empty array, no error
    val short = Seq(Tuple1(Seq("a", "b"))).toDF("t")
      .select(call_function("shingle_hashes_md5", col("t"), lit(8)))
      .head.getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("hll registers merge: regs(A ∪ B) = register-wise max of halves") {
    val a = planted(3000).filter(col("hv") % 2 === 0)
    val b = planted(3000).filter(col("hv") % 2 === 1)
    val whole = registers(planted(3000))
    val ra = registers(a); val rb = registers(b)
    val merged = (ra.keySet ++ rb.keySet).map { k =>
      k -> math.max(ra.getOrElse(k, 0), rb.getOrElse(k, 0))
    }.toMap
    assert(merged == whole, "max-merge of half registers must equal whole")
  }

  test("hll estimate: within 20% on a planted 5000-key cardinality and " +
       "near-exact on the linear-counting branch") {
    def est(n: Int): Double = {
      val regs = registers(planted(n))
      val sH = regs.values.map(mj => 1L << (Sketches.HllShift - mj)).sum +
        (Sketches.HllM - regs.size).toLong * (1L << Sketches.HllShift)
      estimate(sH, (Sketches.HllM - regs.size).toLong)
    }
    val e5000 = est(5000)
    assert(math.abs(e5000 - 5000) / 5000.0 < 0.20,
      s"HLL estimate $e5000 off by >20% on n=5000")
    val e10 = est(10) // far below 2.5m → linear counting, near-exact
    assert(math.abs(e10 - 10) < 1.0, s"linear counting gave $e10 for n=10")
  }

  test("q83: estimate column replays from the exact integer registers " +
       "and _ALL_ row is consistent with per-source rows") {
    val out = Sketches.shingleCardinalityAudit(spark, sf).collect()
    operators.Caches.release()
    assert(out.nonEmpty)
    val bySource = out.map(r => r.getString(0) -> r).toMap
    assert(bySource.contains("_ALL_"))
    out.foreach { r =>
      val (nSh, exact, vE, sH) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nSh >= exact && exact > 0 && sH > 0)
      // est_distinct is EXACTLY the estimator over (s_harmonic, v_empty)
      val replay = BigDecimal(estimate(sH, vE))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(replay - r.getDouble(5)) < 1e-9,
        s"${r.getString(0)}: est ${r.getDouble(5)} != replay $replay")
    }
    // _ALL_ exact distinct can't exceed the sum of per-source distincts
    // and can't be smaller than the largest single source
    val perSrc = out.filter(_.getString(0) != "_ALL_").map(_.getLong(2))
    val all = bySource("_ALL_").getLong(2)
    assert(all <= perSrc.sum && all >= perSrc.max)
  }

  test("cms: estimate >= exact for EVERY bigram, and equality holds " +
       "exactly when the key collides with mass in all 4 rows") {
    GraftExtensions.install(spark)
    val cnt = graft.sources.Tables(spark, sf, "documents")
      .select(explode(Sketches.bigrams(
        graft.functions.TextFunctions.tokens(col("text")))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
    val cells = Sketches.cmsCells(cnt)
    val probe = cnt
      .select(col("bigram"), col("n"),
              explode(sequence(lit(0), lit(Sketches.CmsRows - 1))).as("r"))
      .withColumn("bucket", Sketches.cmsBucket(col("r"), col("bigram")))
      .join(cells, Seq("r", "bucket"))
      .groupBy("bigram", "n").agg(min("cell").as("est"))
      .collect()
    assert(probe.nonEmpty)
    probe.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS underestimated '${r.getString(0)}'")
    }
  }

  test("cms linearity: cells from pre-counted keys == cells from raw " +
       "occurrences, and half-corpus sketches sum to the whole") {
    val raw = planted(2500).select(col("token").as("bigram"))
      .union(planted(500).select(col("token").as("bigram"))) // skewed mass
    val fromRaw = Sketches.cmsCells(
      raw.groupBy("bigram").agg(count(lit(1)).as("n")))
    val ones = Sketches.cmsCells(raw.withColumn("n", lit(1L)))
    assert(fromRaw.exceptAll(ones).isEmpty && ones.exceptAll(fromRaw).isEmpty,
      "pre-counted and one-by-one CMS builds must agree cell-for-cell")

    val cnt = raw.groupBy("bigram").agg(count(lit(1)).as("n"))
    val ha = cnt.filter(graft.functions.TextFunctions
      .md5Long(col("bigram")) % 2 === 0)
    val hb = cnt.filter(graft.functions.TextFunctions
      .md5Long(col("bigram")) % 2 === 1)
    def cellMap(df: DataFrame): Map[(Int, Long), Long] =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cellMap(Sketches.cmsCells(cnt))
    val ca = cellMap(Sketches.cmsCells(ha))
    val cb = cellMap(Sketches.cmsCells(hb))
    val summed = (ca.keySet ++ cb.keySet).map { k =>
      k -> (ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L))
    }.toMap
    assert(summed == whole, "cell-wise sum of half sketches must equal whole")
  }

  test("cms: planted 2500-key stream forces collisions — some overestimate " +
       "is visible and bounded by the row mass") {
    val raw = planted(2500).select(col("token").as("bigram"))
    val cnt = raw.groupBy("bigram").agg(count(lit(1)).as("n"))
    val cells = Sketches.cmsCells(cnt)
    val probe = cnt
      .select(col("bigram"), col("n"),
              explode(sequence(lit(0), lit(Sketches.CmsRows - 1))).as("r"))
      .withColumn("bucket", Sketches.cmsBucket(col("r"), col("bigram")))
      .join(cells, Seq("r", "bucket"))
      .groupBy("bigram", "n").agg(min("cell").as("est"))
      .select((col("est") - col("n")).as("over")).collect().map(_.getLong(0))
    // 2500 keys over 512 buckets: almost no key is alone in all 4 rows
    assert(probe.max > 0, "expected visible collisions at 2500 keys")
    // one-sided and bounded: overestimate < total mass / w * safety
    assert(probe.forall(o => o >= 0 && o < 2500L))
  }

  test("bloom: no false negatives at ANY load — every member of a " +
       "saturated 4096-bit filter probes positive") {
    val members = planted(5000).select(col("token").as("gram"))
    val bits = Sketches.bloomBits(members, m = 4096) // load ≈ 3.7 bits/key
    val pos = Sketches.bloomProbe(members, bits, "gram", m = 4096)
    assert(pos.count() == 5000,
      "a Bloom filter must NEVER drop a true member, even saturated")
  }

  test("bloom: false positives appear under load, vanish at the " +
       "deployed m, and the bit set merges by plain union") {
    val members = planted(2000).select(col("token").as("gram"))
    val probes = spark.range(2000L)
      .select(concat(lit("probe"), col("id")).as("gram")) // disjoint keys
    val fpSmall = Sketches.bloomProbe(
      probes, Sketches.bloomBits(members, m = 4096), "gram", m = 4096).count()
    assert(fpSmall > 0, "2000 keys in 4096 bits must show false positives")
    val fpBig = Sketches.bloomProbe(
      probes, Sketches.bloomBits(members), "gram").count()
    assert(fpBig == 0,
      s"fp≈2e-7 per probe at m=2^20 — expected 0 of 2000, got $fpBig")

    // merge law: bits(A ∪ B) == bits(A) ∪ bits(B) (bitwise OR)
    val a = members.filter(graft.functions.TextFunctions
      .md5Long(col("gram")) % 2 === 0)
    val b = members.filter(graft.functions.TextFunctions
      .md5Long(col("gram")) % 2 === 1)
    val whole = Sketches.bloomBits(members, m = 4096)
    val merged = Sketches.bloomBits(a, m = 4096)
      .union(Sketches.bloomBits(b, m = 4096)).distinct()
    assert(whole.exceptAll(merged).isEmpty && merged.exceptAll(whole).isEmpty,
      "union of half bit sets must equal the whole filter")
  }

  test("bloom: the packed per-row probe (native bloom_probe_md5) equals " +
       "the declarative explode+join probe key-for-key, with no join " +
       "in its plan") {
    val members = planted(2000).select(col("token").as("gram"))
    val probes = members.union(spark.range(3000L)
      .select(concat(lit("probe"), col("id")).as("gram")))
    // saturated m=4096 so both true members AND false positives flow
    val bits = Sketches.bloomBits(members, m = 4096)
    val declarative = Sketches.bloomProbe(probes, bits, "gram", m = 4096)
    val packed = Sketches.bloomProbePacked(probes,
      Sketches.packBloomBits(bits, m = 4096), "gram")
    assert(declarative.exceptAll(packed).isEmpty &&
           packed.exceptAll(declarative).isEmpty,
      "packed and declarative probes must keep identical key sets")
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"the packed probe must be join-free:\n${plan.take(1200)}")
    // `*(n)` is the compact WholeStageCodegen stage marker
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"the packed probe must stay inside whole-stage codegen:\n${plan.take(600)}")
  }

  test("q85: audit arithmetic is internally consistent and the " +
       "one-sided law holds per GRAM, not just per aggregate") {
    val out = Sketches.bloomDecontamination(spark, sf).collect()
    operators.Caches.release()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nTrain, nBloom, nTrue, nFp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nTrue <= nBloom, s"${r.getString(0)}: false negative!")
      assert(nBloom <= nTrain && nFp == nBloom - nTrue)
      val denom = nTrain - nTrue
      val replay = if (denom == 0) 0.0 else nFp.toDouble / denom
      assert(r.getDouble(5) == replay, "fp_rate must replay exactly")
    }

    // gram-level: TRUE overlap grams ⊆ bloom-positive grams, re-derived
    // from the operator's own split/gram definitions
    import graft.functions.TextFunctions.{shingles, tokens}
    val g = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= Sketches.ShingleK)
      .withColumn("_eval",
        graft.operators.Sampling.hashBucket(col("doc_id"), 10) === 0)
    val evalGrams = g.filter(col("_eval"))
      .select(explode(shingles(col("t"), Sketches.ShingleK)).as("gram"))
      .distinct()
    val trainGrams = g.filter(!col("_eval"))
      .select(col("source"),
        explode(shingles(col("t"), Sketches.ShingleK)).as("gram"))
      .distinct()
    val positives = Sketches.bloomProbe(
      trainGrams, Sketches.bloomBits(evalGrams), "gram")
    val truth = trainGrams.join(evalGrams, Seq("gram"), "left_semi")
    assert(truth.exceptAll(positives).isEmpty,
      "every truly-contaminated (source, gram) must be Bloom-positive")
  }

  test("histogram: the bound law — the exact quantile always lies in " +
       "the estimated bin — on a planted 1..1000 distribution") {
    // planted lens 1..1000: every order statistic is known in closed
    // form, so est/exact/err are all checkable exactly
    val lens = spark.range(1L, 1001L).select(col("id").as("len"))
    val bins = lens
      .withColumn("bin", least(expr(s"len div ${Sketches.HistW}"),
        lit(Sketches.HistB - 1L)))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    val est = Sketches.histogramQuantiles(bins)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    Sketches.HistPercents.foreach { p =>
      val (n, target, estBin) = est(p.toLong)
      assert(n == 1000 && target == (1000L * p + 99) / 100)
      val exact = target // the rank-target'th smallest of 1..1000
      val lo = estBin * Sketches.HistW
      assert(lo <= exact && exact < lo + Sketches.HistW,
        s"p$p: exact $exact outside bin [$lo, ${lo + Sketches.HistW})")
    }
  }

  test("histogram: bins merge by sum, and q86's audit replays its own " +
       "arithmetic with err inside the bin width") {
    // merge law on planted halves
    val lens = spark.range(1L, 2001L).select(col("id").as("len"))
    def binsOf(df: DataFrame): Map[Long, Long] = df
      .withColumn("bin", least(expr(s"len div ${Sketches.HistW}"),
        lit(Sketches.HistB - 1L)))
      .groupBy("bin").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = binsOf(lens)
    val a = binsOf(lens.filter(col("len") % 2 === 0))
    val b = binsOf(lens.filter(col("len") % 2 === 1))
    val summed = (a.keySet ++ b.keySet).map { k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))
    }.toMap
    assert(summed == whole, "bin-wise sum of halves must equal whole")

    // the declared query on the real corpus
    val out = Sketches.tokenLengthQuantiles(spark, sf).collect()
    operators.Caches.release()
    assert(out.length == Sketches.HistPercents.length)
    out.foreach { r =>
      val (p, n, target, lo, exact, err) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(target == (n * p + 99) / 100, "rank target must replay")
      assert(err == exact - lo && err >= 0 && err < Sketches.HistW,
        s"p$p: exact $exact escaped its bin (est_lo $lo)")
    }
  }

  test("q84: 20 rows, sorted by exact count, overest consistent") {
    val out = Sketches.cmsHeavyHitters(spark, sf).collect()
    operators.Caches.release()
    assert(out.length == 20)
    val exacts = out.map(_.getLong(1))
    assert(exacts.sameElements(exacts.sortBy(-_)), "must sort by n_exact desc")
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1) &&
        r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
  }
}
