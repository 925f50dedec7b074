package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck property tests for the scalar-function layer (SURVEY §5.2:
  * "ScalaCheck properties for scalar fns"). Properties evaluate through
  * the engine (small DataFrames), not plain Scala, so they exercise the
  * same codegen'd expressions the queries use. */
class PropertySpec extends AnyFunSuite {

  /** Seeded forAll over 30 deterministic samples (the scalatestplus
    * bridge isn't on the classpath; raw ScalaCheck generators are). */
  private def forAll[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 30).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(10), Seed(i.toLong))
        .foreach(body)
    }

  import TestSpark._
  import spark.implicits._

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).map(_.take(8))
  private val words: Gen[List[String]] = Gen.nonEmptyListOf(word).map(_.take(12))

  test("concat_ws/split round-trips token lists (F8/F9)") {
    forAll(words) { ws =>
      val got = Seq(ws).toDF("t")
        .select(split(concat_ws(" ", col("t")), " ").as("back"))
        .head.getSeq[String](0)
      assert(got == ws)
    }
  }

  test("sum(when(cond, x)) equals filtered sum (A5 conditional agg)") {
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1000, 1000))) { xs =>
      val df = xs.toDF("x")
      val viaWhen = df.agg(
        sum(when(col("x") > 0, col("x")).otherwise(0L))).head.getLong(0)
      val viaFilter = df.filter(col("x") > 0)
        .agg(coalesce(sum(col("x")), lit(0L))).head.getLong(0)
      assert(viaWhen == viaFilter)
    }
  }

  test("array_distinct is idempotent and order-preserving on first sight (F14)") {
    forAll(words) { ws =>
      val d1 = Seq(ws).toDF("t")
        .select(array_distinct(col("t")).as("d")).head.getSeq[String](0)
      val d2 = Seq(d1).toDF("t")
        .select(array_distinct(col("t")).as("d")).head.getSeq[String](0)
      assert(d1 == d2)                   // idempotent
      assert(d1 == ws.distinct)          // Scala semantics match
    }
  }

  test("simhash64 is permutation-invariant in token multiset sign sums") {
    // shuffling tokens never changes the signature (per-bit sums commute)
    forAll(words) { ws =>
      GraftExtensions.install(spark)
      val sig = (l: List[String]) => Seq(l).toDF("t")
        .select(call_function("simhash64", col("t"))).head.getLong(0)
      assert(sig(ws) == sig(scala.util.Random.shuffle(ws)))
    }
  }

  test("simhash_md5_60 is permutation-invariant and equals a direct recompute") {
    forAll(words) { ws =>
      GraftExtensions.install(spark)
      val sig = (l: List[String]) => Seq(l).toDF("t")
        .select(call_function("simhash_md5_60", col("t"))).head.getLong(0)
      val s = sig(ws)
      assert(s == sig(scala.util.Random.shuffle(ws))) // per-bit sums commute
      assert((s >>> 60) == 0L, "signature must fit in 60 bits")
      // independent Scala recompute of the md5-60 bit-majority definition
      val counts = new Array[Int](60)
      ws.foreach { w =>
        val h = graft.plans.SimHashMd5.md5Hash60(w.getBytes("UTF-8"))
        (0 until 60).foreach(j => counts(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1))
      }
      val expected = (0 until 60).foldLeft(0L)((acc, j) =>
        if (counts(j) > 0) acc | (1L << j) else acc)
      assert(s == expected)
    }
  }

  test("hyperplane sketch is invariant under positive scaling of the vector") {
    // sign(⟨c·v, p⟩) == sign(⟨v, p⟩) for c > 0 — the sketch depends only
    // on direction, which is exactly why it works for cosine similarity
    import spark.implicits._
    // deterministic pick: bare limit() may choose different rows across
    // the two independent jobs, shrinking the join to a vacuous compare
    val vecs = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 50)
    val scaled = vecs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x * 4.0 AS float))").as("embedding"))
    val a = operators.Similarity.hyperplaneSketch(vecs, "embedding", 16, 64)
      .select(col("vec_id"), col("sketch"))
    val b = operators.Similarity.hyperplaneSketch(scaled, "embedding", 16, 64)
      .select(col("vec_id"), col("sketch").as("sketch_scaled"))
    val joined = a.join(b, "vec_id").cache()
    assert(joined.count() == 50, "both sides must cover the same 50 vectors")
    assert(joined.filter(col("sketch") =!= col("sketch_scaled")).count() == 0)
  }

  test("minhash signatures are deterministic and est_jaccard in [0,1]") {
    val sig1 = operators.Dedup.minhashSignatures(spark, sf, 12)
    val sig2 = operators.Dedup.minhashSignatures(spark, sf, 12)
    // deterministic: two independent computations produce identical
    // signatures ⇒ self-similarity (fraction of equal minhashes) is 1
    assert(sig1.exceptAll(sig2).count() == 0)
    val pairs = operators.Dedup.minhashLshPairs(spark, sf)
    val bad = pairs.filter(col("est_jaccard") < 0.0 || col("est_jaccard") > 1.0)
    assert(bad.count() == 0)
  }

  test("bucket-grid range join equals brute force on random intervals (q57 core)") {
    // random points/intervals/bucket widths — including intervals much
    // longer AND much shorter than the grid, zero-length intervals, and
    // boundary-touching points the grid cover must neither drop nor dup
    val pointGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 500L)))
    val ivGen = Gen.listOfN(15, Gen.zip(Gen.chooseNum(0L, 2L),
      Gen.chooseNum(0L, 500L), Gen.chooseNum(0L, 120L)))
    val wGen = Gen.oneOf(7L, 50L, 128L)
    (1 to 8).foreach { i =>
      val seed = Seed(1000L + i)
      val pts = pointGen.apply(Gen.Parameters.default, seed).get
        .zipWithIndex.map { case ((k, t), id) => (id.toLong, k, t) }
        .toDF("pid", "k", "t")
      val ivs = ivGen.apply(Gen.Parameters.default, seed.next).get
        .zipWithIndex.map { case ((k, lo, len), id) => (id.toLong, k, lo, lo + len) }
        .toDF("iid", "k", "lo", "hi")
      val w = wGen.apply(Gen.Parameters.default, seed.next.next).get
      val grid = operators.Intervals.rangeJoin(pts, ivs, Seq("k"),
          "t", "lo", "hi", w)
        .select(col("pid"), col("iid"))
      val brute = pts.join(ivs.withColumnRenamed("k", "k2"),
          col("k") === col("k2") && col("t") >= col("lo") && col("t") < col("hi"))
        .select(col("pid"), col("iid"))
      assert(grid.exceptAll(brute).isEmpty && brute.exceptAll(grid).isEmpty,
        s"iteration $i (w=$w): grid join diverges from brute force")
    }
  }

  test("rangeJoin rejects caller columns colliding with grid staging names") {
    val pts = Seq((1L, 1L, 5L)).toDF("pid", "k", "t")
    val ivs = Seq((1L, 1L, 0L, 10L)).toDF("iid", "k", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      operators.Intervals.rangeJoin(pts.withColumn("_bucket", lit(1)),
        ivs, Seq("k"), "t", "lo", "hi", 7L)
    }
    assert(e.getMessage.contains("_bucket"))
    val e2 = intercept[IllegalArgumentException] {
      operators.Intervals.rangeJoin(pts,
        ivs.withColumn("_lo_cell", lit(1)), Seq("k"), "t", "lo", "hi", 7L)
    }
    assert(e2.getMessage.contains("_lo_cell"))
  }

  test("bucket-grid range join stays exact above 2^52 and at long extremes") {
    // pins the exact integral cell math ((x - pmod(x,w)) div w, shared
    // with RangeJoinRule.cell): a double-based floor(x/w) quantizes to
    // 256-long steps at 2^60 and silently drops/dups pairs there
    val w = 7L
    def run(base: Long): Unit = {
      val offs = Seq(0L, 1L, 3L, 6L, 7L, 13L, 255L, 256L, 257L, 511L, 1000L)
      val pts = offs.zipWithIndex.map { case (o, i) => (i.toLong, 1L, base + o) }
      val ivs = Seq((0L, 1L, base + 2L, base + 9L), (1L, 1L, base, base + 256L),
        (2L, 1L, base + 250L, base + 260L), (3L, 1L, base + 500L, base + 500L))
      val got = operators.Intervals.rangeJoin(
          pts.toDF("pid", "k", "t"), ivs.toDF("iid", "k", "lo", "hi"),
          Seq("k"), "t", "lo", "hi", w)
        .select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exp = (for { (pid, _, t) <- pts; (iid, _, lo, hi) <- ivs
                       if t >= lo && t < hi } yield (pid, iid)).toSet
      assert(got == exp, s"base=$base: grid $got vs brute $exp")
    }
    run(1L << 60)                    // above 2^52: doubles cannot count by 1
    run(Long.MaxValue - 2000L)       // top of the documented domain
    run(Long.MinValue + w + 1000L)   // bottom: [Long.MinValue + W, MaxValue]
    // fixture relevance: the double formulation really does disagree here
    val b = 1L << 60
    assert((0L to 20L).exists { o =>
      val x = b + o
      math.floor(x.toDouble / w).toLong != (x - math.floorMod(x, w)) / w
    }, "fixture no longer exercises the 2^52 double hazard")
  }

  test("normalizeUrl properties over generated URLs (q71)") {
    import graft.functions.TextFunctions.normalizeUrl
    // URL generator spanning the normalizer's whole rule surface:
    // scheme/host case, optional www., default/real/absent ports,
    // path depth + trailing slashes, shuffled params incl. utm_*,
    // optional fragments
    val scheme = Gen.oneOf("http", "https", "HTTP", "Https", "HtTpS")
    val hostCore = for {
      a <- Gen.nonEmptyListOf(Gen.alphaChar).map(_.take(6).mkString)
      b <- Gen.oneOf("com", "org", "NET")
    } yield s"$a.example.$b"
    val www = Gen.oneOf("", "www.", "WWW.", "WwW.")
    val port = Gen.oneOf("", ":80", ":443", ":8080", ":9999")
    val seg = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(5).mkString)
    val path = for {
      segs <- Gen.listOf(seg).map(_.take(3))
      slash <- Gen.oneOf("", "/", "//")
    } yield (if (segs.isEmpty) "" else segs.mkString("/", "/", "")) + slash
    val param = for {
      k <- Gen.oneOf("a", "b", "zz", "utm_source", "utm_x")
      v <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(4).mkString)
    } yield s"$k=$v"
    val query = Gen.listOf(param).map(_.take(4))
      .map(ps => if (ps.isEmpty) "" else ps.mkString("?", "&", ""))
    val frag = Gen.oneOf("", "#x", "#sec-2")
    val url = for {
      s0 <- scheme; w0 <- www; h <- hostCore; p0 <- port
      pa <- path; q <- query; f <- frag
    } yield s"$s0://$w0$h$p0$pa$q$f"

    def norm(us: Seq[String]): Seq[String] =
      us.toDF("url").select(normalizeUrl(col("url"))).as[String].collect().toSeq

    forAll(Gen.listOfN(8, url).map(_.distinct)) { us0 =>
      val us = us0.filter(_.nonEmpty)
      if (us.nonEmpty) {
        val once = norm(us)
        // idempotence: a canonical URL is its own canonical form
        assert(norm(once) == once, s"not idempotent on $us -> $once")
        once.zip(us).foreach { case (n, u) =>
          // invariants every canonical form must satisfy
          assert(n == n.toLowerCase.take(n.indexOf("://") + 3) +
            n.drop(n.indexOf("://") + 3), s"scheme not lowered: $u -> $n")
          assert(!n.contains("#"), s"fragment survived: $u -> $n")
          assert(!n.contains("utm_"), s"tracking param survived: $u -> $n")
          assert(!n.matches("^https?://www\\..*"), s"www survived: $u -> $n")
          assert(!n.matches("^http://[^/]*:80(/.*)?$") &&
                 !n.matches("^https://[^/]*:443(/.*)?$"),
            s"default port survived: $u -> $n")
          // case-insensitivity of scheme+authority: uppercasing them in
          // the INPUT never changes the canonical form
          val schemeEnd = u.indexOf("://") + 3
          val authEnd0 = u.indexOf('/', schemeEnd)
          val authEnd = if (authEnd0 < 0) {
            val qPos = u.indexOf('?', schemeEnd)
            if (qPos < 0) u.length else qPos
          } else authEnd0
          val shouted = u.substring(0, authEnd).toUpperCase + u.substring(authEnd)
          assert(norm(Seq(shouted)).head == n,
            s"authority case changed the canonical form: $shouted vs $u")
        }
      }
    }
  }

  test("doc chunking equals a plain-Scala reference tiling for any (maxLen, stride)") {
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // reference tiling: the snapped-last-window semantics, computed
    // driver-side with no Spark involvement
    def ref(toks: Vector[String], maxLen: Int, stride: Int)
        : Seq[(Long, Long, Long, String)] = {
      val n = toks.length
      val nc = if (n <= maxLen) 1L
               else ((n - maxLen + stride - 1) / stride + 1).toLong
      (0L until nc).map { i =>
        val start = if (i == nc - 1) math.max(n - maxLen, 0).toLong
                    else i * stride
        val len = math.min(maxLen.toLong, n - start)
        (i, start, len,
          m(toks.slice(start.toInt, (start + len).toInt).mkString(" ")))
      }
    }
    val gen = for {
      lens <- Gen.nonEmptyListOf(Gen.chooseNum(1, 60)).map(_.take(8))
      maxLen <- Gen.chooseNum(1, 20)
      stride <- Gen.chooseNum(1, maxLen)
    } yield (lens, maxLen, stride)
    forAll(gen) { case (lens, maxLen, stride) =>
      val docs = lens.zipWithIndex.map { case (n, id) =>
        (id.toLong, (0 until n).map(k => s"w$k").mkString(" "))
      }
      val got = operators.TextOps
        .docChunksFor(docs.toDF("doc_id", "text"), maxLen, stride)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      val want = docs.flatMap { case (id, text) =>
        ref(text.split(" ").toVector, maxLen, stride)
          .map { case (i, s, l, h) => (id, i, s, l, h) }
      }.toSet
      assert(got == want,
        s"tiling mismatch at maxLen=$maxLen stride=$stride lens=$lens")
    }
  }
}
