package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge learning (q90/q91): the distributed trainer pinned to a
  * naive in-memory reference on exactly the inputs where a wrong merge
  * rule diverges — runs of identical symbols (greedy non-overlap
  * alternation), rules whose merged output collides with later input,
  * and end-marker merges. */
class BpeSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Bpe

  /** Naive reference: the textbook trainer, straight-line Scala. */
  private def refLearn(words: Map[String, Long], iters: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Seq[String]]) = {
    var state: Map[String, Seq[String]] =
      words.map { case (w, _) => w -> (w.map(_.toString) :+ Bpe.EndMark) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (it <- 1 to iters) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, f) <- words; s = state(w); i <- 0 until s.length - 1)
        pc((s(i), s(i + 1))) = pc.getOrElse((s(i), s(i + 1)), 0L) + f
      val ((a, b), c) = pc.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
      merges += ((it, a, b, c))
      state = state.map { case (w, s) =>
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += s(i); i += 1 }
        }
        w -> out.result()
      }
    }
    (merges.result(), state)
  }

  private def learnOn(words: Map[String, Long], iters: Int) = {
    val spark2 = spark
    import spark2.implicits._
    val state0 = words.toSeq.toDF("word", "freq")
      .withColumn("syms",
        concat(split(col("word"), ""), array(lit(Bpe.EndMark))))
    val (merges, fin) = Bpe.learnMerges(state0, iters)
    val got = merges.map(m => (m.iter.toInt, m.lhs, m.rhs, m.pairCount))
    val finMap = fin.select(col("word"), col("syms")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    (got, finMap)
  }

  test("trainer ≡ naive reference on identical-symbol runs (greedy non-overlap)") {
    // 'aaaa' forces the alternation case: [a,a,a,a,</w>] under rule
    // (a,a) must become [aa,aa,</w>], NOT [aa,a,a,</w>] (string-replace
    // implementations get this wrong) and NOT [aa,aa,a…] overlap
    val words = Map("aaaa" -> 5L, "aaa" -> 3L, "ab" -> 1L)
    val (got, fin) = learnOn(words, 3)
    val (ref, refFin) = refLearn(words, 3)
    assert(got == ref, s"merge tables diverge:\n got=$got\n ref=$ref")
    assert(fin == refFin, s"final states diverge:\n got=$fin\n ref=$refFin")
    // the alternation itself, explicitly: one iteration of (a,a)
    assert(got.head._2 == "a" && got.head._3 == "a")
    val (_, after1) = learnOn(words, 1)
    assert(after1("aaaa") == Seq("aa", "aa", Bpe.EndMark),
      s"greedy left-to-right must pair positions (1,2) and (3,4): ${after1("aaaa")}")
    assert(after1("aaa") == Seq("aa", "a", Bpe.EndMark),
      s"odd runs keep the trailing singleton: ${after1("aaa")}")
  }

  test("trainer ≡ naive reference when a merged symbol collides with later input") {
    // after merge 1 creates 'ab', words containing literal 'a','b'
    // sequences adjacent to the merged token stress the fold's
    // last-accumulator-symbol comparison
    val words = Map("abab" -> 4L, "aab" -> 3L, "abb" -> 2L, "ba" -> 2L)
    val (got, fin) = learnOn(words, 4)
    val (ref, refFin) = refLearn(words, 4)
    assert(got == ref, s"merge tables diverge:\n got=$got\n ref=$ref")
    assert(fin == refFin, s"final states diverge:\n got=$fin\n ref=$refFin")
  }

  test("trainer ≡ naive reference on the driver corpus train split, incl. end-marker merges") {
    val spark2 = spark
    import spark2.implicits._
    val b = operators.Sampling.hashBucket(col("doc_id"), 100)
    val words = graft.sources.Tables(spark, sf, "documents")
      .filter(b < 80)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect().toMap
    val (got, fin) = learnOn(words, 10)
    val (ref, refFin) = refLearn(words, 10)
    assert(got == ref)
    assert(fin == refFin)
    // non-vacuity: the corpus actually exercises an end-marker merge
    assert(got.exists(m => m._3 == Bpe.EndMark),
      s"expected a (sym, </w>) merge among $got")
    // merges only ever SHRINK segmentations: per source, fertility under
    // the learned merges must sit in [1, baseline], where baseline is
    // the unmerged char+marker segmentation length (word_len + 1)
    val fert = operators.Bpe.bpeFertility(spark, sf, iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(fert.nonEmpty)
    val baseline = graft.sources.Tables(spark, sf, "documents")
      .filter(b >= 90)
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .groupBy("source")
      .agg(avg(length(col("word")) + 1).as("base"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    fert.foreach { case (src, f) =>
      assert(f >= 1.0 && f < baseline(src),
        s"$src fertility $f must improve on the unmerged ${baseline(src)}")
    }
    // applying ZERO extra merges is the identity on segmentations
    val seg0 = Bpe.applyMerges(
      Seq(("hello", Seq("h", "e", "l", "l", "o", Bpe.EndMark)))
        .toDF("word", "syms"), Nil)
      .head.getSeq[String](1)
    assert(seg0 == Seq("h", "e", "l", "l", "o", Bpe.EndMark))
  }

  /** Sequential rank-order application, straight-line Scala — the
    * independent ground truth [[Bpe.segmentWithVocab]]'s lowest-rank-
    * first loop is pinned against (refLearn's merge pass, reused as a
    * standalone apply). */
  private def refApply(word: String,
                       merges: Seq[(Int, String, String, Long)]): Seq[String] = {
    var s: Seq[String] = word.map(_.toString) :+ Bpe.EndMark
    for ((_, a, b, _) <- merges.sortBy(_._1)) {
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += s(i); i += 1 }
      }
      s = out.result()
    }
    s
  }

  test("segmentWithVocab ≡ applyMerges on the learned driver-corpus table, incl. unseen words") {
    val spark2 = spark
    import spark2.implicits._
    val b = operators.Sampling.hashBucket(col("doc_id"), 100)
    def words(train: Boolean) = graft.sources.Tables(spark, sf, "documents")
      .filter(if (train) b < 80 else b >= 90)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val hist = Bpe.wordHistogram(words(train = true))
    val (merges, _) = Bpe.learnMerges(hist, 10)
    // the q91 shape: segment the DISTINCT held-out words — these include
    // words the trainer never saw, where partial/zero merges must agree
    val test = words(train = false).distinct()
    val viaFold = Bpe.applyMerges(
      test.withColumn("syms",
        concat(split(col("word"), ""), array(lit(Bpe.EndMark)))), merges)
      .select(col("word"), col("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    val viaVocab = Bpe.segmentWithVocab(test, merges)
      .select(col("word"), col("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(viaVocab.nonEmpty && viaVocab == viaFold)
    // non-vacuity: at least one held-out word actually fires a merge
    assert(viaVocab.exists { case (w, syms) => syms.length < w.length + 1 })
  }

  test("selectNonInteracting: rank order kept, shared symbols deferred, batch capped") {
    val ranked = Seq(
      ("a", "b", 10L),  // picked
      ("b", "c", 9L),   // shares b -> deferred
      ("c", "d", 8L),   // c free (b,c was NOT picked) -> picked
      ("e", "e", 7L),   // self-pair, disjoint -> picked
      ("e", "f", 6L),   // shares e -> deferred
      ("g", "h", 5L))   // beyond batch=3
    assert(Bpe.selectNonInteracting(ranked, 3) ===
      Seq(("a", "b", 10L), ("c", "d", 8L), ("e", "e", 7L)))
    // cap respected even with plenty of disjoint candidates
    assert(Bpe.selectNonInteracting(ranked, 1) === Seq(("a", "b", 10L)))
    // an exhausted pool returns what it found, never throws
    assert(Bpe.selectNonInteracting(Seq(("a", "b", 1L), ("a", "c", 1L)), 5) ===
      Seq(("a", "b", 1L)))
  }

  test("subword-budget packing: degenerate ends pin the budget semantics (q106)") {
    import spark.implicits._
    import graft.operators.Packing
    val docs = Seq((1L, "ab cd ab"), (2L, "ef ab"), (3L, "cd cd gh"))
      .toDF("doc_id", "text")
    // EMPTY merge table = maximally-fragmented tokenizer: every word
    // counts as its characters + </w> (len+1), by BPE semantics
    val empty = Bpe.subwordCountsFor(docs, Nil)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(empty === Map(1L -> 9L, 2L -> 6L, 3L -> 9L))
    // SATURATING table (every corpus word fully merged to one symbol):
    // subword counts ≡ whitespace counts, so subword-budget packing is
    // row-identical to the q52 whitespace-budget packer
    val sat = Seq(
      Bpe.Merge(1, "a", "b", 0), Bpe.Merge(2, "c", "d", 0),
      Bpe.Merge(3, "e", "f", 0), Bpe.Merge(4, "g", "h", 0),
      Bpe.Merge(5, "ab", Bpe.EndMark, 0), Bpe.Merge(6, "cd", Bpe.EndMark, 0),
      Bpe.Merge(7, "ef", Bpe.EndMark, 0), Bpe.Merge(8, "gh", Bpe.EndMark, 0))
    val satCounts = Bpe.subwordCountsFor(docs, sat)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(satCounts === Map(1L -> 3L, 2L -> 2L, 3L -> 3L))
    val viaSubword = Packing.packSequencesSubwordFor(docs, sat, budget = 4)
      .collect().map(_.toSeq).toSeq
    graft.operators.Caches.release()
    val viaWhitespace = Packing.packSequencesFor(docs, budget = 4)
      .collect().map(_.toSeq).toSeq
    graft.operators.Caches.release()
    assert(viaSubword === viaWhitespace)
    assert(viaSubword.nonEmpty)
  }

  test("selectNonInteracting: created-symbol collisions are deferred too (r13 ADVICE)") {
    // (a,bc) creates 'abc'; (abc,d) reads a symbol the round CREATES —
    // if both were selected, folding (a,bc) first would let (abc,d)
    // merge occurrences that did not exist at count time. Sides are
    // disjoint ({a,bc} vs {abc,d}), so only the created-symbol rule
    // catches it.
    assert(Bpe.selectNonInteracting(
      Seq(("a", "bc", 10L), ("abc", "d", 9L), ("x", "y", 8L)), 3) ===
      Seq(("a", "bc", 10L), ("x", "y", 8L)))
    // the mirror image: a selected pair READS 'abc', a later one would
    // CREATE it — commutativity requires deferring that one as well
    assert(Bpe.selectNonInteracting(
      Seq(("abc", "d", 10L), ("a", "bc", 9L), ("x", "y", 8L)), 3) ===
      Seq(("abc", "d", 10L), ("x", "y", 8L)))
    // two creators of the same symbol ('abc' via (a,bc) and (ab,c)):
    // second deferred — both folding would double-source one symbol
    assert(Bpe.selectNonInteracting(
      Seq(("a", "bc", 10L), ("ab", "c", 9L)), 2) === Seq(("a", "bc", 10L)))
  }

  test("batched trainer with batch=1 ≡ sequential trainer on the driver corpus") {
    // batch=1 degenerates to one-pair-per-round: the batched machinery
    // (pool collect, greedy select, fold, global iter numbering) must
    // reproduce learnMerges EXACTLY — same table, same final state
    val spark2 = spark
    import spark2.implicits._
    val words = graft.sources.Tables(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
    val hist = Bpe.wordHistogram(words)
    val (seqM, seqF) = Bpe.learnMerges(hist, 10)
    val (batM, batF) = Bpe.learnMergesBatched(hist, 10, batch = 1)
    assert(batM === seqM)
    def st(df: org.apache.spark.sql.DataFrame) =
      df.select(col("word"), col("syms")).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(st(batF) === st(seqF))
  }

  test("batched trainer ≡ sequential when the round's argmaxes don't interact; divergence case pinned") {
    val spark2 = spark
    import spark2.implicits._
    // (a,b) count 10 is spread over TWO continuations, so its created
    // pairs (ab,x)/(ab,y) carry count 5 each — BELOW (c,d)'s 9: the
    // sequential argmax sequence [(a,b),(c,d)] is symbol-disjoint and
    // no created pair outranks it, the exact precondition under which
    // the batched table must be EQUAL
    val words = Map("abx" -> 5L, "aby" -> 5L, "cdz" -> 9L)
    val state0 = words.toSeq.toDF("word", "freq")
      .withColumn("syms",
        concat(split(col("word"), ""), array(lit(Bpe.EndMark))))
    val (seq2, _) = Bpe.learnMerges(state0, 2)
    val (bat2, _) = Bpe.learnMergesBatched(state0, 2, batch = 2)
    assert(bat2 === seq2)
    assert(seq2.map(m => (m.lhs, m.rhs)) === Seq(("a", "b"), ("c", "d")))
    // iters=3 is the DOCUMENTED approximation boundary: sequential's
    // third argmax is the created pair (cd,z) — invisible to the batch,
    // which (correctly, per its contract) took the standing (z,</w>).
    // Pinned explicitly so the trade stays visible, not hidden.
    val (seq3, _) = Bpe.learnMerges(state0, 3)
    val (bat3, bat3F) = Bpe.learnMergesBatched(state0, 3, batch = 3)
    assert(seq3.last.lhs === "cd" && seq3.last.rhs === "z")
    assert(bat3.map(m => (m.lhs, m.rhs)) ===
      Seq(("a", "b"), ("c", "d"), ("z", Bpe.EndMark)))
    // the batched table is still a VALID greedy table: its recorded
    // counts are true selection-time counts, and applying it
    // sequentially reproduces the batched final state exactly
    assert(bat3.map(_.pairCount) === Seq(10L, 9L, 9L))
    val replay = Bpe.applyMerges(state0, bat3)
      .select(col("word"), col("syms")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    val batF = bat3F.select(col("word"), col("syms")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(batF === replay)
    // and downstream consumers accept it: global iter numbering is
    // sequential, so ranksOf/segmentWithVocab work unchanged
    assert(Bpe.ranksOf(bat3).values.toSeq.sorted === Seq(0, 1, 2))
  }

  test("frozen-vocab segmenter: 1000-merge table, plan constant in vocab size") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic synthetic vocab (LCG, 6-letter alphabet, length-14
    // words): dense pair reuse so 1000 learnable merges exist, and the
    // in-memory reference trainer stays seconds-fast
    var seed = 0x5DEECE66DL
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val alpha = "abcdef"
    val vocab = (1 to 1200).map { _ =>
      (1 to 14).map(_ => alpha(nextInt(alpha.length))).mkString
    }.distinct
    val freqs = vocab.map(w => w -> (1L + nextInt(50))).toMap
    val (refMerges, refFinal) = refLearn(freqs, 1000)
    assert(refMerges.size == 1000)
    val merges = refMerges.map { case (it, l, r, c) => Bpe.Merge(it.toLong, l, r, c) }
    // unseen words: perturbed variants sharing prefixes with the vocab,
    // so they fire SOME merges but also hit rank misses mid-word
    val unseen = vocab.take(200).map(w => w.take(7) + w.drop(7).reverse)
    val allWords = (vocab ++ unseen).distinct
    val segmented = Bpe.segmentWithVocab(allWords.toDF("word"), merges)
    val got = segmented.select(col("word"), col("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    // training words: must equal the trainer's own final state
    vocab.foreach { w =>
      assert(got(w) == refFinal(w), s"training word '$w': ${got(w)} != ${refFinal(w)}")
    }
    // unseen words: must equal sequential rank-order application
    unseen.foreach { w =>
      assert(got(w) == refApply(w, refMerges), s"unseen word '$w' diverges")
    }
    // the deployability claim made executable: the segmenter's physical
    // plan must NOT grow with the merge table (applyMerges' plan is
    // ~linear in it — 1000 chained folds would be ~100x the 10-merge
    // plan and would not survive analysis at 32k)
    def planChars(ms: Seq[Bpe.Merge]): Int =
      Bpe.segmentWithVocab(allWords.toDF("word"), ms)
        .queryExecution.executedPlan.toString.length
    val p10 = planChars(merges.take(10))
    val p1000 = planChars(merges)
    assert(p1000 <= 2 * p10,
      s"segmenter plan grew with vocab size: $p10 chars @10 merges vs $p1000 @1000")
  }
}
