package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Byte-pair-encoding MERGE LEARNING over the corpus word histogram —
  * the tokenizer-training step of a pretraining pipeline (q82's top-V
  * word cut is a word-level vocab; production vocabs are merge-based
  * subword vocabs, Sennrich et al. 2016).
  *
  * Algorithm (the reference BPE trainer, exactly): start from each
  * distinct word as its character sequence plus a `</w>` end marker;
  * each iteration counts ADJACENT SYMBOL PAIRS weighted by word
  * frequency (overlapping occurrences all count, the standard rule),
  * picks the argmax pair under the deterministic total order
  * (count desc, left asc, right asc), and merges its non-overlapping
  * occurrences greedily left-to-right in every word.
  *
  * Scale shape — the part that matters at 100 TB: the CORPUS is
  * touched exactly once, by the word-histogram aggregation (the
  * standard word-count shuffle, partial-agg'd). Every merge iteration
  * then runs on the HISTOGRAM — vocabulary-sized, millions of rows at
  * worst — as one pair-count aggregate plus one per-row merge
  * projection; the chosen pair is a single collected row (a bounded
  * 1-row driver fetch per iteration, the same driver-loop shape as
  * ml.Customs.forwardStepwise). Token streams never re-shuffle.
  *
  * The merge projection is a SQL `aggregate` fold (interpreted HOF —
  * acceptable BY MEASUREMENT on histogram-sized input, never on the
  * token stream): fold symbols left-to-right, merging when the
  * accumulator's last symbol is `lhs` and the incoming one is `rhs`.
  * This equals greedy non-overlapping left-to-right merging because a
  * merged symbol (`lhs+rhs`, strictly longer than `lhs`) can never
  * itself re-match `lhs`, so a just-merged position cannot chain into
  * an overlapping second merge. BpeSpec pins the fold to a naive
  * in-memory trainer on planted run/overlap edge cases and on the
  * driver corpus.
  */
object Bpe {

  /** One learned merge rule. */
  final case class Merge(iter: Long, lhs: String, rhs: String,
                         pairCount: Long)

  /** The `</w>` word-end marker (kept out of corpus chars by
    * construction — corpus tokens never contain '<'). */
  val EndMark = "</w>"

  /** (word, freq, syms) histogram from a one-column `word` frame — the
    * single corpus-scale pass. Empty words are dropped (r11 ADVICE):
    * Spark's split('','') returns [""] (not []), so an empty token —
    * consecutive/leading/trailing spaces in a future corpus — would
    * yield syms ["", "</w>"], diverging from the reference trainer and
    * from DuckDB's string_split, and breaking the "merged symbol is
    * strictly longer than lhs" greedy-equivalence premise. */
  def wordHistogram(words: DataFrame): DataFrame =
    words.filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        concat(split(col("word"), ""), array(lit(EndMark))))

  /** Greedy non-overlapping left-to-right merge of (a, b) in a symbol
    * array, as a single fold expression (see object doc for the
    * equivalence argument). */
  def mergeSyms(syms: Column, a: String, b: String): Column =
    aggregate(syms, typedlit(Seq.empty[String]),
      (acc, s) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Adjacent-pair counts of a (freq, syms) state — every overlapping
    * occurrence counts, weighted by word frequency. Fully-merged
    * single-symbol words are filtered FIRST: `sequence(1, 0)` in Spark
    * is the DESCENDING [1, 0], not empty, and ANSI `element_at` then
    * throws on the out-of-bounds index (DuckDB's generate_series(1,0)
    * is empty — the oracle never sees the case). */
  private def pairCounts(state: DataFrame): DataFrame =
    state
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS lhs, element_at(syms, i + 1) AS rhs))"))
        .as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))

  /** Run `iters` merge iterations over an initial (word, freq, syms)
    * state. Returns the learned merge table and the final state. The
    * state is localCheckpoint'ed per iteration: each round's fold
    * otherwise re-nests into the plan and the pair-count action would
    * re-evaluate every earlier round. A tracked-lazy-persist variant
    * (cache filled by the next pair-count action, saving the explicit
    * checkpoint job) was A/B-measured SLOWER at sf0.1 (5-rep medians
    * ~2.95 s vs ~2.26 s per query): the checkpointed state is a flat
    * in-memory block each round reads directly, while the cache chain
    * re-enters the whole InMemoryRelation stack per action — the
    * cache-on-cache cascade SCALE.md documents. Shape chosen by the
    * measurement.
    *
    * Block lifecycle: each iteration's checkpoint supersedes the
    * previous one, whose Dataset becomes unreachable and whose RDD
    * blocks are released by the ContextCleaner (Dataset.unpersist
    * doesn't reach checkpoint-level persistence); at most `iters`
    * histogram-sized block sets can coexist between GC cycles, and
    * their MEMORY_AND_DISK level is evictable under storage pressure —
    * bounded by construction, stated so nobody hunts for a leak. */
  def learnMerges(state0: DataFrame, iters: Int): (Seq[Merge], DataFrame) =
    learnMerges(state0, iters, Sized.BpeDriverRows)

  /** [[learnMerges]] under a driver-training `cap`; `cap = 0` forces
    * the distributed loop. */
  private[graft] def learnMerges(state0: DataFrame, iters: Int,
                                 cap: Int): (Seq[Merge], DataFrame) = {
    require(iters > 0, s"need iters > 0, got $iters")
    // r16 DRIVER FAST PATH (§1.2 step 1 — fix the distributed algorithm
    // before the per-task work): the loop below costs ~0.16 s/merge at
    // ANY histogram size, all of it job-scheduling latency (two jobs per
    // iteration over vocabulary-sized data). When the histogram FITS the
    // driver — the same memory class as the rank map segmentWithVocab
    // already broadcasts — ONE bounded collect (executeTake: stops at
    // cap+1 rows) replaces all 2×iters jobs and the textbook loop runs
    // in memory, bit-identically: same greedy non-overlap merge, same
    // (count desc, lhs, rhs) argmax with lhs/rhs compared as UNSIGNED
    // UTF-8 BYTES (Spark's binary string order — a Java String compare
    // would diverge on supplementary characters). Over the cap — a real
    // 100-TB vocabulary — the distributed loop below runs unchanged.
    // BpeSpec pins driver ≡ distributed ≡ naive reference on the corpus
    // histogram; the q90/q106/q109 oracles gate it end-to-end.
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    // name AND type gate (not names alone): a (word, freq, syms) frame
    // with e.g. an Int freq was previously valid through the
    // distributed loop's sum() widening — it must keep taking that
    // path, not crash the driver path's getLong. containsNull is
    // deliberately ignored on syms: it varies by construction and the
    // null-row probe below handles actual nulls.
    val fastPathSchema =
      state0.schema.fieldNames.sameElements(Array("word", "freq", "syms")) &&
        state0.schema("word").dataType == StringType &&
        state0.schema("freq").dataType == LongType &&
        (state0.schema("syms").dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        })
    // the probe (and the distributed fall-through) read state0 through
    // ONE tracked cache: the probe's executeTake otherwise fully runs
    // the corpus-scale histogram aggregation just to COUNT it, and the
    // over-cap fall-through's localCheckpoint would re-run the whole
    // pass — breaking the "corpus touched exactly once" invariant in
    // exactly the large-vocabulary case the cap exists for. Through the
    // cache, the checkpoint reads the probe's materialized partitions
    // (and the shared shuffle map output) instead of recomputing.
    val source = if (fastPathSchema) Caches.track(state0) else state0
    (if (fastPathSchema) Sized.rowsAtMost(source, cap) else None)
      // null word/syms rows (never produced by wordHistogram, possible
      // from library callers) fall through to the distributed loop,
      // whose fold/aggregate null semantics are the defined ones
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(2)))
      .map { probe =>
        val rows = probe.map { r =>
          (r.getString(0),
           if (r.isNullAt(1)) 0L else r.getLong(1),
           r.getSeq[String](2).toIndexedSeq)
        }.toIndexedSeq
        val (merges, fin) = learnMergesDriver(rows, iters)
        import state0.sparkSession.implicits._
        (merges, fin.toDF("word", "freq", "syms"))
      }
      .getOrElse(learnMergesDistributed(source, iters))
  }

  /** [[learnMerges]]' distributed loop: two jobs per merge over the
    * checkpointed (word, freq, syms) state. */
  private def learnMergesDistributed(source: DataFrame,
                                     iters: Int): (Seq[Merge], DataFrame) = {
    // full shuffle width kept on the loop state: a coalesce(8) variant
    // (fewer sliver tasks per loop job) also A/B-measured slower — the
    // interpreted merge fold is the loop's real compute and wants the
    // parallelism more than the scheduler wants fewer tasks
    var state = source.localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    for (it <- 1 to iters) {
      val best = pairCounts(state)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      require(best.nonEmpty,
        s"pair space exhausted at iteration $it — every word fully " +
          "merged; ask for fewer merges on this corpus")
      val (l, r, c) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += Merge(it.toLong, l, r, c)
      state = state.withColumn("syms", mergeSyms(col("syms"), l, r))
        .localCheckpoint()
    }
    (merges.result(), state)
  }

  /** Greedy rank-order selection of up to `batch` pairwise
    * NON-INTERACTING pairs from a (lhs, rhs, cnt) candidate list
    * already sorted by the trainer's total order: a pair is skipped —
    * deferred to the next round, never dropped — when any of its three
    * symbols (lhs, rhs, or the CREATED symbol lhs+rhs) collides with a
    * previously-selected pair's lhs, rhs, or created symbol. The created
    * symbol is tracked too (r13 ADVICE): with only side-symbol tracking,
    * (a,bc) and (abc,d) could be selected together when 'abc' already
    * exists from an earlier (ab,c) merge — folding (a,bc) first creates
    * NEW 'abc' tokens, so folding (abc,d) after it would merge
    * occurrences not present at count time. Closing over the created
    * symbols restores the full claim: no selected pair consumes OR
    * produces a symbol another selected pair reads, so folding them in
    * any order equals folding them one-per-iteration, and each pair's
    * count is exactly what the shared histogram pass measured. Pure and
    * driver-side (the candidate list is a bounded collect). */
  def selectNonInteracting(ranked: Seq[(String, String, Long)],
                           batch: Int): Seq[(String, String, Long)] = {
    require(batch > 0, s"need batch > 0, got $batch")
    val touched = scala.collection.mutable.HashSet.empty[String]
    val out = Seq.newBuilder[(String, String, Long)]
    var n = 0
    val it = ranked.iterator
    while (n < batch && it.hasNext) {
      val p @ (l, r, _) = it.next()
      if (!touched(l) && !touched(r) && !touched(l + r)) {
        out += p; touched += l; touched += r; touched += (l + r); n += 1
      }
    }
    out.result()
  }

  /** BATCHED merge learning: per round, ONE pair-count job + one
    * bounded collect selects up to `batch` non-interacting pairs
    * ([[selectNonInteracting]]) and folds them in a single projection +
    * one localCheckpoint — ~batch× fewer driver round-trips than
    * [[learnMerges]], whose measured per-iteration floor (0.16 s/merge
    * at sf0.1, SCALE.md) is pure job-scheduling latency: a 32k-vocab
    * production run is driver-bound, and this is the recorded remedy.
    *
    * Semantics — stated exactly, not hand-waved: the batched table
    * equals the sequential table WHENEVER each round's sequential
    * argmax sequence is exactly the round's selected pairs, which holds
    * when (a) the selected pairs are symbol-disjoint in rank order
    * (enforced — interacting pairs are deferred) and (b) no pair
    * CREATED by one of the round's merges outranks the round's next
    * selection (not checkable before the fold; on natural-language
    * histograms a just-created symbol's follow-on pairs almost never
    * beat the standing top-k, but adversarial inputs exist — BpeSpec
    * plants one). Where (b) fails the result is still a VALID greedy
    * BPE table (every selected pair had its true count at selection
    * time); it is the standard batched-trainer approximation, traded
    * knowingly for the k× driver-latency win. Callers who need the
    * reference table exactly (the declared q90 oracle) use
    * [[learnMerges]].
    *
    * Iteration numbering: merges keep GLOBAL sequential `iter` values
    * (1-based across rounds) so [[ranksOf]]/[[segmentWithVocab]]
    * consume either trainer's table identically. */
  def learnMergesBatched(state0: DataFrame, iters: Int,
                         batch: Int = 8): (Seq[Merge], DataFrame) = {
    require(iters > 0, s"need iters > 0, got $iters")
    require(batch > 0, s"need batch > 0, got $batch")
    var state = state0.localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var done = 0
    while (done < iters) {
      val want = math.min(batch, iters - done)
      // candidate pool 4× the ask: enough to survive skips (each
      // selected pair blocks at most its two symbols; a pool of 4k
      // rank-ordered pairs yields k disjoint ones on any histogram
      // with >2k distinct symbols) — if the pool still comes up short
      // the next round re-counts and continues, so nothing is lost.
      val top = pairCounts(state)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(want * 4).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      require(top.nonEmpty,
        s"pair space exhausted after $done merges — every word fully " +
          "merged; ask for fewer merges on this corpus")
      val picked = selectNonInteracting(top, want)
      picked.foreach { case (l, r, c) =>
        done += 1
        merges += Merge(done.toLong, l, r, c)
      }
      state = picked.foldLeft(state) { case (df, (l, r, _)) =>
        df.withColumn("syms", mergeSyms(col("syms"), l, r))
      }.localCheckpoint()
    }
    (merges.result(), state)
  }

  /** Apply an ORDERED merge list to a (word, syms) frame — one chained
    * projection (no shuffles, no per-merge actions). SMALL-VOCAB ONLY:
    * the plan chains one fold expression per merge, so analysis/codegen
    * cost grows linearly with vocab size — fine at the declared 10
    * merges, fatal at a production 32k-merge vocab. The deployable
    * frozen-vocab path is [[segmentWithVocab]] (O(1) plan size in V,
    * spec-pinned equal to this on learned tables); this form stays as
    * the independently-derived cross-check the equality spec needs. */
  def applyMerges(words: DataFrame, merges: Seq[Merge]): DataFrame =
    merges.foldLeft(words) { (df, m) =>
      df.withColumn("syms", mergeSyms(col("syms"), m.lhs, m.rhs))
    }

  /** The merge table as a rank map: (lhs, rhs) -> 0-based rank in iter
    * order. Requires distinct pairs (a learned table never repeats a
    * pair — once merged, the pair can't be counted again). */
  def ranksOf(merges: Seq[Merge]): Map[(String, String), Int] = {
    val ordered = merges.sortBy(_.iter).map(m => (m.lhs, m.rhs))
    require(ordered.distinct.size == ordered.size,
      "merge table repeats a pair — not a valid learned table")
    ordered.zipWithIndex.toMap
  }

  /** Segment ONE word's symbol sequence under a frozen merge table —
    * the HuggingFace-tokenizer apply loop: repeatedly find the adjacent
    * pair with the LOWEST rank and merge all its occurrences greedily
    * left-to-right; stop when no adjacent pair is in the table.
    *
    * Equivalence with rank-order application ([[applyMerges]]): on any
    * VALID merge table — each merge's two components are base symbols
    * or outputs of strictly earlier merges, which is true of every
    * table [[learnMerges]] can produce, since a pair over a
    * not-yet-created symbol has zero count when it would have to be
    * picked — merging the lowest-present rank r creates only the symbol
    * lhs+rhs, which by validity participates only in merges of rank
    * > r. So no lower-rank opportunity is ever created out of order,
    * and processing ranks lowest-first visits exactly the merges that
    * sequential rank-order application performs, in the same
    * left-to-right greedy way per rank. BpeSpec pins the equality on
    * learned tables (the q90 table, adversarial planted corpora, and a
    * 1k-merge table) rather than trusting this argument.
    *
    * Cost: O(L) scan per fired merge, ≤ L−1 fires ⇒ O(L²) worst case
    * per word in the word's length L alone — INDEPENDENT of vocab size
    * V (each lookup is one hash probe). [[applyMerges]] is O(V) plan
    * depth and O(V·L) work per word; this is the difference between a
    * demo vocab and a production 32k-merge one. */
  def segmentSyms(syms0: IndexedSeq[String],
                  ranks: Map[(String, String), Int]): IndexedSeq[String] = {
    var syms = syms0
    var done = syms.length < 2
    while (!done) {
      // lowest-rank adjacent pair present in the table
      var best = Int.MaxValue
      var bl: String = null
      var br: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge ALL its occurrences, greedy left-to-right (non-overlap)
        val out = IndexedSeq.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == bl && syms(j + 1) == br) {
            out += (bl + br); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        done = syms.length < 2
      }
    }
    syms
  }

  /** Frozen-vocab segmenter over a one-column `word` frame: ONE
    * broadcast of the rank map, one per-row projection — the plan is
    * CONSTANT-SIZE in vocab size V, and the per-row work is O(L²) in
    * word length with O(1) hash probes per lookup (see [[segmentSyms]]).
    * This is the tokenize step a production 32k-merge vocab runs at
    * inference/scoring scale; [[applyMerges]]' chained-fold plan cannot
    * even ANALYZE at that V.
    *
    * Deliberately a Scala UDF, not a Catalyst expression: the per-row
    * algorithm is data-dependent iteration over a broadcast hash map —
    * expressible in the expression tree only by unrolling the table
    * (exactly applyMerges' flaw). The fold chain it replaces is itself
    * interpreted (HOF lambdas never enter whole-stage codegen), so the
    * UDF gives up no codegen; A/B at the q90 shape (10 merges, sf0.1)
    * measured the UDF at parity-or-better, and it is the only shape
    * that exists at 1k+ merges (BpeSpec + SoakScale gate). Output
    * matches [[wordHistogram]]'s framing: chars + `</w>`, then merges
    * applied. */
  def segmentWithVocab(words: DataFrame, merges: Seq[Merge],
                       wordCol: String = "word"): DataFrame = {
    val ranks = ranksOf(merges)
    val bc = words.sparkSession.sparkContext.broadcast(ranks)
    val seg = udf { (w: String) =>
      // Java regex split("") is code-point aware (same engine Spark's
      // split uses) — char-level .map(_.toString) would split surrogate
      // pairs into lone code units and diverge from wordHistogram's
      // framing; the empty-string filter mirrors the empty-word guard
      val chars = w.split("").toIndexedSeq.filter(_.nonEmpty) :+ EndMark
      segmentSyms(chars, bc.value)
    }
    words.withColumn("syms", seg(col(wordCol)))
  }

  /** The textbook BPE trainer over an in-memory (word, freq, syms) row
    * seq — [[learnMerges]]' driver fast path. Bit-identical to the
    * distributed loop by construction: same freq-weighted overlapping
    * pair counts (Long sums), same argmax under (count desc, lhs asc,
    * rhs asc) with strings compared as unsigned UTF-8 bytes (Spark's
    * binary string order), same greedy non-overlapping left-to-right
    * merge. Rows are independent (never keyed/merged by word), matching
    * the distributed per-row projection on inputs with repeated words. */
  private[operators] def learnMergesDriver(rows0: IndexedSeq[(String, Long, Seq[String])],
                                           iters: Int)
      : (Seq[Merge], IndexedSeq[(String, Long, Seq[String])]) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def lt(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(a.getBytes(utf8), b.getBytes(utf8)) < 0
    var rows = rows0
    val merges = Seq.newBuilder[Merge]
    for (it <- 1 to iters) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      rows.foreach { case (_, f, s) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      require(pc.nonEmpty,
        s"pair space exhausted at iteration $it — every word fully " +
          "merged; ask for fewer merges on this corpus")
      var best: ((String, String), Long) = null
      pc.foreach { kv =>
        if (best == null) best = kv
        else {
          val ((bl, br), bc) = best
          val ((l, r), c) = kv
          if (c > bc || (c == bc && (lt(l, bl) || (l == bl && lt(r, br)))))
            best = kv
        }
      }
      val ((l, r), c) = best
      merges += Merge(it.toLong, l, r, c)
      rows = rows.map { case (w, f, s) =>
        val out = Seq.newBuilder[String]
        var j = 0
        while (j < s.length) {
          if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
            out += (l + r); j += 2
          } else { out += s(j); j += 1 }
        }
        (w, f, out.result())
      }
    }
    (merges.result(), rows)
  }

  /** Join a corpus-scale (word, …) OCCURRENCE stream to a vocab-sized
    * per-word frame (guide §3.1 — pick the strategy deliberately): the
    * vocab side is cached (scope-tracked) and COUNTED — a vocab-sized
    * action that fills the cache the join reads — and broadcast when it
    * fits [[Sized.BroadcastRows]], so the occurrence stream is never
    * exchanged for the join at all (its bytes next move in the doc_id partial
    * aggregation, already compressed to one row per document). Catalyst
    * can't make this call itself: the vocab side is a UDF projection
    * over a distinct, whose size estimate defeats the 10 MB
    * auto-broadcast test, so the unguided plan is a sort-merge join
    * that shuffles the full occurrence stream by word. Over the cap the
    * original shuffled join returns unchanged — same rows either way,
    * only the exchange placement moves. */
  private[graft] def vocabJoinBack(occ: DataFrame, vocab: DataFrame,
                                   knownRows: Option[Long] = None,
                                   cap: Int = Sized.BroadcastRows): DataFrame = {
    val (v, fits) = knownRows match {
      // caller already counted the vocab side (e.g. the overlapped-warm
      // path cached + counted the distinct words during training):
      // skip the redundant cache + probe — a one-output-row-per-input
      // projection over that cache needs no second pin
      case Some(k) => (vocab, k <= cap)
      case None =>
        // BOUNDED cap probe, not a full count: Sized.fits stops as
        // soon as the vocab provably exceeds the cap, so an over-cap
        // web-scale vocabulary pays a truncated scan instead of a full
        // count just to learn it must take the shuffled join. (This
        // branch is eager — it runs a vocab-sized job at composition
        // time; the cache it fills is the same one the join build
        // reads.)
        val tracked = Caches.track(vocab)
        (tracked, Sized.fits(tracked, cap))
    }
    if (fits) occ.join(broadcast(v), Seq("word"))
    else occ.join(v, Seq("word"))
  }

  /** Per-document SUBWORD counts under a frozen merge table — the
    * budget column tokenizer-budget packing ([[Packing.packSequencesBpe]],
    * q106) feeds the packer: production shards are sized by what the
    * MODEL consumes (BPE tokens), not by whitespace words. Segmentation
    * is the production path ([[segmentWithVocab]]: one broadcast rank
    * map, plan constant in vocab size), run on DISTINCT words and joined
    * back to the per-document occurrence stream — the q91 shape, so a
    * 100-TB corpus segments its vocabulary once, never its token stream
    * — via [[vocabJoinBack]], so the occurrence stream isn't even
    * SHUFFLED for the join when the vocab fits a broadcast. Output is
    * (doc_id, _nt), the exact frame
    * [[Packing.packSequencesCounts]] consumes. An EMPTY merge table is
    * the maximally-fragmented tokenizer by BPE semantics: every word
    * counts as its characters + `</w>` (len+1) — pinned in BpeSpec, as
    * is the opposite end (a saturating table that fully merges every
    * word makes subword counts ≡ whitespace counts). */
  def subwordCountsFor(documents: DataFrame, merges: Seq[Merge]): DataFrame = {
    val words = occurrenceStream(documents)
    val seg = segmentWithVocab(words.select(col("word")).distinct(), merges)
      .select(col("word"), size(col("syms")).cast("long").as("_ns"))
    vocabJoinBack(words, seg)
      .groupBy(col("doc_id"))
      .agg(sum(col("_ns")).as("_nt"))
  }

  /** The (doc_id, word) occurrence stream [[subwordCountsFor]] counts
    * over — empty words dropped exactly as [[wordHistogram]] does. */
  private def occurrenceStream(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)

  /** [[subwordCountsFor]] with the TRAINING OVERLAPPED (guide §2.6):
    * `train` is a driver loop of histogram-sized jobs that leaves the
    * cluster mostly idle between collects, and the segmentation's
    * distinct-word branch needs no merge table — so the distinct-word
    * cache (and everything upstream of it: the corpus scan, the
    * cleaning funnel when `documents` is a survivor frame) is warmed
    * CONCURRENTLY with the training. Both sides are independent (the
    * train reads its own split's histogram), so no row changes; the
    * warm's count also hands [[vocabJoinBack]] its vocab size for free.
    * Returns (merges, counts) — the counts frame reads the warmed
    * caches only. */
  def subwordCountsTrained(documents: DataFrame,
                           train: => Seq[Merge]): (Seq[Merge], DataFrame) = {
    val words = occurrenceStream(documents)
    val distinctW = Caches.track(words.select(col("word")).distinct())
    val (merges, nVocab) = Par.join2(train)(distinctW.count())
    val seg = segmentWithVocab(distinctW, merges)
      .select(col("word"), size(col("syms")).cast("long").as("_ns"))
    val counts = vocabJoinBack(words, seg, knownRows = Some(nVocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("_ns")).as("_nt"))
    (merges, counts)
  }

  /** The q90 merge table re-learned for a composing consumer (same
    * train-split histogram, same sequential trainer — so the q106
    * oracle's unrolled train chain replays it exactly).
    *
    * r16 note, so nobody retries it: WIDENING the batched trainer
    * (learnMergesBatched at batch=iters, the round-15 verdict's
    * suggestion) was measured to DIVERGE from the sequential table at
    * iteration 2 on every driver sf — [[selectNonInteracting]]'s
    * conservative shared-symbol defer skips the true second argmax
    * ((n,</w>) deferred because (e,</w>) holds `</w>`), so the batched
    * table stops being the oracle's table. The latency win lives in
    * [[learnMerges]]' driver fast path instead, which is exact. */
  def trainedMerges(s: SparkSession, dir: String, iters: Int): Seq[Merge] = {
    val hist = wordHistogram(splitWords(s, dir, train = true).select("word"))
    learnMerges(hist, iters)._1
  }

  /** The q82-family train split (hash bucket < 80) exploded to words.
    * Empty words filtered here too (the q91 TEST side segments words
    * without passing through [[wordHistogram]] — same r11-ADVICE empty-
    * token divergence applies). */
  private def splitWords(s: SparkSession, dir: String,
                         train: Boolean): DataFrame = {
    val b = Sampling.hashBucket(col("doc_id"), 100)
    Tables(s, dir, "documents")
      .filter(if (train) b < 80 else b >= 90)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
  }

  // q90 — the learned merge table itself (iter, lhs, rhs, pair_count):
  // the model artifact a tokenizer trainer ships. Learned on the TRAIN
  // split (q82's hash-mod rule) so q91 can score the held-out split
  // without leakage.
  def bpeMerges(s: SparkSession, dir: String, iters: Int = 10): DataFrame = {
    import s.implicits._
    val hist = wordHistogram(splitWords(s, dir, train = true).select("word"))
    val (merges, _) = learnMerges(hist, iters)
    merges.map(m => (m.iter, m.lhs, m.rhs, m.pairCount))
      .toDF("iter", "lhs", "rhs", "pair_count")
      .orderBy(col("iter"))
  }

  // q91 — FERTILITY re-score of the held-out split under the learned
  // merges: per source, test-token count, subword count after applying
  // the merge table, and subwords-per-token (the vocab-quality metric
  // tokenizer work reports; lower = the vocab compresses this source
  // better). Merge application runs on DISTINCT test words and joins
  // back to the occurrence stream by word — the occurrence side never
  // re-segments. Segmentation is the PRODUCTION path
  // ([[segmentWithVocab]]: one broadcast rank map, plan constant in
  // vocab size), spec-pinned equal to the rank-order fold chain, so the
  // unrolled DuckDB oracle still replays it exactly.
  def bpeFertility(s: SparkSession, dir: String, iters: Int = 10): DataFrame = {
    val hist = wordHistogram(splitWords(s, dir, train = true).select("word"))
    val (merges, _) = learnMerges(hist, iters)
    val test = splitWords(s, dir, train = false)
    val segmented = segmentWithVocab(test.select(col("word")).distinct(), merges)
      .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
    vocabJoinBack(test, segmented)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_syms")).as("n_subwords"))
      .withColumn("fertility",
        col("n_subwords").cast("double") / col("n_tokens"))
      .orderBy(col("source"))
  }
}
