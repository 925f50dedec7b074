package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.md5Long
import graft.sources.Tables

/** Dataset splitting / sampling / mixing for training-data pipelines.
  *
  * The core primitive is HASH-MOD assignment, not `rand()`: a row's
  * split is a pure function of its key, so assignment is reproducible
  * across runs, engines and cluster layouts, rows never migrate between
  * train and eval when the corpus grows, and no sampling state needs
  * coordinating — the properties a 100-TB pipeline actually needs.
  * `df.sample`/`randomSplit` remain for statistical resampling
  * (bootstrap, ml.Customs.bootstrapSE); they are not reproducible
  * join-stable splits.
  */
object Sampling {

  /** Bucket in [0, buckets) from the md5 of a key column — portable
    * (DuckDB can reproduce it: CAST('0x'||substr(md5(k),1,15) AS
    * BIGINT) % buckets). */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    md5Long(key.cast("string")) % buckets

  /** Deterministic train/val/test assignment by hash bucket
    * (80/10/10 by default). Named to avoid shadowing functions.split. */
  def assignSplit(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(key, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  // q44 — split audit: per-(split, lang) document counts + token mass.
  // The report a pipeline runs after splitting to confirm per-language
  // balance across train/val/test.
  def splitAudit(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("split", assignSplit(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(org.apache.spark.sql.functions.split(col("text"), " "))
             .cast("long")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))

  /** q53 — cross-split contamination audit: for each eval split, how
    * many documents share a winnowing fingerprint
    * (TextFunctions.minShingleFingerprint, q30's prefilter) with ANY
    * train document. The decontamination report every training pipeline
    * runs before shipping an eval set — a contaminated benchmark doc
    * silently inflates downstream scores. One fingerprint projection
    * (per-row), one distinct on the train side, one equi-join on the
    * fingerprint — no pairwise comparisons anywhere. */
  def contaminationAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{minShingleFingerprint, tokens}
    // cached: the fingerprint projection feeds the train side AND the
    // eval side — untracked it would scan + tokenize documents twice;
    // released via Caches.release()
    val f = Caches.track(Tables(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), minShingleFingerprint(col("t"), 8).as("fingerprint"))
      .withColumn("split", assignSplit(col("doc_id"))))
    val train = f.filter(col("split") === "train")
      .select(col("fingerprint")).distinct()
      .withColumn("_hit", lit(1L))
    f.filter(col("split") =!= "train")
      .join(train, Seq("fingerprint"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("_hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
      .orderBy(col("split"))
  }

  /** q72 — BENCHMARK DECONTAMINATION audit: n-gram overlap between the
    * training corpus and a held-out benchmark/eval set — the standard
    * LLM-pretraining decontamination rule (GPT-3/PaLM-style: a train
    * document leaks an eval example if they share any k-token gram).
    * Complements q53: fingerprints catch whole-document duplication
    * across splits; the gram rule catches PARTIAL containment — an eval
    * question quoted inside an otherwise-novel train document.
    *
    * Output: one row per EVAL document (the report a benchmark owner
    * reads) — its distinct-gram count, how many train documents share
    * ≥1 gram with it, and the largest per-train-doc overlap. Zero rows
    * never disappear (left join), so a clean benchmark reports
    * explicitly rather than by absence.
    *
    * Scale shape: benchmark sets are tiny by construction (the
    * hash-mod eval split here; a real eval suite is a few thousand
    * rows), so the eval gram table is BROADCAST and the train side —
    * the 100-TB operand — streams through one map-side join with no
    * shuffle of its gram stream; the per-(eval, train) aggregate keys
    * on matched pairs only. Join key is the gram STRING (bounded k·word
    * bytes): with a broadcast build side the 8-byte-hash-key trick
    * buys nothing, and string equality keeps overlap counts exactly
    * the oracle's. The eval split rule is the portable md5 bucket, so
    * DuckDB reproduces membership exactly. */
  def benchmarkDecontamination(s: SparkSession, dir: String, k: Int = 8,
                               evalMod: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.tokens
    // cached: the gram projection feeds the (tiny) eval side and the
    // train side from ONE scan+tokenize; released via Caches.release()
    val g = Caches.track(TextOps.docsHeavy(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .withColumn("_eval", hashBucket(col("doc_id"), evalMod) === 0))
    decontaminationAuditFor(
      g.filter(!col("_eval")).select(col("doc_id"), col("t")),
      g.filter(col("_eval")).select(col("doc_id"), col("t")), k)
  }

  /** The benchmark GRAM INDEX: one (eval_id, gram) row per distinct
    * k-gram of each eval document — the static side every
    * decontamination pass (batch q72, the streaming twin) probes.
    * Tiny by construction (benchmark suites are small); broadcast it. */
  def benchmarkGramIndex(evalToks: DataFrame, k: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.shingles
    evalToks.select(col("doc_id").as("eval_id"),
      explode(shingles(col("t"), k)).as("gram"))
  }

  /** Contamination HITS of a train frame against a benchmark gram
    * index: one (eval_id, train_id, n_overlap) row per contaminated
    * pair, n_overlap = |gram(eval) ∩ gram(train)| (both sides distinct
    * per doc). Shared verbatim by the batch audit and the streaming
    * twin, so the two ingestion shapes can't drift. */
  def contaminationHits(trainToks: DataFrame, gramIndex: DataFrame,
                        k: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.shingles
    trainToks
      .select(col("doc_id").as("train_id"), explode(shingles(col("t"), k)).as("gram"))
      .join(broadcast(gramIndex), Seq("gram"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** [[benchmarkDecontamination]] over caller-supplied PRE-TOKENIZED
    * (doc_id, t) train and eval frames — the library entry a real
    * pipeline calls with its actual benchmark suite. */
  def decontaminationAuditFor(trainToks: DataFrame, evalToks: DataFrame,
                              k: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.shingles
    val pairOverlap =
      contaminationHits(trainToks, benchmarkGramIndex(evalToks, k), k)
    val perEval = pairOverlap.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_contaminated_train_docs"),
           max(col("n_overlap")).as("max_overlap_grams"))
    evalToks.select(col("doc_id").as("eval_id"),
        size(shingles(col("t"), k)).cast("long").as("n_eval_grams"))
      .join(perEval, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_eval_grams"),
        coalesce(col("n_contaminated_train_docs"), lit(0L))
          .as("n_contaminated_train_docs"),
        coalesce(col("max_overlap_grams"), lit(0L)).as("max_overlap_grams"))
      .orderBy(col("eval_id"))
  }

  /** q88 — CONTAMINATED-SPAN report: q72 flags that an eval document
    * overlaps a train document; real decontamination has to CUT the
    * leaked text, which needs the span, not the flag. For every
    * contaminated (eval, train) pair, the overlapping k-gram hit
    * positions on the EVAL side are merged into maximal token spans
    * (two hits extend one span iff their start gap ≤ k — i.e. their
    * covered windows overlap or touch), the q42 sessionize pattern
    * applied to gram offsets instead of timestamps. Output: one row per
    * (eval_id, train_id, span) with 1-based token bounds — exactly what
    * a surgical decontamination pass feeds to a slice-and-rejoin
    * rewrite. Shares q72's split rule and gram CTE chain, so a pair
    * flagged there always resolves to ≥1 span here.
    *
    * The driver corpus's contaminated pairs are whole-doc copies, so
    * every oracle row is a single full-coverage span; the multi-span
    * merge (a train doc quoting two separate eval passages) is proven
    * by SamplingSpec's planted-quote fixture through this same code. */
  def contaminatedSpans(s: SparkSession, dir: String, k: Int = 8,
                        evalMod: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.tokens
    // cached: one scan+tokenize feeds both split sides (q72's shape)
    val g = Caches.track(TextOps.docsHeavy(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .withColumn("_eval", hashBucket(col("doc_id"), evalMod) === 0))
    contaminatedSpansFor(
      g.filter(!col("_eval")).select(col("doc_id"), col("t")),
      g.filter(col("_eval")).select(col("doc_id"), col("t")), k)
  }

  /** Core of q88 over pre-tokenized (doc_id, t) frames.
    *
    * Scale shape: the eval side is tiny by construction, so its
    * POSITIONED gram table (every occurrence, not distinct — each
    * anchors a span) is BROADCAST; the train side streams its distinct
    * grams map-side through one join, exactly q72's asymmetry. Only
    * matched (eval, train, pos) hits shuffle into the per-pair window —
    * contamination-volume-proportional, never corpus-proportional. The
    * window partitions by (eval_id, train_id): bounded by one eval
    * document's gram count, so no skewed-giant-partition risk. */
  def contaminatedSpansFor(trainToks: DataFrame, evalToks: DataFrame,
                           k: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.shingles
    graft.GraftExtensions.install(evalToks.sparkSession)
    // 1-based gram start positions (matching the oracle's
    // generate_series); shingle_windows is the non-distinct native
    // window builder — a gram repeated inside the eval doc anchors a
    // hit at EVERY occurrence
    val ep = evalToks
      .select(col("doc_id").as("eval_id"),
        posexplode(call_function("shingle_windows", col("t"), lit(k)))
          .as(Seq("_p0", "gram")))
      .select(col("eval_id"), (col("_p0") + 1).cast("long").as("pos"),
        col("gram"))
    val hits = trainToks
      .select(col("doc_id").as("train_id"),
        explode(shingles(col("t"), k)).as("gram"))
      .join(broadcast(ep), Seq("gram"))
      .select(col("eval_id"), col("train_id"), col("pos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("eval_id"), col("train_id")).orderBy(col("pos"))
    hits
      .withColumn("_new", when(lag(col("pos"), 1).over(w).isNull ||
        col("pos") - lag(col("pos"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("span_no", sum(col("_new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("eval_id"), col("train_id"), col("span_no"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        (max(col("pos")) + (k - 1) - min(col("pos")) + 1).as("span_tokens"),
        count(lit(1)).as("n_hit_grams"))
      .orderBy(col("eval_id"), col("train_id"), col("span_no"))
  }

  /** Deterministic subsampling: keep a fraction of rows by hash bucket
    * (keep = bucket < fraction·buckets). Stable under corpus growth —
    * a kept row stays kept. */
  def deterministicSample(df: DataFrame, key: Column,
                          fraction: Double, buckets: Int = 10000): DataFrame =
    df.filter(hashBucket(key, buckets) < math.round(fraction * buckets))

  /** Corpus mixing: union sources with per-source sampling rates (the
    * "data mixture" step of pretraining pipelines). A rate > 1.0 means
    * upsampling: ⌊rate⌋ full copies plus a deterministic sample of the
    * fractional remainder. */
  def mixCorpora(sources: Seq[(DataFrame, Column, Double)]): DataFrame = {
    require(sources.nonEmpty, "mixCorpora needs at least one source")
    sources.map { case (df, key, rate) =>
      require(rate >= 0.0, s"negative mix rate $rate")
      val whole = List.fill(rate.toInt)(df)
      val fractional = rate - rate.toInt
      val parts = if (fractional > 0)
        whole :+ deterministicSample(df, key, fractional) else whole
      parts.reduceOption(_ unionByName _)
        .getOrElse(df.filter(lit(false)))
    }.reduce(_ unionByName _)
  }

  // q46 — deterministic per-source capping (the "max docs per domain"
  // corpus-curation op): rank docs within each source by a hash of their
  // id (stable, content-independent shuffle order) and keep the first
  // `cap`. Audit output: per-source kept/total counts + kept char mass.
  def capPerSource(s: SparkSession, dir: String, cap: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables(s, dir, "documents")
      .withColumn("_rn", row_number().over(w))
      .withColumn("kept", (col("_rn") <= cap).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("kept")).cast("long").as("n_kept"),
        sum(when(col("kept") === 1, col("n_chars")).otherwise(0L)).cast("long")
          .as("kept_chars"))
      .orderBy(col("source"))
  }

  // q100 — QUALITY-ranked per-source quota (the curation step after
  // q24's gate and q46's content-blind cap): within each source, rank
  // the quality-passing docs by uniqueness (uniq_ratio desc, doc_id asc
  // — a strict total order both engines share: the ratio is one exact
  // IEEE division of longs) and keep the top `k`. Report per source:
  // candidate and kept doc/token mass plus the binding CUTOFF (min kept
  // uniq_ratio) — the number a curation run publishes so downstream
  // consumers know how selective the quota was.
  def qualityQuota(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    qualityQuotaFor(Tables(s, dir, "documents"), k)

  /** Default stage-1 salt-bucket count for [[qualityQuotaFor]]. Named
    * (rather than inlined in the signature) so the plan-shape spec can
    * assert the SALTED window against whatever the default actually is
    * instead of hard-coding "% 16" — a changed default must move the
    * spec's expectation with it, not fail it. */
  val QuotaSalts = 16

  /** Core of q100 over any (doc_id, source, text) frame.
    *
    * Scale shape — the reason this is not q46's one-window plan: a
    * single `row_number() OVER (PARTITION BY source)` sorts EVERY doc
    * of a source inside one task, and at 100 TB a head domain is
    * billions of rows — a guaranteed straggler/spill. Selection here is
    * the exact two-stage top-k: stage 1 ranks within (source, salt)
    * buckets — `salts` hash buckets of the doc id — and keeps `k` per
    * bucket, so no task ever sorts more than one bucket; stage 2 ranks
    * the ≤ salts·k survivors per source, a bounded partition by
    * construction. Exactness is the pigeonhole argument: every global
    * top-k doc is top-k within its own bucket (fewer than k docs beat
    * it anywhere, a fortiori in its bucket), so stage 1 never prunes a
    * winner — the salt changes the PLAN, never the answer, which is why
    * the oracle can replay selection as one flat rank. */
  /** EXACT salted two-stage top-k per partition — q100's scale shape as
    * a reusable primitive (the model-based quality quota rides it with
    * a classifier score as the order key). `order` must be a strict
    * total order (include a unique tiebreak); `saltKey` any column
    * (usually the unique id). Stage 1 keeps k per (partition, salt
    * bucket), stage 2 ranks the ≤ salts·k survivors — exact by the
    * pigeonhole argument in [[qualityQuotaFor]]'s doc, so the salt
    * changes the plan, never the answer. */
  def saltedTopK(df: DataFrame, partition: Column, saltKey: Column,
                 order: Seq[Column], k: Int,
                 salts: Int = QuotaSalts): DataFrame = {
    require(k > 0 && salts > 0, s"need k > 0 and salts > 0, got k=$k salts=$salts")
    // collision-free temp rank columns (r13 ADVICE): this is a public
    // generic primitive now — hard-coded `_r1`/`_r2` would silently
    // overwrite-and-drop a caller column of the same name. Suffix until
    // free; deterministic, so the plan stays stable across calls.
    def freeName(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !df.columns.contains(n)).get
    val r1 = freeName("_r1")
    val r2 = freeName("_r2")
    val W = org.apache.spark.sql.expressions.Window
    val w1 = W.partitionBy(partition, hashBucket(saltKey, salts))
      .orderBy(order: _*)
    val w2 = W.partitionBy(partition).orderBy(order: _*)
    df.withColumn(r1, row_number().over(w1)).filter(col(r1) <= k)
      .withColumn(r2, row_number().over(w2)).filter(col(r2) <= k)
      .drop(r1, r2)
  }

  def qualityQuotaFor(documents: DataFrame, k: Int = 10,
                      salts: Int = QuotaSalts): DataFrame = {
    require(k > 0 && salts > 0, s"need k > 0 and salts > 0, got k=$k salts=$salts")
    import graft.functions.TextFunctions.{tokenCount, distinctTokenCount}
    val d = documents.select(
      col("doc_id"), col("source"),
      tokenCount(col("text")).as("n_tokens"),
      distinctTokenCount(col("text")).as("_nu"),
      length(col("text")).cast("long").as("_cl"))
      .withColumn("uniq_ratio", col("_nu").cast("double") / col("n_tokens"))
      .withColumn("_mtl",
        (col("_cl") - (col("n_tokens") - lit(1L))).cast("double") / col("n_tokens"))
      .filter(TextOps.qualityOk(col("n_tokens"), col("uniq_ratio"), col("_mtl")))
    val cand = Caches.track(d)
    val kept = saltedTopK(cand, col("source"), col("doc_id"),
      Seq(col("uniq_ratio").desc, col("doc_id")), k, salts)
    cand.groupBy(col("source"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("n_tokens")).as("candidate_tokens"))
      .join(kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          min(col("uniq_ratio")).as("cutoff_uniq_ratio")),
        Seq("source"))
      .orderBy(col("source"))
  }

  /** The frozen quality model's raw logistic MARGIN over a text column:
    * intercept + Σᵢ coef(i)·tf(i)·idf(i) folded LEFT-TO-RIGHT in
    * vocabulary order, tf(i) = count of vocab word i among the
    * lowercased whitespace tokens. Every operation is IEEE-identical
    * across engines (counting, double multiply, left-assoc add; no
    * exp/log), and ranking by the margin is order-equivalent to ranking
    * by sigmoid(margin) = P(clean) — which is why q108 can be
    * oracle-exact where the model FIT never could be. Per-row compute,
    * shuffle-free; the |vocab| filter folds are the broadcast-scoring
    * shape [[graft.ml.QualityModel.score]] runs with the live model
    * (MlSpec pins this literal margin ≡ the fitted model's margin).
    *
    * Callers run [[graft.GraftExtensions.install]] on the session before
    * building the plan. The native expression computes the frozen fold
    * in ONE pass with whole-stage codegen instead of |vocab| interpreted
    * array-filter subtrees per row ([[graft.plans.QualityMarginExpr]] —
    * bit-identical by the vocab-order integer-tf argument there, pinned
    * in MarginExprSpec and gated end-to-end by the q108/q111/q112 oracle
    * hashes). */
  def modelMargin(text: Column): Column =
    call_function("quality_margin", text)

  /** [[modelMargin]]'s fold over ANY frozen (vocab, idf, coef,
    * intercept) tuple — MlSpec fits a live model, extracts the tuple
    * the way graft.tools.FitQualityModel does, and pins this fold ≈
    * the PipelineModel's own margin (BLAS sums in a different order, so
    * the pin is a tight tolerance, not bit-equality — the ORACLE
    * comparison never involves the live model and stays exact).
    *
    * Per-term shape: coef(i)·idf(i) is PRE-multiplied into one weight
    * literal HERE, on the driver (r14 lesson: written as
    * `coef * tf * idf`, DuckDB's optimizer reassociates the commutative
    * multiply to fold the two constants together — term-level ulp drift
    * against any engine that evaluates the tree as written; one literal
    * per term leaves no reassociation freedom anywhere). */
  def marginOf(text: Column, vocab: Seq[String], idf: Seq[Double],
               coef: Seq[Double], intercept: Double): Column = {
    require(vocab.size == idf.size && idf.size == coef.size,
      s"shape mismatch: ${vocab.size} vocab / ${idf.size} idf / ${coef.size} coef")
    val toks = split(lower(text), " ")
    vocab.indices.foldLeft(lit(intercept)) { (acc, i) =>
      acc + lit(coef(i) * idf(i)) *
        size(filter(toks, t => t === lit(vocab(i)))).cast("double")
    }
  }

  // q108 — MODEL-scored quality quota: q100's salted exact top-k with
  // the order key swapped from the single heuristic (uniq_ratio) to the
  // frozen classifier's margin ([[modelMargin]] over the checked-in
  // QualityCoefficients artifact — the IvfCentroids technique applied
  // to a scoring model). This is the CCNet-style selection a curation
  // pipeline actually ships: score every document with a broadcast
  // linear model, keep the top-k per source. The FIT stays out of the
  // oracle (iterative L-BFGS); the SCORE is a pure literal expression
  // both engines evaluate bit-identically. Same two-stage salted plan
  // as q100 — no per-source global sort ever materializes.
  def modelQuota(s: SparkSession, dir: String, k: Int = 10,
                 salts: Int = QuotaSalts): DataFrame =
    modelQuotaFor(Tables(s, dir, "documents"), k, salts)

  /** Core of q108 over any (doc_id, source, text) frame. */
  def modelQuotaFor(documents: DataFrame, k: Int = 10,
                    salts: Int = QuotaSalts): DataFrame = {
    graft.GraftExtensions.install(documents.sparkSession)
    modelQuotaScored(documents.select(
      col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"),
      modelMargin(col("text")).as("margin")), k, salts)
  }

  /** The quota report over an ALREADY-SCORED (doc_id, source, n_tokens,
    * margin) frame — split from [[modelQuotaFor]] so the streaming twin
    * (which scores per trigger into a store and reports from the
    * accumulated store) and the batch query (which scores in-plan)
    * share the selection tail verbatim. */
  def modelQuotaScored(scored: DataFrame, k: Int = 10,
                       salts: Int = QuotaSalts): DataFrame = {
    require(k > 0 && salts > 0, s"need k > 0 and salts > 0, got k=$k salts=$salts")
    val d = Caches.track(scored)
    val kept = saltedTopK(d, col("source"), col("doc_id"),
      Seq(col("margin").desc, col("doc_id")), k, salts)
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .join(kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          min(col("margin")).as("cutoff_margin")),
        Seq("source"))
      .orderBy(col("source"))
  }

  // q58 — data-mixture audit: mixCorpora over the documents table with
  // per-source-group rates (2× upsample / keep / half / quarter by
  // source-number mod 4), then the per-source row+char accounting a
  // pretraining pipeline checks against its target mixture weights.
  // Everything is hash-deterministic: the same doc is upsampled or
  // dropped identically on every run and every engine (the oracle
  // reproduces the md5 buckets exactly).
  def mixedCorpusAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val group = substring(col("source"), 4, 10).cast("int") % 4
    val rates = Map(0 -> 2.0, 1 -> 1.0, 2 -> 0.5, 3 -> 0.25)
    val mixed = mixCorpora(rates.toSeq.sortBy(_._1).map { case (g, r) =>
      (docs.filter(group === g), col("doc_id"), r)
    })
    mixed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .orderBy(col("source"))
  }

  // q96 — TEMPERATURE-weighted source mix: q58 applies rates someone
  // hands it; this op DERIVES them. Multilingual/multi-domain LM
  // training resamples sources by p_s^α (α < 1 flattens the head so
  // low-resource sources aren't drowned); α = 1/2 keeps every step in
  // exact integer or correctly-rounded-IEEE math both engines share:
  // weight_s = floor(sqrt(token mass)), per-source doc target =
  // (total_docs × weight_s) div Σweight, realized as full corpus
  // copies (target div n_docs) plus an md5-bucket fractional draw
  // (bucket < target mod n_docs) — no float rates anywhere, so the
  // oracle replays the draw doc-for-doc. The declared audit aggregates
  // the MATERIALIZED mixed frame (not the closed-form counts), so an
  // oracle-green run certifies the explode path a training pipeline
  // actually consumes.
  def temperatureMixAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("_nt"))
    // the plan is |sources| rows but COSTS a corpus scan — cached, its
    // two consumers (the audit columns and the mixed frame's broadcast
    // side) pay one scan instead of two
    val planned = Caches.track(temperaturePlan(docs))
    val mixed = temperatureMixedFor(docs, planned)
    planned.select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"), col("n_target"))
      .join(mixed.groupBy(col("source"))
        .agg(count(lit(1)).as("n_drawn"),
          sum(col("_nt")).as("drawn_tokens")), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("n_target"), coalesce(col("n_drawn"), lit(0L)).as("n_drawn"),
        coalesce(col("drawn_tokens"), lit(0L)).as("drawn_tokens"))
      .orderBy(col("source"))
  }

  /** Per-source temperature plan over a (doc_id, source, _nt) frame:
    * token mass, isqrt weight, and the integer doc target. One
    * partial-agg shuffle over sources; the 1-row totals frame joins
    * back broadcast (the documented tiny-side crossJoin). */
  private[graft] def temperaturePlan(docs: DataFrame): DataFrame = {
    val st = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val totals = st.agg(sum(col("n_docs")).as("_b"), sum(col("weight")).as("_sw"))
    st.crossJoin(broadcast(totals))
      .withColumn("n_target", expr("(_b * weight) div _sw"))
      .drop("_b", "_sw")
  }

  /** The materialized temperature-resampled corpus: every doc repeated
    * `target div n_docs` times plus one more for the fractional
    * md5-bucket draw. The copy-count column is exploded through an
    * explicit `_copies >= 1` guard — Spark's `sequence(1, 0)` is the
    * DESCENDING [1, 0], not empty. Scale shape: the per-source plan
    * broadcasts (sources are a config-sized set); copies are a per-row
    * explode, no shuffle — the downstream consumer pays shuffles, not
    * the mix. */
  private[graft] def temperatureMixedFor(docs: DataFrame,
                                         planned: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.md5Long
    docs
      .join(broadcast(planned.select(col("source"), col("n_docs"), col("n_target"))),
        Seq("source"))
      .withColumn("_copies",
        expr("n_target div n_docs") +
          when(md5Long(col("doc_id").cast("string")) % col("n_docs")
            < col("n_target") % col("n_docs"), 1L).otherwise(0L))
      .filter(col("_copies") >= 1L)
      .withColumn("_rep", explode(sequence(lit(1L), col("_copies"))))
      .drop("_copies", "n_docs", "n_target")
  }

  /** Stratified sampling with exact per-stratum fractions via hash
    * buckets (sampleBy's reproducible cousin). */
  def stratifiedSample(df: DataFrame, stratum: String, key: Column,
                       fractions: Map[String, Double],
                       buckets: Int = 10000): DataFrame = {
    val keep = fractions.foldLeft(lit(false)) { case (acc, (value, frac)) =>
      when(col(stratum) === value,
        hashBucket(key, buckets) < math.round(frac * buckets)).otherwise(acc)
    }
    df.filter(keep)
  }
}
