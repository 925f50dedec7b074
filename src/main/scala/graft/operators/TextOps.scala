package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the per-document
  * feature extraction and scrubbing stages of a training-data pipeline.
  * The q21–q30 feature family is pure per-row projections (no shuffle
  * except the final order-by on small/bounded output). The corpus-model
  * operators that joined the file since (unigram/bigram LM scoring, the
  * vocab/OOV audit, line dedup, the gram-scrub family) each add exactly
  * the exchanges their Scaladoc declares — vocabulary-sized broadcast
  * tables where the model side is bounded, partial-agg shuffles on
  * content-hash keys where it grows with the corpus.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Documents scan for operators whose per-row compute dominates
    * (regex scrub, shingle fingerprints, repetition n-grams, tokenize +
    * explode + md5-per-gram shingling, simhash's md5-per-token
    * signature): floors map parallelism (Tables.spread) so a
    * single-row-group input doesn't pin the whole pass to one core.
    * Light projections (exact whole-text md5 dedup, id-only scans) keep
    * the plain scan — for them the exchange costs more than the compute
    * it spreads. Shared with [[Dedup]]'s near-dup family. */
  private[operators] def docsHeavy(s: SparkSession, dir: String): DataFrame =
    Tables.spreadTable(s, dir, "documents", col("doc_id"))

  // q21 — per-document stats: char/token/distinct counts + uniqueness
  // ratio (exact-integer division → bit-identical doubles in the oracle).
  def docStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      col("lang"),
      length(col("text")).cast("long").as("char_len"),
      tokenCount(col("text")).as("n_tokens"),
      distinctTokenCount(col("text")).as("n_uniq_tokens"))
      .withColumn("uniq_ratio",
        col("n_uniq_tokens").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))

  // q22 — corpus word frequency: explode + count + top-k. At 100 TB the
  // explode stays map-side; the shuffle carries only (token, partial
  // count) pairs thanks to partial aggregation.
  def wordFreq(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(20)

  // q23 — heuristic language ID via per-language stopword hits with a
  // deterministic argmax (SURVEY scale-extension: language-ID operator).
  def langId(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(
      col("doc_id"), col("lang"),
      stopwordHits(col("text"), "en").as("en_hits"),
      stopwordHits(col("text"), "es").as("es_hits"),
      stopwordHits(col("text"), "de").as("de_hits"),
      stopwordHits(col("text"), "fr").as("fr_hits"))
    d.withColumn("pred_lang",
        predictedLang(col("en_hits"), col("es_hits"), col("de_hits"), col("fr_hits")))
      .orderBy(col("doc_id"))
  }

  // q24 — quality scoring: length/uniqueness/token-shape gates, the
  // standard pre-training corpus filter. Flag emitted as int for stable
  // cross-engine schema.
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityScoreFor(docs(s, dir))

  /** THE quality-gate predicate (q24's `quality_ok`) as a function of
    * the three derived stats — ONE definition shared by the standalone
    * query and the composed pipeline's fused filter, so the gate can't
    * drift between them. */
  private[graft] def qualityOk(nTokens: Column, uniqRatio: Column,
                               meanTokenLen: Column): Column =
    nTokens.between(5L, 500L) &&
      uniqRatio > 0.2 &&
      meanTokenLen.between(2.0, 12.0)

  /** Core of q24, usable on any (doc_id, text) frame — the composed
    * pipeline's stage-1 gate applies [[qualityOk]] over the same derived
    * columns. */
  def qualityScoreFor(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("char_len"),
      tokenCount(col("text")).as("n_tokens"),
      distinctTokenCount(col("text")).as("n_uniq_tokens"),
      tokenEstimate(col("text")).as("n_tokens_bpeish"))
      .withColumn("mean_token_len",
        (col("char_len") - (col("n_tokens") - lit(1L))).cast("double") / col("n_tokens"))
      .withColumn("uniq_ratio",
        col("n_uniq_tokens").cast("double") / col("n_tokens"))
      .withColumn("quality_ok",
        qualityOk(col("n_tokens"), col("uniq_ratio"), col("mean_token_len")).cast("int"))
      .orderBy(col("doc_id"))

  // q47 — PII scrubbing audit (corpus-hygiene pass): redact emails /
  // URLs / long digit runs, report per-doc match counts + the redacted
  // text's hash (so the oracle verifies the actual rewritten bytes, not
  // just the counts). Pure per-row regex work — shuffle-free, codegen'd.
  def piiScrub(s: SparkSession, dir: String): DataFrame =
    docsHeavy(s, dir).select(
      col("doc_id"),
      piiCount(col("text"), PiiEmail).as("n_emails"),
      piiCount(col("text"), PiiUrl).as("n_urls"),
      piiCount(col("text"), PiiDigits).as("n_digit_runs"),
      md5(piiRedact(col("text"))).as("redacted_hash"))
      .orderBy(col("doc_id"))

  // q48 — repetition scoring (boilerplate/spam signal): the most
  // frequent 3-gram's share of a document's total 3-grams. High values
  // flag template/repeated content — a standard pre-training quality
  // gate alongside q24.
  def repetitionScore(s: SparkSession, dir: String): DataFrame =
    repetitionScoreFor(docsHeavy(s, dir))

  /** Core of q48, usable on any (doc_id, text) frame (specs plant their
    * own repetitive/diverse docs through this same code path). */
  def repetitionScoreFor(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))")).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_gram_n"),
           sum(col("n")).as("n_grams"))
      .withColumn("repetition", col("top_gram_n").cast("double") / col("n_grams"))
      .withColumn("repetitive", (col("repetition") > 0.2).cast("int"))
      .orderBy(col("doc_id"))

  // q59 — unigram language-model scoring: fit add-one-smoothed unigram
  // log-probs on the corpus itself, score every document by its mean and
  // minimum token log-prob — the classic cheap LM-based quality filter
  // (docs full of rare junk score low; `min_logp` is the rarest-token
  // surprise). Two corpus scans by design: pass 1 aggregates the
  // vocabulary histogram (vocab-sized ⇒ BROADCAST to the scoring join —
  // no shuffle of the token stream), pass 2 re-explodes and scores.
  // Caching the exploded token stream instead would trade a cheap
  // map-side re-scan for materializing ~N_tokens rows — the wrong trade
  // at 100 TB. Scores round to 6dp: sum order and libm ulps differ
  // across engines.
  def unigramLmScore(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val counts = tok.groupBy(col("token")).agg(count(lit(1)).as("n_tok"))
    val t = counts.agg(sum(col("n_tok")).cast("long"), count(lit(1))).head
    val denom = (t.getLong(0) + t.getLong(1)).toDouble
    val logp = log((col("n_tok") + lit(1L)).cast("double") / lit(denom))
    tok.join(broadcast(counts), "token")
      .withColumn("logp", logp)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("logp")), 6).as("avg_logp"),
        round(min(col("logp")), 6).as("min_logp"))
      .orderBy(col("doc_id"))
  }

  // q30 — winnowing-style fingerprint: min md5 over 8-token shingles,
  // bucketed by the first hex nibble. Per-row, shuffle-free; the bucket
  // column is what a 100-TB pipeline would hash-partition on.
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docsHeavy(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"),
        minShingleFingerprint(col("t"), 8).as("fingerprint"))
      .withColumn("bucket", substring(col("fingerprint"), 1, 1))
      .orderBy(col("doc_id"))

  // q87 — LINE-LEVEL boilerplate removal (CCNet/RefinedWeb-style): hash
  // each line, count how many distinct documents it appears in, strip
  // lines shared by more than `maxDocs` docs (nav bars, cookie banners,
  // license footers — the template text document-level dedup can't see),
  // and report per-doc retention stats plus the md5 of the RETAINED
  // text, so the oracle certifies the actual surviving bytes.
  def lineDedup(s: SparkSession, dir: String,
                segLen: Int = 10, maxDocs: Int = 1): DataFrame =
    lineDedupFor(docsHeavy(s, dir), segLen, maxDocs)

  /** Lines of a document as non-overlapping `segLen`-token segments
    * with a 0-based line number. The driver corpus is single-line
    * (no '\n' anywhere in `documents.text`), so the declared query uses
    * this fixed segmentation as its line proxy; a real crawl corpus
    * would feed [[lineDedupLines]] `split(text, '\n')` lines through
    * the same (doc_id, line_no, line) contract. Segment count and bounds
    * are all-integer (`(n + segLen − 1) div segLen`), so DuckDB replays
    * the segmentation exactly. Pure per-row explode — no shuffle. */
  def docLines(documents: DataFrame, segLen: Int): DataFrame = {
    require(segLen > 0, s"need segLen > 0, got $segLen")
    documents
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .withColumn("_n", size(col("_t")).cast("long"))
      .select(col("doc_id"), col("_t"),
        explode(sequence(lit(0L),
          expr(s"(`_n` + ${segLen - 1}) div $segLen") - 1)).as("line_no"))
      .select(col("doc_id"), col("line_no"),
        concat_ws(" ", slice(col("_t"),
          (col("line_no") * segLen + 1).cast("int"), lit(segLen))).as("line"))
  }

  /** Core of q87 over any (doc_id, text) frame.
    *
    * Two corpus passes by design (q59's trade, not an accident): pass 1
    * aggregates the boilerplate line-hash table; pass 2 re-derives the
    * lines and filters against it. Caching the exploded line stream
    * instead would materialize ~N_token rows to save a map-side
    * re-scan — the wrong trade at 100 TB.
    *
    * Scale shape: the frequency pass shuffles (line_hash, doc_id) pairs
    * — within-partition duplicates collapse in the partial aggregate,
    * so the exchange is bounded by distinct (line, doc) pairs, never
    * raw token volume (the 10× soak gates this ratio). Line identity
    * is the 60-bit [[md5Long]] — an 8-byte shuffle/join key instead of
    * the line bytes. The boilerplate table (lines in > maxDocs docs) is
    * a small fraction of distinct lines, so the pass-2 probe join
    * broadcasts it in practice; the plan degrades to a hash shuffle on
    * the 8-byte key when a pathological corpus makes it large. The
    * retained-text hash is assembled in ONE aggregation via a sorted
    * collect of (line_no, line) structs — bounded by a single document's
    * lines, the same per-group bound every per-doc aggregate carries. */
  def lineDedupFor(documents: DataFrame, segLen: Int = 10,
                   maxDocs: Int = 1): DataFrame =
    lineDedupLines(docLines(documents, segLen), maxDocs)

  /** [[lineDedupFor]] over a caller-supplied (doc_id, line_no, line)
    * frame — the entry a newline-structured corpus calls with its
    * actual `split(text, '\n')` lines. `lines` must be re-derivable
    * (a projection, not a consumed iterator): it is scanned twice, once
    * per pass. */
  def lineDedupLines(lines: DataFrame, maxDocs: Int = 1): DataFrame =
    scrubLines(lines, boilerplateLines(lines, maxDocs))
      .orderBy(col("doc_id"))

  // q93 — [[lineDedupLines]] driven through the REAL newline path. q87
  // gates the scrub rule on the 10-token segment proxy (the driver
  // corpus is single-line); this query first derives a deterministic
  // NEWLINE VIEW of the corpus — every `segLen`-th space becomes '\n'
  // via one regexp_replace, replayed verbatim by the DuckDB oracle —
  // and then runs the exact entry a crawl corpus calls:
  // split(text_nl, '\n') + posexplode → (doc_id, line_no, line) →
  // lineDedupLines. An oracle-green run certifies the newline path
  // itself (posexplode line numbering, blank-line-free splitting, the
  // scrub over genuinely multi-line documents), not just the proxy.
  def lineDedupNewline(s: SparkSession, dir: String, segLen: Int = 7,
                       maxDocs: Int = 1): DataFrame =
    lineDedupLines(newlineLines(docsHeavy(s, dir), segLen), maxDocs)

  /** Deterministic newline view: replace every `segLen`-th space with
    * '\n'. One global regexp_replace — the pattern consumes `segLen`
    * tokens plus the following space and reinserts the tokens with a
    * newline, so non-overlapping left-to-right matching yields exactly
    * ⌈n/segLen⌉ lines of ≤ segLen tokens on a single-spaced corpus
    * (verified equal to [[docLines]]' slice segmentation by spec AND by
    * the dry-run against DuckDB's RE2 with the 'g' flag — Java and RE2
    * agree on this pattern because `[^ ]+` is backtracking-free). */
  private[graft] def newlineView(documents: DataFrame, segLen: Int): DataFrame = {
    require(segLen > 0, s"need segLen > 0, got $segLen")
    documents.select(col("doc_id"),
      regexp_replace(col("text"),
        s"(([^ ]+ ){${segLen - 1}}[^ ]+) ", "$1\n").as("text_nl"))
  }

  /** The (doc_id, line_no, line) frame of [[newlineView]] — the literal
    * `split(text, '\n')` + posexplode a newline corpus feeds
    * [[lineDedupLines]]. Pure per-row explode, no shuffle. */
  private[graft] def newlineLines(documents: DataFrame, segLen: Int): DataFrame =
    newlineView(documents, segLen)
      .select(col("doc_id"),
        posexplode(split(col("text_nl"), "\n")).as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no").cast("long").as("line_no"),
        col("line"))

  // q95 — INTRA-document repeated n-gram scrub: remove every token
  // covered by a LATER occurrence of an n-gram already seen in the
  // same document (the exact-substring self-dedup pass of a training
  // pipeline — generated/boilerplate text loops on itself long before
  // it duplicates across documents, which is q87's axis; q48 SCORES
  // repetition, this op CUTS it). First occurrences always survive, so
  // a clean document passes through byte-identical.
  def repeatedGramScrub(s: SparkSession, dir: String, n: Int = 3): DataFrame =
    repeatedGramScrubFor(docsHeavy(s, dir), n)

  /** Core of q95 over any (doc_id, text) frame.
    *
    * Semantics (1-based token positions): gram g_i spans tokens
    * [i, i+n−1]; an occurrence at i is a REPEAT iff the same gram hash
    * occurred at some j < i in the document; removed positions are the
    * union of repeat spans; maximal contiguous removed runs (overlap
    * OR adjacency merges, the q88 sessionize rule with gap n) are the
    * reported spans. Token 1 is never removed (a repeat starts at
    * pos ≥ 2), so the retained text is never empty.
    *
    * Scale shape: positioned gram hashes come from ONE native codegen'd
    * pass per row ([[graft.plans.ShingleHashesMd5]] — 60-bit md5Long
    * values the oracle replays); first-occurrence detection is a
    * (doc_id, gram-hash) partial-agg shuffle — the word-count exchange,
    * 16-byte keys; the span window partitions by doc_id over REPEAT
    * hits only (repetition-volume-proportional, not corpus-
    * proportional); the kept-token anti-join is equi-keyed on
    * (doc_id, pos) against exploded span positions — bounded by removed
    * volume; the final per-doc aggregate is the same sorted-collect
    * bounded by one document that every per-doc reporter uses. */
  def repeatedGramScrubFor(documents: DataFrame, n: Int = 3): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val (toks, grams) = positionedGrams(documents, n)
    val firsts = grams.groupBy(col("doc_id"), col("_gh"))
      .agg(min(col("pos")).as("_first"))
    val repeats = grams.join(firsts, Seq("doc_id", "_gh"))
      .filter(col("pos") > col("_first"))
      .select(col("doc_id"), col("pos"))
    spanScrubReport(documents, toks, repeats, n, "n_repeat_spans")
      .orderBy(col("doc_id"))
  }

  /** Tokenized frame + 1-based positioned gram hashes of a (doc_id,
    * text) frame — the shared head of every gram-scrub operator (q95,
    * q99, the ingest twin). One native codegen'd pass per row
    * ([[graft.plans.ShingleHashesMd5]], 60-bit md5Long values the
    * oracles replay). */
  private def positionedGrams(documents: DataFrame,
                              k: Int): (DataFrame, DataFrame) = {
    graft.GraftExtensions.install(documents.sparkSession)
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("_tk"))
    val grams = toks
      .select(col("doc_id"),
        posexplode(call_function("shingle_hashes_md5", col("_tk"), lit(k)))
          .as(Seq("_p0", "_gh")))
      .select(col("doc_id"), (col("_p0") + 1).cast("long").as("pos"), col("_gh"))
    (toks, grams)
  }

  /** Shared tail of the gram-scrub family: merge the repeat hits
    * (doc_id, pos) into maximal spans (gap `k` — overlap OR adjacency
    * merges, the q88 sessionize rule), cut every covered token, and
    * report per doc: token count, removed tokens, span count (named
    * `spanCol` — q95 says n_repeat_spans, the cross-doc ops say
    * n_dup_spans), and the md5 of the retained text. UNSORTED — batch
    * entries add the oracle sort, the streaming twin can't sort.
    *
    * Scale shape (inherited by every caller): the span window
    * partitions by doc_id over repeat hits only (repetition-volume-
    * proportional, never corpus-proportional); the kept-token anti-join
    * is equi-keyed on (doc_id, pos) against exploded span positions —
    * bounded by removed volume; the final per-doc aggregate is the
    * sorted-collect bounded by one document that every per-doc reporter
    * uses. */
  private def spanScrubReport(documents: DataFrame, toks: DataFrame,
                              repeats: DataFrame, k: Int,
                              spanCol: String,
                              minSpanTokens: Long = 1L): DataFrame = {
    require(minSpanTokens >= 1L,
      s"need minSpanTokens >= 1, got $minSpanTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // the length threshold applies AFTER span merge (the ExactSubstr
    // rule: what matters is the length of the maximal duplicated RUN,
    // not of any single k-gram hit) and BEFORE coverage/reporting —
    // a sub-threshold span is not removed and not counted
    val spans = repeats
      .withColumn("_new", when(lag(col("pos"), 1).over(w).isNull ||
        col("pos") - lag(col("pos"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("_span", sum(col("_new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("_span"))
      .agg(min(col("pos")).as("_s"), (max(col("pos")) + lit(k - 1)).as("_e"))
      .filter(col("_e") - col("_s") + 1 >= minSpanTokens)
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("_s"), col("_e"))).as("_p"))
    val kept = toks
      .select(col("doc_id"), posexplode(col("_tk")).as(Seq("_q0", "_tok")))
      .select(col("doc_id"), (col("_q0") + 1).cast("long").as("_p"), col("_tok"))
      .join(covered, Seq("doc_id", "_p"), "left_anti")
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(md5(concat_ws(" ", transform(
        sort_array(collect_list(struct(col("_p"), col("_tok")))),
        x => x.getField("_tok")))).as("_rh"))
    val spanAgg = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("_ns"), sum(col("_e") - col("_s") + 1).as("_nr"))
    documents.select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .join(spanAgg, Seq("doc_id"), "left")
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("_nr"), lit(0L)).as("n_removed_tokens"),
        coalesce(col("_ns"), lit(0L)).as(spanCol),
        coalesce(col("_rh"), md5(lit(""))).as("retained_hash"))
  }

  // q99 — CROSS-document exact-substring scrub (the ExactSubstr pass of
  // Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  // Better"): every occurrence of a k-token gram that is not the gram's
  // GLOBAL first occurrence — ordered by (doc_id, pos) corpus-wide — is
  // a repeat; repeat spans merge per document (gap k, q95's rule) and
  // are removed. This generalizes q95 to the corpus axis: the canonical
  // copy of any duplicated passage survives byte-identical in exactly
  // one document, and every later copy — in the same doc or any other —
  // is cut. Unlike q95, a repeat CAN start at position 1 (a whole-doc
  // copy of an earlier doc loses everything: retained_hash = md5('')).
  def crossDocGramScrub(s: SparkSession, dir: String, k: Int = 8): DataFrame =
    crossDocGramScrubFor(docsHeavy(s, dir), k)

  // q102 — q99 with the published pass's MINIMUM-MATCH-LENGTH rule
  // (Lee et al. 2022 cut only duplicated runs >= ~50 tokens): merged
  // repeat spans shorter than `minSpanTokens` survive. At real corpus
  // scale the unthresholded q99 deletes common idioms and boilerplate
  // phrases everywhere but their accidental first home; the threshold
  // keeps short shared phrasing and cuts only genuinely duplicated
  // passages. Declared at L=20 on this 10–99-token-doc corpus (the
  // measured sf0.01 span-length distribution straddles it: spans of
  // 8–20 tokens survive, 23+ are cut), scaled from the paper's ~50 the
  // way its authors scaled from their corpus.
  def crossDocGramScrubMin(s: SparkSession, dir: String, k: Int = 8,
                           minSpanTokens: Long = 20L): DataFrame =
    crossDocGramScrubFor(docsHeavy(s, dir), k, minSpanTokens)

  /** Core of q99 over any (doc_id, text) frame.
    *
    * Scale shape vs q95 (which this deliberately mirrors): positioned
    * gram hashes come from the same single native codegen'd pass per
    * row ([[graft.plans.ShingleHashesMd5]]); the global-first table is
    * one partial-agg shuffle on the 60-bit gram hash ALONE — `min` over
    * the (doc_id, pos) struct combines map-side, so the exchange
    * carries one candidate row per (partition, gram), never the
    * positioned stream (a window `row_number() OVER (PARTITION BY gh)`
    * formulation would shuffle + sort every occurrence; the agg
    * formulation is the one that survives 100 TB). Repeat detection is
    * the equi-join of positioned grams against that table on the hash —
    * both sides hash-partition, no sort. The span window partitions by
    * doc_id over repeat hits only (duplication-volume-proportional),
    * and the kept-token anti-join + per-doc rollup are q95's verbatim
    * tail. The (doc_id, pos) total order is unique per gram (one gram
    * per position), so the survivor set is deterministic in any engine.
    */
  def crossDocGramScrubFor(documents: DataFrame, k: Int = 8,
                           minSpanTokens: Long = 1L): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val (toks, grams) = positionedGrams(documents, k)
    val firsts = grams
      .groupBy(col("_gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("_f"))
      .select(col("_gh"), col("_f.doc_id").as("_fd"), col("_f.pos").as("_fp"))
    val repeats = grams.join(firsts, Seq("_gh"))
      .filter(col("doc_id") =!= col("_fd") || col("pos") > col("_fp"))
      .select(col("doc_id"), col("pos"))
    spanScrubReport(documents, toks, repeats, k, "n_dup_spans", minSpanTokens)
      .orderBy(col("doc_id"))
  }

  /** A corpus gram index WITH the gram size it was built under: probe
    * and build must shingle identically or the hash sets are disjoint
    * and the scrub silently removes nothing — bundling k makes that
    * mismatch unrepresentable (the [[BigramLm]] pattern). */
  final case class GramIndex(grams: DataFrame, k: Int)

  /** The corpus GRAM INDEX: distinct k-gram hashes of a (doc_id, text)
    * corpus — the static artifact ingest-time cross-doc scrubbing
    * probes ([[scrubAgainstGramIndex]] per micro-batch through
    * [[graft.streaming.Ingest.probe]]), refreshed on the
    * deployment's cadence exactly like q87's boilerplate line table.
    * One partial-agg distinct on 8-byte keys. */
  def corpusGramIndex(corpus: DataFrame, k: Int = 8): GramIndex =
    GramIndex(positionedGrams(corpus, k)._2.select(col("_gh")).distinct(), k)

  /** Scrub a (doc_id, text) frame against a [[corpusGramIndex]]: every
    * position whose gram the corpus already contains is a repeat — the
    * batch-directional incremental analogue of q99 (the corpus owns
    * every gram it holds; an arriving duplicate passage is cut wherever
    * it lands). Shared VERBATIM by the streaming twin so the scrub rule
    * cannot drift between batch and ingest. UNSORTED (stream-safe);
    * intra-batch novelty is deliberately NOT deduped — two new docs
    * sharing a brand-new passage both survive until the index refresh
    * folds them in, the same batch-directional contract as
    * [[graft.operators.Dedup]]'s incremental classifiers.
    *
    * Scale shape: the index side is the small static operand (semi-join
    * probe — broadcasts when it fits, degrades to a hash shuffle on the
    * 8-byte key); per-trigger cost scales with feed rate, never corpus
    * size. */
  def scrubAgainstGramIndex(docs: DataFrame, index: GramIndex,
                            minSpanTokens: Long = 1L): DataFrame = {
    val (toks, grams) = positionedGrams(docs, index.k)
    val repeats = grams.join(index.grams, Seq("_gh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spanScrubReport(docs, toks, repeats, index.k, "n_dup_spans", minSpanTokens)
  }

  // q101 — bigram language-model scoring: fit an interpolated bigram LM
  // on the corpus itself (λ·c(w₁w₂)/c(w₁) + (1−λ)·add-one-unigram, the
  // classic Jelinek-Mercer backoff with q59's smoothed unigram as the
  // fallback mass) and score every document by its mean and minimum
  // bigram log-prob. The bigram axis catches what q59 structurally
  // can't: shuffled-word junk scores HIGH on unigrams (every token is
  // common) but LOW here (the transitions are improbable) — the
  // standard step up the cheap-LM quality-filter ladder.
  def bigramLmScore(s: SparkSession, dir: String,
                    lambda: Double = 0.75): DataFrame =
    bigramLmScoreFor(docsHeavy(s, dir), lambda)

  /** Core of q101 over any (doc_id, text) frame. Only documents with
    * ≥ 2 tokens appear (a one-token doc has no transitions to score).
    *
    * Scale shape: the UNIGRAM table is vocabulary-sized and BROADCASTS
    * (q59's rule). The BIGRAM table is NOT — distinct bigrams grow with
    * the corpus — so it hash-partitions on the (w1, w2) key; the
    * scoring side first collapses the per-document occurrence stream to
    * distinct (doc_id, w1, w2, m) rows (one partial-agg shuffle — the
    * word-count exchange with a doc key), so the bigram-table join
    * carries one row per distinct (doc, bigram), never per occurrence,
    * and the per-doc rollup weights each transition's logp by its
    * occurrence count m. Every probability is assembled from exact
    * longs by single IEEE ops (identical doubles in any engine); the
    * mean rounds to 6dp because summation ORDER differs across engines
    * (q59's documented rule), and ln() libm ulps sit far below 1e-6. */
  def bigramLmScoreFor(documents: DataFrame,
                       lambda: Double = 0.75): DataFrame =
    bigramLmScoreAgainst(documents, bigramLmFit(documents), lambda)
      .orderBy(col("doc_id"))

  /** A fitted bigram LM: the vocabulary-sized unigram table (broadcast
    * operand), the corpus-growing bigram table (hash-join operand), and
    * the add-one denominator. The static artifact ingest-time scoring
    * probes ([[bigramLmScoreAgainst]] per micro-batch through
    * [[graft.streaming.Ingest.probe]]); caller caches the frames. */
  final case class BigramLm(uni: DataFrame, big: DataFrame, denom: Double)

  /** The (doc_id, w1, w2) adjacent-token pair stream — per-row explode,
    * shared by fit and score so the two sides see identical pairs. */
  private def tokenPairs(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("_tk"))
      .filter(size(col("_tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(_tk) - 1), " +
          "i -> struct(element_at(_tk, i) AS w1, element_at(_tk, i + 1) AS w2))"))
        .as("_p"))
      .select(col("doc_id"), col("_p.w1").as("w1"), col("_p.w2").as("w2"))

  /** Fit the LM tables on a (doc_id, text) corpus: one unigram and one
    * bigram partial-agg shuffle (word-count exchanges), plus the 1-row
    * totals fetch for the add-one denominator. The vocab-sized unigram
    * table is cached ([[Caches.track]]) because THREE consumers read it
    * — the denom action here and the two broadcast builds in
    * [[bigramLmScoreAgainst]] — and each would otherwise re-run the
    * corpus token count; with the cache the corpus is touched exactly
    * twice (unigram fill + pair stream), the shape the soak gates. */
  def bigramLmFit(corpus: DataFrame): BigramLm = {
    val uni = Caches.track(corpus
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_tok")))
    val t = uni.agg(sum(col("n_tok")).cast("long"), count(lit(1))).head
    require(!t.isNullAt(0),
      "bigramLmFit: empty corpus — no tokens to fit an LM on")
    val denom = (t.getLong(0) + t.getLong(1)).toDouble
    val big = tokenPairs(corpus).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_big"))
    BigramLm(uni, big, denom)
  }

  /** Score a (doc_id, text) frame against a fitted [[BigramLm]] — the
    * incremental form the ingest twin shares verbatim. Out-of-model
    * mass backs off exactly as Jelinek-Mercer prescribes: an unseen
    * bigram contributes 0 to the ML term (left join, coalesce 0), an
    * unseen history word w₁ zeroes the whole ML term (0/0 guarded to
    * 0), and an unseen w₂ falls through to the add-one unigram floor
    * 1/denom — so every probability stays strictly positive and a
    * wholly-novel document scores at the floor instead of crashing.
    * When scoring the SAME corpus the LM was fit on (the declared
    * q101), no backoff branch fires and the arithmetic is the exact
    * self-scoring form the oracle replays. UNSORTED (stream-safe).
    *
    * Scale shape: see q101's entry doc — distinct (doc, w₁, w₂, m)
    * partial agg, hash join against the bigram table, broadcast
    * unigram joins. */
  def bigramLmScoreAgainst(docs: DataFrame, lm: BigramLm,
                           lambda: Double = 0.75): DataFrame = {
    // λ = 1 is excluded: with no unigram mass an out-of-model bigram
    // has p = 0 and log(0) = -Inf — the smoothing floor is the whole
    // point of scoring AGAINST a static model
    require(lambda >= 0.0 && lambda < 1.0, s"need λ in [0,1), got $lambda")
    val occ = tokenPairs(docs).groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val scored = occ
      .join(lm.big, Seq("w1", "w2"), "left")
      .join(broadcast(lm.uni.select(col("token").as("w1"), col("n_tok").as("n_w1"))),
        Seq("w1"), "left")
      .join(broadcast(lm.uni.select(col("token").as("w2"), col("n_tok").as("n_w2"))),
        Seq("w2"), "left")
      .withColumn("logp", log(
        lit(lambda) * when(col("n_w1").isNull, lit(0.0))
          .otherwise(coalesce(col("n_big"), lit(0L)).cast("double") / col("n_w1")) +
          lit(1.0 - lambda) *
            ((coalesce(col("n_w2"), lit(0L)) + lit(1L)).cast("double") / lit(lm.denom))))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("m") * col("logp")) / sum(col("m")), 6).as("avg_logp"),
        round(min(col("logp")), 6).as("min_logp"))
  }

  /** The BOILERPLATE TABLE of a lines frame: one `_lh` (60-bit line
    * hash) row per line appearing in more than `maxDocs` distinct
    * documents — the corpus-frequency pass, and the static artifact a
    * deployment recomputes daily and probes at ingest
    * ([[scrubLines]] per micro-batch through
    * [[graft.streaming.Ingest.probe]]). */
  def boilerplateLines(lines: DataFrame, maxDocs: Int = 1): DataFrame = {
    import graft.functions.TextFunctions.md5Long
    lines
      .select(md5Long(col("line")).as("_lh"), col("doc_id"))
      .distinct()
      .groupBy(col("_lh")).agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > maxDocs)
      .select(col("_lh"), lit(1).as("_boiler"))
  }

  /** Scrub a (doc_id, line_no, line) frame against a boilerplate table
    * ([[boilerplateLines]] output): per-doc retention stats + the md5
    * of the retained text. Shared VERBATIM by the batch query and the
    * streaming twin so the scrub rule can't drift between them. No
    * ordering (the batch entry adds the oracle sort; a stream can't
    * sort).
    *
    * Token-count convention: an EMPTY kept line counts 1 token in
    * `n_kept_tokens` — `split("", " ")` is `[""]` engine-wide (q21's
    * tokenCount("") = 1, DuckDB's `len(string_split('', ' '))` = 1),
    * and the oracle replays exactly that. Newline corpora with blank
    * lines inherit the same convention; callers wanting blank lines
    * excluded should filter them before the scrub. */
  def scrubLines(lines: DataFrame, boiler: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.md5Long
    lines
      .withColumn("_lh", md5Long(col("line")))
      .join(boiler, Seq("_lh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_boiler").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("_boiler").isNull,
          size(org.apache.spark.sql.functions.split(col("line"), " "))
            .cast("long")).otherwise(0L)).as("n_kept_tokens"),
        md5(concat_ws(" ", transform(
          sort_array(collect_list(when(col("_boiler").isNull,
            struct(col("line_no"), col("line"))))),
          x => x.getField("line")))).as("retained_hash"))
  }

  // q82 — vocabulary build + OOV audit: the tokenizer-prep op a
  // training pipeline runs before freezing a vocab.
  def vocabOov(s: SparkSession, dir: String, vocabSize: Int = 512): DataFrame =
    vocabOovFor(docs(s, dir), vocabSize)

  /** Build the top-`vocabSize` vocabulary from the TRAIN split's token
    * counts (count desc, token asc — a total order, so the cut is
    * deterministic in any engine) and measure per-source out-of-vocab
    * rates on the held-out TEST split. Splits are q44's hash-mod
    * assignment ([[Sampling.assignSplit]]), so vocab and audit sides
    * can never leak into each other as the corpus grows.
    *
    * Scale shape: the train token count is one partial-agg shuffle (the
    * standard word-count exchange); the vocab cut is TakeOrdered on
    * `vocabSize` rows; the cut vocab BROADCASTS to the eval token
    * stream (never shuffled — at 100 TB the eval side is the big
    * operand and it stays map-side); the per-source rollup is a
    * partial-agg shuffle on the source key. */
  def vocabOovFor(documents: DataFrame, vocabSize: Int = 512): DataFrame = {
    val d = documents.withColumn("_split",
      Sampling.assignSplit(col("doc_id")))
    val vocab = d.filter(col("_split") === "train")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1L).as("_in"))
    d.filter(col("_split") === "test")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
      .orderBy(col("source"))
  }

  // q80 — sliding-window token chunking: the pretraining-prep operator
  // that turns raw documents into model-sized training sequences. The
  // declared params (32/24) are sized to the testdata's ≤99-token docs
  // so the driver gate exercises multi-chunk tiling and the snapped
  // last window, not just the short-doc identity case; a real pipeline
  // runs the same operator at (2048, 1536)-ish.
  def docChunks(s: SparkSession, dir: String,
                maxLen: Int = 32, stride: Int = 24): DataFrame =
    docChunksFor(docsHeavy(s, dir), maxLen, stride)

  /** Split each document into `maxLen`-token windows advancing by
    * `stride` tokens (overlap = maxLen − stride). The LAST window is
    * SNAPPED to the document end (start = n − maxLen) so no trailing
    * tokens are dropped and no degenerate sub-stride tail is emitted:
    * every chunk is exactly maxLen tokens except the single chunk of a
    * short (≤ maxLen) document. Chunk count and starts are all-integer
    * (`(n − maxLen + stride − 1) div stride + 1`), so the DuckDB oracle
    * replays them exactly. Per-row explode — no shuffle; at 100 TB this
    * scales with input splits and output volume is bounded by
    * ~(1/stride + 1/n)× the token stream. The md5 stands in for the
    * chunk payload to keep the dump narrow (a real pipeline writes the
    * token slice itself). */
  def docChunksFor(documents: DataFrame, maxLen: Int = 128,
                   stride: Int = 96): DataFrame =
    docChunksRaw(documents, maxLen, stride)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** [[docChunksFor]] WITHOUT the final oracle sort — the entry for
    * consumers that aggregate the chunks (q81's packer, the soak),
    * where a mid-pipeline global sort would be pure waste. */
  private[graft] def docChunksRaw(documents: DataFrame, maxLen: Int = 128,
                                  stride: Int = 96): DataFrame = {
    require(maxLen > 0 && stride > 0 && stride <= maxLen,
      s"need 0 < stride <= maxLen, got maxLen=$maxLen stride=$stride")
    documents
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .withColumn("_n", size(col("_t")).cast("long"))
      .withColumn("_nc", when(col("_n") <= maxLen, lit(1L))
        .otherwise(expr(s"(`_n` - $maxLen + ${stride - 1}) div $stride") + lit(1L)))
      .select(col("doc_id"), col("_t"), col("_n"), col("_nc"),
        explode(sequence(lit(0L), col("_nc") - 1)).as("chunk_idx"))
      .withColumn("start_tok",
        when(col("chunk_idx") === col("_nc") - 1,
          greatest(col("_n") - maxLen, lit(0L)))
          .otherwise(col("chunk_idx") * stride))
      .withColumn("n_tokens",
        least(lit(maxLen.toLong), col("_n") - col("start_tok")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_tokens"),
        md5(concat_ws(" ",
          slice(col("_t"), (col("start_tok") + 1).cast("int"),
            col("n_tokens").cast("int")))).as("chunk_hash"))
  }
}
