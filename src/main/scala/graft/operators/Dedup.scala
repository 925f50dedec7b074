package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Deduplication operators over the `documents` table — exact and
  * near-duplicate detection, the core corpus-hygiene stage of a
  * training-data pipeline (SURVEY scale-extension plan).
  *
  * Scale design: every variant reduces the pairwise O(n²) problem to a
  * shuffle keyed on something small (content hash, shared shingle,
  * minhash band), so candidate generation is a hash-partition join, never
  * a cross join. Exact jaccard verification runs only on candidates.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Spread scan for the per-row-compute hotspots (shingling, q28's
    * md5-per-token simhash signature) — one shared helper with the text
    * family, see [[TextOps.docsHeavy]] for the floor-vs-plain-scan
    * decision rule. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    TextOps.docsHeavy(s, dir)

  /** Deterministic synthetic crawl URL per document — the q71 FIXTURE
    * rule, not an operator: the driver testdata has no url column, so
    * the crawl-URL surface is derived from (doc_id, source) via the
    * portable md5-digit technique the split/sampling family already
    * uses (q44/q65's hash rules), mirrored digit-for-digit in the
    * DuckDB oracle. The derivation deliberately sprays every cosmetic
    * variation [[graft.functions.TextFunctions.normalizeUrl]] must
    * collapse — scheme/host case, www., default vs real ports,
    * trailing slash, param order, utm_ tracking params, fragments —
    * while keeping the underlying resource key (source, doc_id mod 97,
    * http-vs-https, non-default port) intact. */
  private[graft] def syntheticUrl: org.apache.spark.sql.Column = {
    val h = md5(col("doc_id").cast("string"))
    def v(i: Int) = conv(substring(h, i, 1), 16, 10).cast("int")
    val scheme = element_at(
      array(lit("http"), lit("HTTP"), lit("https"), lit("Http")), v(1) % 4 + 1)
    val www = element_at(array(lit(""), lit("www."), lit("WWW.")), v(2) % 3 + 1)
    val host = concat(col("source"),
      element_at(array(lit(".example.com"), lit(".Example.COM")), v(3) % 2 + 1))
    val port = element_at(array(lit(":80"), lit(""), lit(":8080")), v(4) % 3 + 1)
    // path modulus 7: source repeats every 20 doc_ids, so the resource
    // key (source, doc_id mod 7) recurs every lcm(20,7)=140 ids — real
    // multi-copy groups at every SF, not a sea of singletons
    val path = concat(lit("/a/"), (col("doc_id") % 7).cast("string"),
      element_at(array(lit(""), lit("/")), v(5) % 2 + 1))
    val qparams = when(v(6) % 2 === 0, lit("a=1&b=2")).otherwise(lit("b=2&a=1"))
    val utm = when(v(7) % 2 === 0, lit("utm_source=feed&")).otherwise(lit(""))
    val frag = when(v(8) % 2 === 0, lit("")).otherwise(lit("#sec"))
    concat(scheme, lit("://"), www, host, port, path, lit("?"), utm, qparams, frag)
  }

  /** q71 — URL-normalized dedup: canonicalize every document's crawl
    * URL ([[graft.functions.TextFunctions.normalizeUrl]]) and keep one
    * document per canonical URL (min doc_id) with the copy count — the
    * cheapest tier of a production crawl dedup, run BEFORE any content
    * hashing (two fetches of one resource differ in URL cosmetics far
    * more often than in bytes). Scale shape = q25's: normalization is
    * pure per-row string work inside whole-stage codegen, then ONE
    * hash shuffle on the canonical URL. */
  def urlNormalizedDedup(s: SparkSession, dir: String): DataFrame =
    urlNormalizedDedupFor(
      docs(s, dir).select(col("doc_id"), syntheticUrl.as("url")))

  /** [[urlNormalizedDedup]] over ANY (doc_id, url) frame — the library
    * entry a real crawl (which has its own url column) calls. */
  def urlNormalizedDedupFor(docUrls: DataFrame): DataFrame =
    docUrls
      .groupBy(graft.functions.TextFunctions.normalizeUrl(col("url")).as("norm_url"))
      .agg(min(col("doc_id")).as("keeper_id"),
           count(lit(1)).as("n_copies"))
      .orderBy(col("norm_url"))

  // q25 — exact dedup: md5 content hash → keeper (min doc_id) + copy
  // count. One shuffle on the hash; at 100 TB this is the cheapest dedup
  // pass and runs first.
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"),
           count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  /** Distinct 3-gram shingles per doc (docs with ≥3 tokens). */
  private def grams3(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingles(col("t"), 3)).as("gram"))

  // q26 — n-gram Jaccard near-dup pairs: candidates = pairs sharing ≥1
  // shingle (gram-keyed join, NOT a cross join), then exact
  // jaccard = |∩| / (|A|+|B|−|∩|) ≥ 0.5. Division is exact-int → exact
  // double, bit-identical to the oracle.
  def ngramJaccardPairs(s: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame = {
    val g = grams3(s, dir)
    val counts = g.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
    val a = g.select(col("doc_id").as("doc_a"), col("gram"))
    val b = g.select(col("doc_id").as("doc_b"), col("gram"))
    val inter = a.join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("ng").as("ng_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("ng").as("ng_b")), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("ng_a") + col("ng_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("ng_a"), col("ng_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Affine-family minhash constants: h_i(g) = (a_i·h(g) + b_i) mod M
    * with ONE md5-derived 28-bit base hash per gram (k md5s per gram was
    * the bench hotspot — 12× the hash work for no extra information).
    * M prime < 2^28 keeps a_i·h exactly representable in int64 for both
    * engines; constants from a fixed LCG so the DuckDB oracle can embed
    * them literally. */
  val MinhashM: Long = 268435399L // largest prime < 2^28
  val minhashAB: Seq[(Long, Long)] = {
    var x = 88172645463325252L
    def next(): Long = { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; math.abs(x) }
    Seq.fill(12)((next() % (MinhashM - 1) + 1, next() % MinhashM))
  }

  /** n-gram Jaccard with SHINGLE-FREQUENCY CAPPING — the 100-TB guard
    * (SCALE.md): shingles appearing in more than `maxDocFreq` documents
    * are dropped from CANDIDATE GENERATION (they explode the gram join
    * quadratically while carrying no dedup signal, exactly like
    * stop-words), but the exact Jaccard for surviving candidates is
    * computed over the FULL gram sets via per-doc gram arrays, so scores
    * are identical to the uncapped operator. A true near-dup pair is
    * missed only if it shares nothing but ultra-common shingles. */
  def ngramJaccardPairsCapped(s: SparkSession, dir: String,
                              threshold: Double = 0.5,
                              maxDocFreq: Long = 100): DataFrame =
    ngramJaccardPairsCappedFor(docsSpread(s, dir), threshold, maxDocFreq)

  /** [[ngramJaccardPairsCapped]] over ANY (doc_id, text) frame — the form
    * a composed pipeline needs, where the near-dup corpus is the OUTPUT
    * of upstream quality/exact-dedup stages rather than a raw table scan
    * (parallelism then comes from the upstream shuffles, so the spread
    * floor is the caller's concern, not this operator's). */
  def ngramJaccardPairsCappedFor(documents: DataFrame,
                                 threshold: Double = 0.5,
                                 maxDocFreq: Long = 100): DataFrame =
    ngramJaccardPairsCappedTok(
      documents.select(col("doc_id"), tokens(col("text")).as("t")),
      threshold, maxDocFreq)

  /** [[ngramJaccardPairsCappedFor]] over a PRE-TOKENIZED (doc_id, t)
    * frame: a composed pipeline whose cached survivor frame already
    * carries token arrays (q62) enters here and skips re-splitting the
    * same texts — the split is the dominant per-row cost upstream of
    * shingling. */
  def ngramJaccardPairsCappedTok(docToks: DataFrame,
                                 threshold: Double = 0.5,
                                 maxDocFreq: Long = 100): DataFrame =
    // The sort's range-sampling pass re-executes only the (cache-fed,
    // candidate-pruned) tail, which measures CHEAPER at bench scale than
    // materializing an extra cache (~1s of cold codegen per fresh
    // session); order-insensitive consumers (clusters, compose, q67,
    // streaming) enter the Raw form and skip the sort entirely.
    ngramJaccardPairsCappedTokRaw(docToks, threshold, maxDocFreq)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Dir-level unsorted capped pairs — for order-insensitive consumers
    * of the driver table (q67's cross-modal rescore). */
  private[graft] def ngramJaccardPairsCappedRaw(
      s: SparkSession, dir: String,
      threshold: Double = 0.5, maxDocFreq: Long = 100): DataFrame =
    ngramJaccardPairsCappedTokRaw(
      docsSpread(s, dir).select(col("doc_id"), tokens(col("text")).as("t")),
      threshold, maxDocFreq)

  /** [[ngramJaccardPairsCappedTok]] WITHOUT the final global sort. The
    * sort exists for q26's oracle-ordered output; consumers that only
    * aggregate the pairs (connected components, the composed pipeline)
    * must enter here — a Sort under their cache/count would cost a full
    * range-sampling pass that RE-EXECUTES the candidate+rescore subtree
    * before the sort itself runs, for an ordering nothing reads. */
  private[graft] def ngramJaccardPairsCappedTokRaw(
      docToks: DataFrame,
      threshold: Double = 0.5,
      maxDocFreq: Long = 100): DataFrame = {
    // per-doc gram ARRAYS are a per-row projection (no shuffle at all) —
    // they feed the explode, both rescore joins, and keep the gram-set
    // collection out of a groupBy/collect_list entirely. Cached because
    // three consumers read it; released via Caches.release()
    val docGrams = Caches.track(
      docToks
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), shingles(col("t"), 3).as("grams")))
    val (capped, ncc) = cappedCandidates(docGrams, maxDocFreq)
    // Upper-bound prune (the similarity-join positional-filter idea):
    // instead of dragging both gram ARRAYS through a join for every pair
    // that shares even one random shingle, bound n_common from the
    // capped count. True n_common exceeds ncc by at most the smaller
    // side's HOT-gram count, and jaccard is monotone in n_common — so
    // j(ncc + min(hotA, hotB)) is a provable upper bound and any pair
    // below threshold on it can be dropped WITHOUT rescoring. Only the
    // few survivors touch the arrays.
    // per-doc totals: ng = all grams (per-row, no shuffle), ngc = capped
    // grams — ints only, joined on doc id (AQE broadcasts when small)
    val ngAll = docGrams.select(col("doc_id"), size(col("grams")).cast("long").as("ng"))
    val ngCap = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("ngc"))
    val counts = ngAll.join(ngCap, Seq("doc_id"))
    val pruned = ncc
      .join(counts.select(col("doc_id").as("doc_a"),
        col("ng").as("ng_a"), col("ngc").as("ngc_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"),
        col("ng").as("ng_b"), col("ngc").as("ngc_b")), "doc_b")
      .withColumn("nc_upper",
        col("ncc") + least(col("ng_a") - col("ngc_a"), col("ng_b") - col("ngc_b")))
      .filter(col("nc_upper").cast("double") /
        (col("ng_a") + col("ng_b") - col("nc_upper")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    // exact rescoring over full gram sets (arrays are per-doc sized), so
    // (n_common, ng_a, ng_b, jaccard) are identical to the uncapped
    // operator for every surviving candidate — same output schema too
    rescoreExact(pruned, docGrams, threshold)
  }

  /** The capped candidate stage over per-doc gram arrays: `capped` is
    * every (doc_id, gh) gram-hash row whose gram occurs in at most
    * `maxDocFreq` documents (cached, released via Caches.release()), and
    * `ncc` counts, per candidate pair (doc_a < doc_b), the capped grams
    * the two documents share. [[ngramJaccardPairsCappedTokRaw]] prunes
    * and rescores these pairs; the soak counts them. */
  private[graft] def cappedCandidates(docGrams: DataFrame,
                                      maxDocFreq: Long): (DataFrame, DataFrame) = {
    // candidate stages key on xxhash64(gram), not the gram STRING: the
    // df-count groupBy and the pair self-join are the pipeline's two big
    // shuffles, and an 8-byte key beats a ~25-byte text shingle in both
    // shuffle bytes and join-key comparisons. Collision budget: the df
    // groupBy is over GLOBAL distinct grams, so the relevant bound is the
    // 64-bit birthday bound (~4×10⁹ distinct grams) — a 100 TB corpus
    // EXCEEDS it and some collisions are expected there. The failure mode
    // is bounded: a rare-gram colliding with another gram can merge df
    // counts past maxDocFreq and drop that gram from candidate
    // generation — a small RECALL loss only. Scores are never affected
    // (the exact rescore below runs on full STRING gram sets), and
    // precision is unaffected (extra candidates are rescored away). If
    // exact candidate parity at ≳10⁹-gram scale matters, widen the key to
    // 128 bits (e.g. a md5-prefix pair) at 2× shuffle-key cost.
    val g = docGrams
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
    // hot shingles (df > cap) are FEW by construction — broadcast them
    // and prune with a left-anti join instead of shuffling every gram
    // row against the (huge) rare-gram set
    val hot = g.groupBy(col("gh"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select(col("gh"))
    val capped = Caches.track(g.join(broadcast(hot), Seq("gh"), "left_anti"))
    // common CAPPED grams per pair: a pure integer aggregate on the
    // self-join's shuffle, never a DISTINCT over pairs
    val ncc = capped.select(col("doc_id").as("doc_a"), col("gh"))
      .join(capped.select(col("doc_id").as("doc_b"), col("gh")), Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("ncc"))
    (capped, ncc)
  }

  /** Shared exact-rescore tail: join candidate (doc_a, doc_b) pairs with
    * both full gram arrays and compute the exact jaccard — the math every
    * candidate-generation strategy (capped, prefix, minhash) funnels
    * through, so scores can't drift between strategies. */
  private def rescoreExact(cand: DataFrame, docGrams: DataFrame,
                           threshold: Double): DataFrame =
    cand
      .join(docGrams.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(docGrams.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("ng_a", size(col("ga")).cast("long"))
      .withColumn("ng_b", size(col("gb")).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("ng_a") + col("ng_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("ng_a"), col("ng_b"), col("jaccard"))

  /** q69 — EXACT n-gram Jaccard similarity join via PREFIX FILTERING
    * (the AllPairs/PPJoin family: Bayardo et al. WWW'07, Vernica et al.
    * SIGMOD'10). Same output as the brute candidate form
    * ([[ngramJaccardPairs]]) — NO recall trade, unlike frequency capping
    * (q26), which drops pairs sharing only ultra-common shingles.
    *
    * Prefix-filter principle: order every document's gram set by one
    * global total order (rarity first); if jaccard(A,B) ≥ t, the first
    * `|A| − ⌈t·|A|⌉ + 1` grams of A and the first `|B| − ⌈t·|B|⌉ + 1`
    * grams of B must share an element — so the candidate join runs over
    * PREFIXES only (the rare half at t=0.5), and common shingles
    * generate candidates only for documents where they rank early,
    * i.e. never en masse. The size filter (`t·|A| ≤ |B| ≤ |A|/t`)
    * prunes further; survivors get the shared exact rescore.
    *
    * Scale shape vs q26: capping bounds candidates by FIAT (with a
    * documented recall trade); the prefix bounds them by THEOREM with
    * none. Cost: one extra co-partitioned join (gram→df, reusing the
    * df groupBy's exchange) and one doc-keyed window sort. The global
    * order is (df, gram): df may be computed on xxhash64 buckets (a
    * collision only merges two counts — the order stays total and
    * consistent, which is all the theorem needs), while the gram-string
    * tiebreak keeps the order total even across hash collisions. The
    * candidate join itself keys on the 8-byte hash; a collision can only
    * ADD candidates, which the exact rescore discards. */
  def ngramJaccardPairsPrefix(s: SparkSession, dir: String,
                              threshold: Double = 0.5,
                              wideKeys: Boolean = false): DataFrame =
    ngramJaccardPairsPrefixFor(docsSpread(s, dir), threshold, wideKeys)

  /** Distinct 3-gram shingle ARRAYS per (doc_id, text) row — the shared
    * entry of the pair pipelines; callers cache it (multiple consumers). */
  private[graft] def gramsFor(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingles(col("t"), 3).as("grams"))

  /** [[ngramJaccardPairsPrefix]] over ANY (doc_id, text) frame.
    * `wideKeys = true` runs the pre-prune on 128-bit keys. */
  def ngramJaccardPairsPrefixFor(documents: DataFrame,
                                 threshold: Double = 0.5,
                                 wideKeys: Boolean = false): DataFrame = {
    val docGrams = Caches.track(gramsFor(documents))
    // HASH-ARRAY PRE-PRUNE between candidates and the exact rescore: the
    // prefix filter is lossless, so its candidate set is much bigger than
    // the capped pipeline's post-prune set (~300k vs hundreds at sf0.1),
    // and joining every candidate against two ~2.5 KB gram-STRING arrays
    // was the measured wall-clock hotspot. Intersecting 8-byte hash SETS
    // first is ~5x cheaper per pair, and for COLLISION-FREE hash
    // restrictions it upper-bounds the true jaccard (a cross-side
    // collision — a gram of A∖B colliding with one of B∖A — can only
    // INFLATE the intersection, and array_distinct keeps per-doc sizes
    // consistent with set semantics), so filtering on hash-jaccard >= t
    // keeps every true pair. COLLISION CAVEAT (the one way this filter
    // is not strictly lossless): if two grams BOTH IN A∩B collide, the
    // hashed intersection shrinks faster than the hashed union and
    // hash-jaccard can fall BELOW the true jaccard (A={a,b,c},
    // B={a,b,d}, h(a)=h(b): true J=0.5, hash J=1/3), so a
    // boundary-true pair could be dropped. Probability ≈ 2⁻⁶⁴ per
    // shared-gram pair — negligible below ~4×10⁹ distinct grams per
    // doc pair universe; at that scale pass `wideKeys = true`: the
    // pre-prune key widens to an independently-seeded xxhash64 PAIR
    // (xxhash64(g) chains arg hashes through the seed, so a 1L first
    // arg gives a hash family independent of the bare call — both
    // colliding for distinct grams is ≈ 2⁻¹²⁸) at ~2× pre-prune cost.
    // Survivors (≈ the true result set) then pay the string-exact
    // rescore, whose scores are what the oracle sees.
    val gramKey: Column => Column =
      if (wideKeys) g => struct(xxhash64(g).as("h1"), xxhash64(lit(1L), g).as("h2"))
      else g => xxhash64(g)
    val docGramsH = Caches.track(docGrams.select(col("doc_id"),
      array_distinct(transform(col("grams"), gramKey)).as("ghs")))
    val pruned = prefixCandidates(docGrams, threshold)
      .join(docGramsH.select(col("doc_id").as("doc_a"), col("ghs").as("_ha")), "doc_a")
      .join(docGramsH.select(col("doc_id").as("doc_b"), col("ghs").as("_hb")), "doc_b")
      .withColumn("_nch", size(array_intersect(col("_ha"), col("_hb"))).cast("long"))
      .withColumn("_na", size(col("_ha")).cast("long"))
      .withColumn("_nb", size(col("_hb")).cast("long"))
      .filter(col("_nch").cast("double") /
        (col("_na") + col("_nb") - col("_nch")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    Caches.track(rescoreExact(pruned, docGrams, threshold))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The prefix-filtered candidate stage of [[ngramJaccardPairsPrefix]]:
    * distinct (doc_a, doc_b) sharing a PREFIX gram, size-filtered.
    * Factored out so soak/specs measure exactly the shipped stage. */
  private[graft] def prefixCandidates(docGrams: DataFrame,
                                      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (doc, gram) stream with per-doc set size riding along (no window
    // needed for it) and the hash key both shuffles run on
    val g = docGrams.select(col("doc_id"),
        size(col("grams")).cast("long").as("_ng"),
        explode(col("grams")).as("gram"))
      .withColumn("gh", xxhash64(col("gram")))
    val dfreq = g.groupBy(col("gh")).agg(count(lit(1)).as("_df"))
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("_df"), col("gram"))
    // cached: BOTH sides of the candidate self-join read it, and only the
    // exchange (not the window computation above it) is reused otherwise
    // The 1e-9 nudges guard sub-ulp float error in t·|x| for thresholds
    // that aren't exactly representable (0.5 is; 0.3 isn't): both shift
    // in the CONSERVATIVE direction — a longer prefix / looser size
    // filter only ADDS candidates, which the exact rescore discards;
    // the other direction could silently drop a boundary-true pair.
    val prefix = Caches.track(g.join(dfreq, Seq("gh")) // reuses the groupBy exchange
      .withColumn("_rk", row_number().over(wRank))
      .filter(col("_rk") <=
        col("_ng") - ceil(lit(threshold) * col("_ng") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("_ng"), col("gh")))
    prefix.select(col("doc_id").as("doc_a"), col("_ng").as("_na"), col("gh"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("_ng").as("_nb"), col("gh")),
        Seq("gh"))
      .filter(col("doc_a") < col("doc_b") &&
        col("_nb") >= lit(threshold) * col("_na") - lit(1e-9) &&
        col("_na") >= lit(threshold) * col("_nb") - lit(1e-9))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Per-row minhash signature over a token array: ONE interpreted pass
    * (`aggregate` + `zip_with`) computes all k minima — the md5 per gram
    * is evaluated once regardless of k, and because it's a row-local
    * expression the token stream NEVER shuffles (the explode + groupBy
    * formulation this replaced added a whole shuffle stage whose only
    * payload was the signature table). Also the form the streaming twin
    * needs: a streaming query can't chain a groupBy signature aggregate
    * in front of its stateful banding operator. */
  private[graft] def minhashSigCol(toks: Column, k: Int): Column = {
    require(k <= minhashAB.size)
    val consts = array(minhashAB.take(k).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    aggregate(
      transform(shingles(toks, 3),
        g => conv(substring(md5(g), 1, 7), 16, 10).cast("long")),
      array_repeat(lit(MinhashM), k), // M > any (h*a+b) % M
      (acc, h) => zip_with(acc, consts,
        (m, c) => least(m, (h * c.getField("a") + c.getField("b")) % lit(MinhashM))))
  }

  /** MinHash signatures: portable md5-based base hash + affine family,
    * one row-local array aggregate per doc ([[minhashSigCol]]). The
    * mh_i extraction sits in a SEPARATE projection: CollapseProject
    * won't inline a non-cheap expression referenced k times, so the
    * signature evaluates once per row (spec-pinned from the plan). */
  def minhashSignatures(s: SparkSession, dir: String, k: Int = 12): DataFrame = {
    val sigArr = docsSpread(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), minhashSigCol(col("t"), k).as("sig"))
    sigArr.select(col("doc_id") +:
      (0 until k).map(i => element_at(col("sig"), i + 1).as(s"mh_$i")): _*)
  }

  /** LSH band keys as an array of (band, key) structs, shared by the
    * batch self-join and the streaming twin so both derive byte-identical
    * bucket keys from one definition (band count, order, separator). The
    * caller supplies how to reach the i-th minhash — `mh_i` columns on
    * the batch side, `element_at(sig, i+1)` on the streaming side. */
  private[graft] def bandKeyStructs(mh: Int => Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    array((0 until bands).map { bd =>
      struct(lit(bd).as("band"),
        concat_ws("_", (0 until r).map(j => mh(bd * r + j)): _*).as("key"))
    }: _*)
  }

  // q27 — MinHash + LSH banding near-dup candidates: b bands of r rows;
  // docs agreeing on ALL r minhashes in any band land in the same bucket
  // (bucket-keyed self-join — the O(n²)-free scale path). Estimated
  // similarity = fraction of the k minhashes that agree.
  def minhashLshPairs(s: SparkSession, dir: String,
                      k: Int = 12, bands: Int = 4): DataFrame = {
    // cached: signatures feed both band-join sides AND the final
    // agreement rescoring; released via Caches.release()
    val sig = Caches.track(minhashSignatures(s, dir, k))
    val banded = sig
      .select(col("doc_id"),
        explode(bandKeyStructs(i => col(s"mh_$i"), k, bands)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
    val cand = banded.as("x").join(banded.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val mhEq = (0 until k).map(i =>
      when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("est_jaccard", mhEq.cast("double") / lit(k.toDouble))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q43 — embedding-cosine near-dup pairs, LSH-banded (the brief's
    * "embedding-cosine near-dup" dedup modality). Candidate pairs come
    * from a random-hyperplane sketch banded into `bands` keys of
    * `bits/bands` sign bits each — a bucket-keyed equi self-join, NEVER
    * an all-pairs cross join — and only bucket-mates are exact-rescored.
    * At 100 TB the candidate volume per band bucket is ~n/2^(bits/bands),
    * tunable by bits-per-band; the earlier exact formulation (kept below
    * as [[embeddingNearDupPairsExact]]) is O(n²) and exists only as the
    * recall baseline for specs.
    *
    * Recall < 1 by construction and is mirrored EXACTLY in the DuckDB
    * oracle: the same md5-derived hyperplane family (Similarity.planeCoef)
    * is embedded literally in the oracle SQL, so both engines generate
    * the identical candidate set and make identical include/exclude
    * decisions on the 4dp-ROUNDED cosine. Note the synthetic testdata's
    * near-dups sit at cosine 0.40-0.60 (weak cluster structure), where
    * sign-bit agreement is only ~0.63/plane — on a real corpus a near-dup
    * threshold of 0.9+ concentrates agreement near 1 and supports many
    * more bits per band. */
  def embeddingNearDupPairs(s: SparkSession, dir: String,
                            threshold: Double = 0.40, bits: Int = 32,
                            bands: Int = 8, dim: Int = 64): DataFrame =
    // sort-last, cache-free: the sampling re-execution reads the banded
    // cache; cluster consumers (q70) enter the Raw form
    embeddingNearDupPairsRaw(s, dir, threshold, bits, bands, dim)
      .orderBy(col("vec_a"), col("vec_b"))

  /** [[embeddingNearDupPairs]] WITHOUT the final oracle sort — the entry
    * for consumers that only aggregate the pairs (cluster labeling). */
  private[graft] def embeddingNearDupPairsRaw(
      s: SparkSession, dir: String,
      threshold: Double = 0.40, bits: Int = 32,
      bands: Int = 8, dim: Int = 64): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    graft.GraftExtensions.install(s)
    import graft.functions.VectorFunctions.dotNative
    // per-vector norm computed ONCE here (sqrt(dot(v,v)) is the same
    // double wherever computed, so the per-pair cosine stays bit-equal
    // to the oracle while rescoring does one dot per pair, not three)
    val e = Similarity.hyperplaneSketch(
      Tables.spreadTable(s, dir, "embeddings", col("vec_id")).select(col("vec_id"), col("embedding")),
      "embedding", bits, dim)
      .withColumn("_norm", sqrt(dotNative(col("embedding"), col("embedding"))))
    // cached: the sketch/norm projection feeds BOTH sides of the bucket
    // self-join; released via Caches.release()
    val banded = Caches.track(
      e.select(col("vec_id"), col("embedding"), col("_norm"),
        explode(sketchBandStructs(col("sketch"), bits, bands)).as("b"))
        .select(col("vec_id"), col("embedding"), col("_norm"),
          col("b.band").as("band"), col("b.key").as("key")))
    val cand = banded.as("a").join(banded.as("b"), Seq("band", "key"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.embedding").as("va"), col("b.embedding").as("vb"),
        col("a._norm").as("_na"), col("b._norm").as("_nb"))
      .dropDuplicates("vec_a", "vec_b")
    cand
      .withColumn("cosine",
        round(dotNative(col("va"), col("vb")) / (col("_na") * col("_nb")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** q70 — embedding dedup CLUSTER assignment: connected components over
    * the semantic near-dup pair graph (edges = [[embeddingNearDupPairs]],
    * q43), one row per vector with its component keeper (min vec_id) and
    * cluster size — q51's transitive collapse applied to the embedding
    * modality. Pairs alone don't dedup re-worded copies: A≈B≈C chains
    * must yield ONE keeper even when cos(A,C) falls below the threshold,
    * which is exactly the cluster semantics ([[connectedComponents]] for
    * the algorithm and its scale story; same bounded-local / distributed
    * pointer-jumping machinery as the lexical clusters). */
  def embeddingDedupClusters(s: SparkSession, dir: String,
                             threshold: Double = 0.40,
                             maxIter: Int = 50): DataFrame =
    clusterLabels(
      embeddingNearDupPairsRaw(s, dir, threshold)
        .select(col("vec_a"), col("vec_b")),
      Tables(s, dir, "embeddings").select(col("vec_id").as("doc_id")),
      maxIter)
      .select(col("doc_id").as("vec_id"), col("keeper_id"), col("cluster_size"))

  /** Exact O(n²) variant of [[embeddingNearDupPairs]] — the recall
    * baseline for specs ONLY; never wire this into a shipped query (the
    * cross join is a cartesian death sentence at corpus scale). */
  def embeddingNearDupPairsExact(s: SparkSession, dir: String,
                                 threshold: Double = 0.40): DataFrame = {
    graft.GraftExtensions.install(s)
    import graft.functions.VectorFunctions.cosineNative
    val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", round(cosineNative(col("va"), col("vb")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Connected components over an undirected pair list — one
    * `(doc_id, label)` row per node OF THE SUBGRAPH, `label` = the
    * component's minimum id. `pairs` must have two long id columns
    * (first two columns are taken as the endpoints, one row per edge).
    *
    * Algorithm: min-label propagation ACCELERATED WITH POINTER JUMPING —
    * each round every node takes the min of (its label, its neighbors'
    * labels, **its label's label**). The last term is the union-find
    * path-halving shortcut: label chains collapse exponentially, so a
    * component converges in O(log diameter) rounds instead of
    * O(diameter) — a 1000-link template-spam chain needs ~10 rounds, not
    * 1000 (the round-3 engine hard-aborted at diameter > 20; the same
    * O(log) bound is what the large-star/small-star edge rewriting
    * achieves, at the cost of rewriting the edge SET each round — the
    * jump table here is one extra subgraph-sized self-join instead).
    * Every round runs exactly ONE action (the convergence count rides on
    * the same aggregate that produces the next labeling); every 5 rounds
    * the labeling is `localCheckpoint`ed so lineage depth — and with it
    * stage-retry cost — stays bounded regardless of round count. Peak
    * storage is two label tables plus the static edge cache.
    *
    * SMALL-SUBGRAPH SHORTCUT: candidate-pair subgraphs are a corpus
    * FRACTION by construction (only near-dups produce edges), and a
    * distributed round has a fixed multi-job overhead that dwarfs the
    * work when the subgraph is thousands of nodes. When the measured
    * edge count fits comfortably on the driver
    * (`localSolveMaxEdges`, default 2²⁰ edges ≈ 16 MB) the labeling is
    * computed by an exact in-memory union-find instead — the same move
    * AQE makes when it shrinks a planned shuffle join to a local one.
    * Both paths produce the identical component-min labeling; pass
    * `localSolveMaxEdges = 0` to force the distributed loop (specs do). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          localSolveMaxEdges: Long = 1L << 20): DataFrame =
    connectedComponentsCounted(pairs, maxIter, localSolveMaxEdges)._1

  /** [[connectedComponents]] plus the DISTRIBUTED round count actually
    * executed (0 when the small-subgraph local path answered) — the
    * measured side of the O(log diameter) pointer-jumping claim, gated
    * at 10× with planted chains by `tools/SoakScale`. */
  private[graft] def connectedComponentsCounted(
      pairs: DataFrame, maxIter: Int = 50,
      localSolveMaxEdges: Long = 1L << 20): (DataFrame, Int) = {
    val Seq(a, b) = pairs.columns.take(2).toSeq.map(col)
    val directedPlan = pairs.select(a.as("src"), b.as("dst"))
    if (localSolveMaxEdges > 0) {
      // ONE bounded pass decides the path AND delivers the edges: collect
      // at most maxEdges+1 directed rows. The previous shape (cache the
      // pair list, count it, then collect from the cache) materialized a
      // cache stacked on the pipeline's inner docGram/capped caches, and
      // that nested materialization measured ~2.5× the pipeline's own
      // cost; the limit also caps driver memory no matter how big the
      // subgraph really is (an oversized probe just falls through).
      val lim = math.min(localSolveMaxEdges + 1, Int.MaxValue.toLong).toInt
      val probe = directedPlan.limit(lim).collect()
      if (probe.length < lim)
        return (localComponents(probe, pairs.sparkSession), 0)
    }
    // distributed path: materialize the DIRECTED pair list once and
    // derive the symmetric edge list from it (materializing the union
    // instead would evaluate the expensive pair plan — q26's whole
    // candidate+rescore pipeline — once per union branch).
    // localCheckpoint, not a plain cache: the edge list feeds TWO joins
    // in EVERY round, so each round's logical plan would otherwise
    // embed the whole candidate-generation pipeline twice — between
    // label checkpoints that nests ~3⁵ copies, and merely RENDERING
    // that plan (Spark builds the SQL-event plan description for every
    // action) OOMed the driver on a 1000-link chain soak before any
    // task ran. Truncating lineage at the materialized edge blocks
    // makes every round's plan O(round state), independent of how
    // expensive the pair pipeline was. Trade, same as the label
    // checkpoints below: an unpersisted edge block cannot recompute —
    // release caches only after materializing results, which is the
    // existing Caches contract.
    val directed = Caches.register(directedPlan.localCheckpoint())
    val edges = directed.unionByName(
      directed.select(col("dst").as("src"), col("src").as("dst")))
    // iterate ONLY over the pair subgraph — docs in no pair can never
    // change label, so propagating over the full corpus would shuffle
    // every doc id per round for nothing; near-dup subgraphs are a tiny
    // fraction of any real corpus
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .persist()
    labels.count() // materialize before the loop's twin subtree reads
    var cached = labels // the persisted handle superseded next round
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neigh = edges.join(labels, edges("dst") === labels("doc_id"))
        .select(col("src").as("doc_id"), col("label"))
      // pointer jump: adopt my label's label. Labels are always subgraph
      // node ids, so the probe side is the labeling itself.
      val jump = labels.as("l")
        .join(labels.as("p"), col("l.label") === col("p.doc_id"))
        .select(col("l.doc_id").as("doc_id"), col("p.label").as("label"))
      // the old label rides along as `_old` (non-null exactly once per
      // doc — min() ignores the null arms) so convergence is read off
      // THIS aggregate's output: one action per round, not a separate
      // join+count job
      val nullOld = lit(null).cast("long")
      val next = labels.select(col("doc_id"), col("label"), col("label").as("_old"))
        .unionByName(neigh.withColumn("_old", nullOld))
        .unionByName(jump.withColumn("_old", nullOld))
        .groupBy(col("doc_id"))
        .agg(min(col("label")).as("label"), min(col("_old")).as("_old"))
        .persist()
      changed = next.filter(col("label") =!= col("_old")).count()
      cached.unpersist(blocking = false)
      cached = next
      labels = next.select(col("doc_id"), col("label"))
      iter += 1
      if (changed > 0 && iter % 5 == 0) {
        // truncate lineage: each round's plan nests the previous one's;
        // without a cut, a late-stage task retry replays every round
        labels = labels.localCheckpoint()
        cached.unpersist(blocking = false)
        cached = labels
      }
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "with pointer jumping that means component diameter ~2^maxIter, " +
        "which indicates corrupt edge input, not a real graph")
    // the final round's persisted state backs the returned labeling —
    // hand it to the registry so the library caller's release() drops it
    Caches.register(cached)
    (labels, iter)
  }

  /** Driver-side exact union-find over (small, pre-collected) DIRECTED
    * edge rows — the [[connectedComponents]] small-subgraph path (union
    * is symmetric, so one direction per pair suffices). Union always
    * points the LARGER root at the smaller, so every root IS its
    * component minimum; path compression keeps finds amortized ~O(1). */
  private def localComponents(edgeRows: Array[org.apache.spark.sql.Row],
                              spark: SparkSession): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // halve the path as we walk it
        val gp = parent.getOrElse(p, p)
        parent(x) = gp
        x = p
        p = gp
      }
      x
    }
    val nodes = scala.collection.mutable.HashSet.empty[Long]
    edgeRows.foreach { r =>
      val (s, d) = (r.getLong(0), r.getLong(1))
      nodes += s
      nodes += d
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
    }
    import spark.implicits._
    nodes.toSeq.sorted.map(n => (n, find(n))).toDF("doc_id", "label")
  }

  /** q51 — dedup CLUSTER assignment: connected components over the
    * near-dup pair graph (edges = [[ngramJaccardPairsCapped]] pairs),
    * one row per document with its component keeper (min doc_id) and
    * cluster size. Pairs alone don't dedup a corpus — transitive
    * near-dups (A~B, B~C) must collapse to ONE keeper, which is exactly
    * connected components ([[connectedComponents]] for the algorithm and
    * its scale story). */
  def dedupClusters(s: SparkSession, dir: String, threshold: Double = 0.5,
                    maxDocFreq: Long = 100, maxIter: Int = 50): DataFrame =
    dedupClustersFor(docsSpread(s, dir), threshold, maxDocFreq, maxIter)

  /** [[dedupClusters]] over ANY (doc_id, text) frame — edges and the
    * singleton-completion corpus both come from the passed frame, so a
    * composed pipeline gets cluster labels for exactly its surviving
    * documents (not the raw table). */
  def dedupClustersFor(documents: DataFrame, threshold: Double = 0.5,
                       maxDocFreq: Long = 100, maxIter: Int = 50): DataFrame =
    dedupClustersTok(
      documents.select(col("doc_id"), tokens(col("text")).as("t")),
      threshold, maxDocFreq, maxIter)

  /** [[dedupClustersFor]] over a PRE-TOKENIZED (doc_id, t) frame — the
    * singleton-completion corpus only needs doc_ids, so the token frame
    * serves both roles and the texts are never re-split. Pairs come from
    * the UNSORTED candidate pipeline ([[ngramJaccardPairsCappedTokRaw]]):
    * components don't read pair order, and the sorted variant's range
    * sampling would re-execute the whole rescore subtree. */
  def dedupClustersTok(docToks: DataFrame, threshold: Double = 0.5,
                       maxDocFreq: Long = 100, maxIter: Int = 50): DataFrame =
    clusterLabels(
      ngramJaccardPairsCappedTokRaw(docToks, threshold, maxDocFreq)
        .select(col("doc_a"), col("doc_b")),
      docToks, maxIter)

  /** doc_ids a near-dup cluster pass REMOVES: every pair-subgraph node
    * whose component label isn't itself. The composed pipeline anti-joins
    * this set against its survivor frame — the full [[clusterLabels]]
    * output (corpus left join, cluster sizes, global sort) is q51's
    * reporting shape, all waste when the consumer only drops losers. */
  private[graft] def nonKeepers(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponents(pairs, maxIter)
      .filter(col("doc_id") =!= col("label"))
      .select(col("doc_id"))

  /** Shared tail of the cluster operators: component labeling of the pair
    * subgraph + singleton completion against `corpus`. */
  private def clusterLabels(pairs: DataFrame, corpus: DataFrame,
                            maxIter: Int): DataFrame = {
    val converged = Caches.track(connectedComponents(pairs, maxIter))
    // cluster sizes need only the SUBGRAPH labeling (every subgraph doc
    // is in ≥1 pair; docs outside it are singletons of size 1 by
    // definition) — so the corpus-sized groupBy disappears and the
    // corpus is scanned exactly once, in the final left join
    val sizes = converged.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    val labeled = converged.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("keeper_id"), col("cluster_size"))
    corpus.select(col("doc_id"))
      .join(labeled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper_id"), col("doc_id")).as("keeper_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** q28 — SimHash near-dup pairs over a 60-bit signature of
    * md5-derived per-token hashes (graft.plans.SimHashMd5: ONE native
    * codegen'd expression per document — single pass over the token
    * array, zero shuffle). The md5 hash family is PORTABLE, so the
    * whole pipeline (signature → banding → hamming) is mirrored in the
    * DuckDB oracle; the xxhash64-based [[graft.plans.SimHash64]] stays
    * available as the faster non-portable variant. Near-dups = pairs
    * sharing a 15-bit band with overall Hamming distance ≤ maxHamming
    * (banding: distance ≤ 3 guarantees a shared band among 4 bands). */
  def simhashPairs(s: SparkSession, dir: String,
                   maxHamming: Int = 6): DataFrame = {
    graft.GraftExtensions.install(s)
    // cached: the md5-per-token signature is the dominant per-row cost
    // (hence the spread scan) and feeds BOTH sides of the band
    // self-join; released via Caches.release()
    val sh = Caches.track(docsSpread(s, dir)
      .select(col("doc_id"),
        call_function("simhash_md5_60", tokens(col("text"))).as("simhash")))
    // 4 bands of 15 bits
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(bd =>
        struct(lit(bd).as("band"),
          shiftright(col("simhash"), bd * 15).bitwiseAND(0x7FFFL).as("key"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band").as("band"), col("b.key").as("key"))
    val hamming = {
      val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
      bit_count(x).cast("long")
    }
    val candA = banded.as("a")
    val candB = banded.as("b")
    candA.join(candB, Seq("band", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q65/q68/q75/q78 — INCREMENTAL dedup: classify a NEW document batch
    * against an EXISTING corpus — the shape production dedup actually
    * runs day over day (a crawl delta lands; nobody re-dedups 100 TB
    * from scratch). The batch is [[Modality.splitBucket]] 4 (~20%), the
    * corpus the rest: a portable hash rule, so the oracle reproduces
    * membership exactly. `mods` picks the tiers (q65: Text; q68: + the
    * Embedding; q75: + Image; q78: all five modalities); precedence is
    * the modality table's, see [[classify]].
    *
    * Scale shape: each modality's side is ONE cached per-row projection
    * carrying the split flag, read by both sides of its tier joins;
    * every join is keyed (content hash / band key) with the SMALL batch
    * side — at production scale the corpus side is a precomputed index
    * and AQE broadcasts the batch, so the corpus is never shuffled, let
    * alone self-joined, and candidate volume is |batch|-proportional.
    * Production deployment: persist the corpus sides as [[DedupIndex]]'s
    * bucketed tables — every tier then probes with ZERO index-side
    * shuffle (plan-asserted in DedupIndexSpec). */
  def incrementalDedup(s: SparkSession, dir: String,
                       mods: Seq[Modality]): DataFrame = {
    val flagged = mods.map(m => m -> Caches.track(
      m.side(s, dir, lit(true)).withColumn("_new", Modality.splitBucket === 4)))
    def half(isNew: Column) =
      flagged.map { case (m, df) => m -> df.filter(isNew).drop("_new") }.toMap
    classify(half(col("_new")), half(!col("_new")))
  }

  /** Classify each `batch` doc against `corpus`, both given as
    * [[Modality]] sides: (doc_id, status, match_id), unsorted. Every
    * modality's tiers fold through ONE [[verdictTiers]] in the
    * modality table's precedence (exact > near > near_embedding >
    * near_image > near_audio > near_video > new); `match_id` is the
    * smallest matching corpus doc_id of the winning tier, NULL for
    * `new`. Batch ids come from the highest-precedence side; a doc with
    * no row on some lower side simply can't match that tier. Shared by
    * the declared queries and per-micro-batch ingest (a cached corpus
    * side is the in-memory index; [[refreshed]] keeps it current), so
    * batch and continuous ingest can't drift. */
  def classify(batch: Map[Modality, DataFrame],
               corpus: Map[Modality, DataFrame]): DataFrame = {
    val mods = Modality.ordered(batch.keys)
    verdictTiers(batch(mods.head).select(col("doc_id")),
      mods.flatMap(m => m.tiers(batch(m), corpus(m))))
  }

  /** Fold a classified batch's `new` survivors into existing index sides
    * WITHOUT a full corpus rebuild — the day-over-day loop (classify →
    * refresh → tomorrow's batch). Only `new` verdicts enter, on every
    * side: no tier matched them, so every tier must be able to probe
    * them tomorrow; exact/near matches are represented by their corpus
    * copy. Exact by construction: each side is a pure per-row
    * projection, so `index(C) ∪ side(B_new) ≡ index(C ∪ B_new)` — the
    * refresh duality specs prove classify-after-refresh equals the
    * one-shot classification end to end.
    *
    * The unions are lazy and cost |B_new| rows; the deliberate act is
    * the cache swap (persist the returned sides, unpersist the old) or
    * the durable form, [[DedupIndex.append]]. A streaming query picks up
    * a new static side on restart. */
  def refreshed(index: Map[Modality, DataFrame], batch: Map[Modality, DataFrame],
                verdicts: DataFrame): Map[Modality, DataFrame] = {
    val newIds = verdicts.filter(col("status") === "new").select("doc_id")
    index.map { case (m, idx) => m -> idx.unionByName(batch(m).join(newIds, Seq("doc_id"))) }
  }

  /** (doc_id, _h, sig) projection over a (doc_id, text) frame: content
    * hash + [[Modality.Text]]'s k-minhash signature (null for <3-token
    * docs) — the Text side. Pure per-row, no shuffle; two-step
    * projection so the token split evaluates once (CollapseProject
    * keeps a non-cheap alias referenced twice). */
  def hashSigProjection(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("_h"),
        tokens(col("text")).as("_t"))
      .select(col("doc_id"), col("_h"),
        when(size(col("_t")) >= 3, minhashSigCol(col("_t"), Modality.Text.K)).as("sig"))

  /** (band, key) structs over a packed sign-bit sketch — `bands` keys of
    * `bits/bands` bits each; the banding every hyperplane-sketch
    * consumer (q43, the embedding tier, the bucketed index) derives
    * from ONE definition so bucket keys can't drift between the
    * in-memory and stored-index paths. */
  private[graft] def sketchBandStructs(sketch: Column, bits: Int,
                                       bands: Int): Column = {
    require(bits % bands == 0, "bands must divide bits")
    val r = bits / bands
    val mask = (1L << r) - 1
    array((0 until bands).map(bd =>
      struct(lit(bd).as("band"),
        shiftright(sketch, bd * r).bitwiseAND(mask).as("key"))): _*)
  }

  /** (doc_id, embedding, sketch, _norm) projection over a
    * (doc_id, embedding) frame — the Embedding side
    * ([[hashSigProjection]]'s vector twin). Pure per-row; a production
    * deployment precomputes this once over the corpus. */
  def embSketchProjection(vecs: DataFrame, bits: Int = 32,
                          dim: Int = 64): DataFrame = {
    graft.GraftExtensions.install(vecs.sparkSession)
    import graft.functions.VectorFunctions.dotNative
    Similarity.hyperplaneSketch(vecs, "embedding", bits, dim)
      .withColumn("_norm", sqrt(dotNative(col("embedding"), col("embedding"))))
  }

  /** (band, key) structs partitioning a 64-bit hash into 8 bands of
    * STRIDE-INTERLEAVED bits — band b holds bits {b, b+8, …, b+56}.
    * Still a disjoint 8-partition, so the hamming-≤7 pigeonhole
    * exactness argument is identical to [[sketchBandStructs]]'s; the
    * difference is purely candidate VOLUME for hashes whose adjacent
    * bits are correlated. The q76 audio fingerprint codes adjacent
    * time blocks differentially, so its bits come in runs — contiguous
    * byte bands then agree far above the uniform 2⁻⁸ rate (the 10×
    * soak measured ~5.7× the analytic bound), while stride-8 sampling
    * picks near-independent distant bits and restores it. */
  private[graft] def interleavedBandStructs(hash: Column): Column =
    array((0 until 8).map { bd =>
      val key = (0 until 8).map { j =>
        shiftright(hash, bd + 8 * j).bitwiseAND(lit(1L)) * lit(1L << j)
      }.reduce(_ + _)
      struct(lit(bd).as("band"), key.as("key"))
    }: _*)

  /** GENERIC tier fold: left-join each tier's (doc_id, <idCol>) frame
    * onto the batch ids and fold status/match_id in DECLARED ORDER —
    * the single precedence definition every classifier shape
    * (in-memory, stored-index, streaming) derives from. `tiers` is an
    * ordered (status, idCol, frame) list, highest precedence first. */
  private[graft] def verdictTiers(batchIds: DataFrame,
                                  tiers: Seq[(String, String, DataFrame)]): DataFrame = {
    val joined = tiers.foldLeft(batchIds) { case (acc, (_, _, frame)) =>
      acc.join(frame, Seq("doc_id"), "left")
    }
    val status = tiers.foldRight(lit("new")) { case ((st, idCol, _), rest) =>
      when(col(idCol).isNotNull, st).otherwise(rest)
    }
    joined.select(col("doc_id"), status.as("status"),
      coalesce(tiers.map { case (_, idCol, _) => col(idCol) }: _*)
        .as("match_id"))
  }

  /** q94 — quality-aware CANONICAL selection per near-dup cluster: the
    * op that turns q51's cluster labels into the keep/drop list a
    * training pipeline actually applies. q51's `keeper_id` (min doc_id)
    * is a fine cluster LABEL but a bad retention POLICY — the member a
    * pipeline keeps should be the best document, not the one that
    * happened to get the smallest id. Canonical = argmax of
    * (quality_ok, n_tokens, −doc_id) within each component: the q24
    * quality gate first ([[TextOps.qualityOk]] — ONE definition, shared
    * so the gate can't drift), token count as the richness tiebreak,
    * min doc_id as the total-order anchor. Every term is exact integer
    * or IEEE-identical derived math, so the DuckDB oracle replays the
    * ordering bit-for-bit via a window rank.
    *
    * Scale shape: labels cost exactly what q51 costs; the argmax
    * aggregation runs ONLY over multi-doc-cluster members (near-dup
    * docs — a small fraction of any real corpus), one partial-agg
    * shuffle bounded by pair-subgraph size; the canonical table joins
    * back to the corpus-sized label frame on cluster_id — broadcast in
    * practice, plain hash join in the adversarial case. Singletons
    * never enter the argmax: their canonical is themselves via the
    * null-fill, so the corpus pays one broadcast probe per row and
    * nothing else. */
  def clusterCanonical(s: SparkSession, dir: String, threshold: Double = 0.5,
                       maxDocFreq: Long = 100, maxIter: Int = 50): DataFrame =
    clusterCanonicalFor(docsSpread(s, dir), threshold, maxDocFreq, maxIter)

  /** [[clusterCanonical]] over any (doc_id, text) frame — specs plant
    * clusters where the canonical is NOT the min-id member through the
    * real pair pipeline. */
  def clusterCanonicalFor(documents: DataFrame, threshold: Double = 0.5,
                          maxDocFreq: Long = 100, maxIter: Int = 50): DataFrame = {
    val clusters = dedupClustersFor(documents, threshold, maxDocFreq, maxIter)
      .withColumnRenamed("keeper_id", "cluster_id")
    // q24's derived stats, inline (qualityScoreFor's trailing global
    // sort is oracle-shape, not wanted under a join)
    val nTok = tokenCount(col("text"))
    val metrics = documents.select(
      col("doc_id"), nTok.as("n_tokens"),
      TextOps.qualityOk(nTok,
        distinctTokenCount(col("text")).cast("double") / nTok,
        (length(col("text")).cast("long") - (nTok - lit(1L))).cast("double") / nTok)
        .cast("int").as("quality_ok"))
    val canon = clusters.filter(col("cluster_size") > 1)
      .join(metrics, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(col("quality_ok"), col("n_tokens"), -col("doc_id"))).as("_canon"))
    clusters.join(canon, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        coalesce(col("_canon"), col("doc_id")).as("canonical_id"))
      .withColumn("action",
        when(col("doc_id") === col("canonical_id"), lit("keep")).otherwise(lit("drop")))
      .orderBy(col("doc_id"))
  }

  /** q98 — MinHash ESTIMATOR CALIBRATION: the contingency table of
    * banded-signature agreement (0..k matching minima) against exact
    * n-gram jaccard deciles over the capped candidate pairs — the
    * table an operator reads before trusting an LSH threshold at
    * 100 TB (is 6-of-12 agreement really ≈ jaccard 0.5 on THIS
    * corpus?). Pure integers end to end: `agree` is a sum of k
    * equality indicators over the q27 signature, the decile is
    * `(n_common × 10) div union` — so the DuckDB oracle replays every
    * cell exactly (same md5 base hash, same affine family, same capped
    * candidate semantics at the wider calibration threshold 0.25).
    *
    * Scale shape: candidates and exact scores are
    * [[ngramJaccardPairsCappedTokRaw]]'s (one gram-hash shuffle +
    * upper-bound prune); signatures are the per-row
    * [[minhashSigCol]] projection joined in on doc id —
    * pair-volume-proportional, and the k agreement indicators unroll
    * to codegen'd comparisons, never an interpreted HOF over the
    * signature arrays. Output is ≤ (k+1)×9 rows. */
  def minhashCalibration(s: SparkSession, dir: String,
                         threshold: Double = 0.25,
                         maxDocFreq: Long = 100, k: Int = 12): DataFrame =
    minhashCalibrationFor(docsSpread(s, dir), threshold, maxDocFreq, k)

  /** [[minhashCalibration]] over any (doc_id, text) frame. */
  def minhashCalibrationFor(documents: DataFrame,
                            threshold: Double = 0.25,
                            maxDocFreq: Long = 100, k: Int = 12): DataFrame = {
    val docToks = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    val pairs = ngramJaccardPairsCappedTokRaw(docToks, threshold, maxDocFreq)
    val sigs = docToks.filter(size(col("t")) >= 3)
      .select(col("doc_id"), minhashSigCol(col("t"), k).as("_sig"))
    val agree = (1 to k).map(i =>
      when(element_at(col("_sa"), i) === element_at(col("_sb"), i), 1L)
        .otherwise(0L)).reduce(_ + _)
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("_sig").as("_sa")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("_sig").as("_sb")), Seq("doc_b"))
      .withColumn("agree", agree)
      .withColumn("jaccard_decile",
        expr("(n_common * 10) div (ng_a + ng_b - n_common)"))
      .groupBy(col("agree"), col("jaccard_decile"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("agree"), col("jaccard_decile"))
  }
}
