package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal.MediaCodec
import graft.sources.Tables

/** One row of the incremental-dedup MODALITY TABLE. Every classifier
  * shape is one function over a list of these entries: in memory
  * ([[Dedup.classify]]), against the stored index
  * ([[DedupIndex.classify]]), and per micro-batch (either of them run
  * through [[graft.streaming.Ingest.probe]]). Each entry states once:
  *  - its SIDE — the per-row frame every tier reads: [[project]] over a
  *    caller's (doc_id, payload) frame, [[side]] over the `dir` tables
  *    with the id filter applied BEFORE any projection or decode;
  *  - its in-memory TIERS, batch side against corpus side;
  *  - its STORED tables, each with its bucket key, its banded rows and
  *    its probe.
  * The `rank` is verdict PRECEDENCE (exact > near > near_embedding >
  * near_image > near_audio > near_video > new), whatever order a caller
  * lists the entries in. Thresholds are constants of their entry; the
  * DuckDB oracle (`SparkEntry.incrementalDedupTieredSql`) hard-codes the
  * same values.
  *
  * The band entries also drive the six near-dup PAIR queries, each one
  * [[Modality.Stored.selfPairs]] over its side: q27 (Text, unthresholded),
  * q43 (Embedding), q73/q76/q77 (Image, Audio, Video) and q28, whose
  * SimHash entry is no verdict tier ([[Dedup.simhashPairs]]); and q31's
  * top-k candidates, [[Modality.Stored.queryPairs]] of a 16-bit
  * Embedding entry. */
sealed abstract class Modality(val rank: Int) {

  /** A caller's (doc_id, payload) frame as this modality's side. */
  def project(raw: DataFrame): DataFrame = raw

  /** This modality's side over the `dir` tables, restricted to the doc
    * ids `ids` accepts (a predicate on `doc_id`). */
  def side(s: SparkSession, dir: String, ids: Column): DataFrame

  def stored: Seq[Modality.Stored]

  /** In-memory tiers: by default each stored table's probe, run against
    * the corpus side's rows instead of the table. */
  def tiers(batch: DataFrame, corpus: DataFrame): Seq[Modality.Tier] =
    stored.map(t => t.probe(batch, t.rows(corpus)))
}

object Modality {

  /** (status, match-id column, (doc_id, match-id) frame): one input of
    * [[Dedup.verdictTiers]]. */
  type Tier = (String, String, DataFrame)

  /** One bucketed index table, `prefix + suffix`, bucketed and sorted on
    * `key`. `rows` builds its rows from a side; the verify `payload`
    * rides on every row, so candidate generation and rescoring are ONE
    * join on the bucket key — the stored side never needs a second,
    * doc_id-keyed lookup. `score` is the pair score over the payload
    * (read as `<col>_a` on one side, `<col>_b` on the other), named as
    * its pair query's column; `keep` is the tier's test on it. Both
    * batch-vs-corpus joins below keep the pairs `keep` accepts and
    * return each batch doc's smallest matching doc_id as `idCol`. */
  final case class Stored(suffix: String, key: Seq[String],
                          rows: DataFrame => DataFrame, payload: Seq[String],
                          score: Column, keep: Column => Column,
                          status: String, idCol: String) {
    private def payloadOf(df: DataFrame, id: String, tag: String, by: Seq[String]) =
      df.select((col("doc_id").as(id) +: by.map(col)) ++
        payload.map(p => col(p).as(p + tag)): _*)

    private def tier(pairs: DataFrame): Tier =
      (status, idCol, pairs.filter(keep(score))
        .groupBy(col("doc_id")).agg(min(col("_cid")).as(idCol)))

    /** A batch side against stored rows (the table, or [[rows]] of an
      * in-memory corpus side). */
    def probe(batch: DataFrame, stored: DataFrame): Tier =
      tier(payloadOf(rows(batch), "doc_id", "_a", key)
        .join(payloadOf(stored, "_cid", "_b", key), key))

    /** A batch side against an in-memory corpus side, without building
      * a banded copy of the corpus payload: [[candidates]] first, then
      * each side's payload looked up by doc_id. */
    def lookup(batch: DataFrame, corpus: DataFrame): Tier =
      tier(candidates(batch, corpus)
        .join(payloadOf(batch, "doc_id", "_a", Nil), Seq("doc_id"))
        .join(payloadOf(corpus, "_cid", "_b", Nil), Seq("_cid")))

    /** Distinct (doc_id, _cid) pairs of a batch and a corpus side that
      * share a key: the candidate stage of [[lookup]]. */
    def candidates(batch: DataFrame, corpus: DataFrame): DataFrame = {
      def keys(df: DataFrame) = rows(df).select((col("doc_id") +: key.map(col)): _*)
      keys(batch).as("x").join(keys(corpus).as("y"), key)
        .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("_cid"))
        .distinct()
    }

    /** THE band join of the pair queries: the key-sharing pairs of two
      * banded frames passing `test`, once, as (`a`, `b`, score). Rows
      * are scored before the `distinct`: it shuffles three columns only. */
    private def pairs(left: DataFrame, right: DataFrame, a: String, b: String,
                      test: Column): DataFrame =
      payloadOf(left, a, "_a", key).join(payloadOf(right, b, "_b", key), key)
        .filter(test)
        .select(col(a), col(b), score).distinct()

    /** One side against itself: the pairs `a` < `b` passing `test`, the
      * one banded frame feeding both join sides. */
    private def sidePairs(side: DataFrame, a: String, b: String, test: Column): DataFrame = {
      val banded = rows(side)
      pairs(banded, banded, a, b, col(a) < col(b) && test)
    }

    /** Every pair of `side` sharing a key, unthresholded (q27). */
    def selfPairs(side: DataFrame, a: String, b: String): DataFrame =
      sidePairs(side, a, b, lit(true))

    /** The [[selfPairs]] that `keep` accepts (q28, q43, q73, q76, q77). */
    def nearPairs(side: DataFrame, a: String, b: String): DataFrame =
      sidePairs(side, a, b, keep(score))

    /** Every key-sharing pair of a query side (`a`) and a corpus side
      * (`b`) but a doc with itself, unthresholded: the candidates of
      * q31's top-k, scored. */
    def queryPairs(queries: DataFrame, corpus: DataFrame, a: String, b: String): DataFrame =
      pairs(rows(queries), rows(corpus), a, b, col(a) =!= col(b))
  }

  /** (doc_id, band, key, payload…) rows of a side: one row per struct of
    * `bands`, the payload along. */
  private[operators] def bandRows(side: DataFrame, bands: Column,
                                  payload: String*): DataFrame =
    side.select((col("doc_id") +: payload.map(col)) :+ explode(bands).as("b"): _*)
      .select(Seq(col("doc_id"), col("b.band").as("band"), col("b.key").as("key")) ++
        payload.map(col): _*)

  /** Hamming distance of the two sides' 64-bit `hash` payloads: the pair
    * score of q28's SimHash and of the perceptual entries. */
  private[operators] def hamming(hash: String): Column =
    bit_count(col(s"${hash}_a").bitwiseXOR(col(s"${hash}_b"))).cast("long").as("hamming")

  /** Content hash (exact tier) and MinHash LSH (near tier, q27's
    * signature family: 4 bands × 3 rows over 12 portable affine
    * minhashes, signature agreement ≥ 0.5). Side: [[Dedup.hashSigProjection]]. */
  case object Text extends Modality(0) {
    val K = 12
    val Bands = 4

    override def project(raw: DataFrame): DataFrame = Dedup.hashSigProjection(raw)

    def side(s: SparkSession, dir: String, ids: Column): DataFrame =
      project(TextOps.docsHeavy(s, dir).filter(ids))

    /** (doc_id, band, key, sig): banded minhash rows, signature along;
      * a null signature (<3 tokens) explodes to no rows. Not a filter:
      * Catalyst would push `sig IS NOT NULL` below the projection that
      * computes `sig` and evaluate the minhash twice per row. */
    def banded(side: DataFrame): DataFrame =
      bandRows(side, when(col("sig").isNotNull,
        Dedup.bandKeyStructs(i => element_at(col("sig"), i + 1), K, Bands)), "sig")

    private val agree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v))

    /** A shared content hash is the whole test: every candidate is kept. */
    val exact: Stored = Stored("_exact", Seq("_h"), _.select(col("doc_id"), col("_h")), Nil,
      lit(true).as("exact"), identity, "exact", "exact_id")

    /** The MinHash band; its score is q27's `est_jaccard`. */
    val band: Stored = Stored("_band", Seq("band", "key"), banded, Seq("sig"),
      (agree.cast("double") / lit(K.toDouble)).as("est_jaccard"), _ >= 0.5,
      "near", "near_id")

    val stored: Seq[Stored] = Seq(exact, band)

    override def tiers(batch: DataFrame, corpus: DataFrame): Seq[Tier] =
      Seq(exact.probe(batch, exact.rows(corpus)), band.lookup(batch, corpus))
  }

  /** Hyperplane-sketch LSH over the embeddings (q43's family made
    * batch→corpus: `bands` keys of `bits/bands` sign bits), rescored by
    * exact cosine at 4dp ≥ 0.40, the testdata's near-dup range. Side:
    * [[Dedup.embSketchProjection]]. `bits`, `dim` and `bands` size the
    * sketch to the vectors; the default entry fits the `dir` tables. */
  final case class Embedding(bits: Int = 32, dim: Int = 64, bands: Int = 8)
      extends Modality(1) {
    override def project(raw: DataFrame): DataFrame =
      Dedup.embSketchProjection(raw, bits, dim)

    def side(s: SparkSession, dir: String, ids: Column): DataFrame =
      project(Tables.spreadTable(s, dir, "embeddings", col("vec_id"))
        .select(col("vec_id").as("doc_id"), col("embedding")).filter(ids))

    /** (doc_id, band, key, embedding, _norm): banded sketch rows. */
    def banded(side: DataFrame): DataFrame =
      bandRows(side, Dedup.sketchBandStructs(col("sketch"), bits, bands), "embedding", "_norm")

    /** The sketch band; its score is q43's and q31's `cosine`. */
    val band: Stored = {
      import graft.functions.VectorFunctions.dotNative
      Stored("_emb", Seq("band", "key"), banded, Seq("embedding", "_norm"),
        round(dotNative(col("embedding_a"), col("embedding_b")) /
          (col("_norm_a") * col("_norm_b")), 4).as("cosine"),
        _ >= 0.40, "near_embedding", "emb_id")
    }

    val stored: Seq[Stored] = Seq(band)

    override def tiers(batch: DataFrame, corpus: DataFrame): Seq[Tier] =
      Seq(band.lookup(batch, corpus))
  }

  /** A perceptual-hash modality: one 64-bit hash per media doc of slot
    * `slot` (doc_id mod 3 fixes each doc's media kind, so the three
    * perceptual tiers never compete for a doc), cut into 8 disjoint
    * bands and rescored by Hamming distance ≤ `maxHamming`.
    *
    * Exact for maxHamming ≤ 7 by pigeonhole: two hashes differing in
    * ≤ 7 bits must agree on one of 8 disjoint bands, so the banding is a
    * pure optimization with zero recall trade (the q73/q76/q77 specs
    * prove equality with the brute-force O(n²) scan).
    *
    * Scale shape: `hash` makes each id's payload (the camera or the
    * microphone) and reduces it from its bytes alone inside the task, so
    * bytes never shuffle, only (id, 8-byte hash) rows do; the candidate
    * join is band-keyed, never all-pairs. A real deployment maps its
    * media catalog to ids and swaps the fixture payload for a fetch. */
  sealed abstract class Perceptual(rank: Int, val slot: Int, hashCol: String,
                                   maxHamming: Int, suffix: String,
                                   status: String, idCol: String,
                                   hash: Long => Long, bandStructs: Column => Column)
      extends Modality(rank) {

    /** (doc_id, hash) over an id set, one hash pass per partition; the
      * q79 side filters its ids BEFORE this pass, not after. */
    def hashed(s: SparkSession, ids: Dataset[Long]): DataFrame = {
      import s.implicits._
      val h = hash // ship the function, not this entry
      ids.mapPartitions(_.map(id => (id, h(id)))).toDF("doc_id", hashCol)
    }

    def side(s: SparkSession, dir: String, ids: Column): DataFrame = {
      import s.implicits._
      hashed(s, Tables.spread(Tables(s, dir, "documents").select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(3)) === slot && ids), col("doc_id")).as[Long])
    }

    /** (doc_id, band, key, hash): banded rows, the hash along. */
    def banded(side: DataFrame): DataFrame = bandRows(side, bandStructs(col(hashCol)), hashCol)

    val band: Stored = Stored(suffix, Seq("band", "key"), banded, Seq(hashCol),
      hamming(hashCol), _ <= maxHamming, status, idCol)

    val stored: Seq[Stored] = Seq(band)

    /** This entry's pair query (q73/q76/q77): every pair of the `dir`
      * side within `maxHamming`, sorted. The side is cached: it feeds
      * both sides of the band self-join. */
    def pairs(s: SparkSession, dir: String, a: String, b: String): DataFrame =
      band.nearPairs(Caches.track(side(s, dir, lit(true))), a, b).orderBy(a, b)
  }

  /** q73's PNG dHash under byte bands. */
  case object Image extends Perceptual(rank = 2, slot = 0, hashCol = "dhash",
    maxHamming = 6, suffix = "_img", status = "near_image", idCol = "img_id",
    hash = id => Multimodal.pngDHash(id, MediaCodec.pngNearFor(id)),
    bandStructs = Dedup.sketchBandStructs(_, 64, 8))

  /** q76's WAV fingerprint under stride-interleaved bands
    * ([[Dedup.interleavedBandStructs]]) and its measured threshold 4. */
  case object Audio extends Perceptual(rank = 3, slot = 1, hashCol = "afp",
    maxHamming = 4, suffix = "_afp", status = "near_audio", idCol = "afp_id",
    hash = id => MediaCodec.audioFingerprint64(MediaCodec.pcmSamples(MediaCodec.wavNearFor(id))),
    bandStructs = Dedup.interleavedBandStructs)

  /** q77's frame-averaged RAWV hash: spatial bits, so the image banding. */
  case object Video extends Perceptual(rank = 4, slot = 2, hashCol = "dhash",
    maxHamming = 6, suffix = "_vid", status = "near_video", idCol = "vid_id",
    hash = id => MediaCodec.vHash64(MediaCodec.rawvNearFor(id)),
    bandStructs = Dedup.sketchBandStructs(_, 64, 8))

  /** Every entry, in precedence order. */
  val all: Seq[Modality] = Seq(Text, Embedding(), Image, Audio, Video)

  def ordered(mods: Iterable[Modality]): Seq[Modality] = mods.toSeq.sortBy(_.rank)

  /** Sides of `mods` over the `dir` tables, restricted to `ids`. */
  def sides(s: SparkSession, dir: String, mods: Seq[Modality],
            ids: Column): Map[Modality, DataFrame] =
    mods.map(m => m -> m.side(s, dir, ids)).toMap

  /** Sides from a caller's own (doc_id, payload) frames. */
  def project(raw: (Modality, DataFrame)*): Map[Modality, DataFrame] =
    raw.map { case (m, df) => m -> m.project(df) }.toMap

  /** The portable split every incremental-dedup query shares, replayed
    * exactly by the oracles: bucket 4 is the batch (day 2 of the
    * append-probe queries), 3 is day 1, 0–2 the base corpus. */
  def splitBucket: Column = Sampling.hashBucket(col("doc_id"), 5)
}
