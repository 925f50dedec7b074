package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  * same values. */
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
    * doc_id-keyed lookup. Both joins below keep the pairs `keep`
    * accepts (it reads the payload as `<col>_a` on the batch side,
    * `<col>_b` on the corpus side) and return each batch doc's smallest
    * matching doc_id as `idCol`. */
  final case class Stored(suffix: String, key: Seq[String],
                          rows: DataFrame => DataFrame, payload: Seq[String],
                          keep: Column, status: String, idCol: String) {
    private def payloadOf(df: DataFrame, id: String, tag: String, by: Seq[String]) =
      df.select((col("doc_id").as(id) +: by.map(col)) ++
        payload.map(p => col(p).as(p + tag)): _*)

    private def tier(pairs: DataFrame): Tier =
      (status, idCol, pairs.filter(keep)
        .groupBy(col("doc_id")).agg(min(col("_cid")).as(idCol)))

    /** A batch side against stored rows (the table, or [[rows]] of an
      * in-memory corpus side). */
    def probe(batch: DataFrame, stored: DataFrame): Tier =
      tier(payloadOf(rows(batch), "doc_id", "_a", key)
        .join(payloadOf(stored, "_cid", "_b", key), key))

    /** A batch side against an in-memory corpus side, without building
      * a banded copy of the corpus payload: distinct band-key candidates
      * first, then each side's payload looked up by doc_id. */
    def lookup(batch: DataFrame, corpus: DataFrame): Tier = {
      def keys(df: DataFrame) = rows(df).select((col("doc_id") +: key.map(col)): _*)
      tier(keys(batch).as("x").join(keys(corpus).as("y"), key)
        .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("_cid"))
        .distinct()
        .join(payloadOf(batch, "doc_id", "_a", Nil), Seq("doc_id"))
        .join(payloadOf(corpus, "_cid", "_b", Nil), Seq("_cid")))
    }
  }

  /** Content hash (exact tier) and MinHash LSH (near tier, q27's
    * signature family: 4 bands × 3 rows over 12 portable affine
    * minhashes, signature agreement ≥ 0.5). Side: [[Dedup.hashSigProjection]]. */
  case object Text extends Modality(0) {
    val K = 12
    val Bands = 4
    val EstThreshold = 0.5

    override def project(raw: DataFrame): DataFrame = Dedup.hashSigProjection(raw)

    def side(s: SparkSession, dir: String, ids: Column): DataFrame =
      project(TextOps.docsHeavy(s, dir).filter(ids))

    /** (doc_id, band, key, sig): banded minhash rows, signature along. */
    def banded(side: DataFrame): DataFrame =
      side.filter(col("sig").isNotNull)
        .select(col("doc_id"), col("sig"),
          explode(Dedup.bandKeyStructs(i => element_at(col("sig"), i + 1), K, Bands)).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"),
          col("sig"))

    private val agree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v))

    val stored: Seq[Stored] = Seq(
      Stored("_exact", Seq("_h"), _.select(col("doc_id"), col("_h")), Nil,
        lit(true), "exact", "exact_id"),
      Stored("_band", Seq("band", "key"), banded, Seq("sig"),
        agree.cast("double") / lit(K.toDouble) >= EstThreshold, "near", "near_id"))

    override def tiers(batch: DataFrame, corpus: DataFrame): Seq[Tier] = {
      val Seq(exact, band) = stored
      Seq(exact.probe(batch, exact.rows(corpus)), band.lookup(batch, corpus))
    }
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
      side.select(col("doc_id"), col("embedding"), col("_norm"),
          explode(Dedup.sketchBandStructs(col("sketch"), bits, bands)).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"),
          col("embedding"), col("_norm"))

    val stored: Seq[Stored] = {
      import graft.functions.VectorFunctions.dotNative
      Seq(Stored("_emb", Seq("band", "key"), banded, Seq("embedding", "_norm"),
        round(dotNative(col("embedding_a"), col("embedding_b")) /
          (col("_norm_a") * col("_norm_b")), 4) >= Embedding.CosThreshold,
        "near_embedding", "emb_id"))
    }

    override def tiers(batch: DataFrame, corpus: DataFrame): Seq[Tier] =
      stored.map(_.lookup(batch, corpus))
  }

  object Embedding {
    val CosThreshold = 0.40
  }

  /** A perceptual-hash modality: one 64-bit hash per media doc of slot
    * `slot` (doc_id mod 3 fixes each doc's media kind, so the three
    * perceptual tiers never compete for a doc), cut into 8 disjoint
    * bands and rescored by Hamming distance ≤ `maxHamming` — exact for
    * maxHamming ≤ 7 by pigeonhole (q73's argument). The side decodes
    * each payload inside its task: bytes never shuffle, only
    * (id, 8-byte hash) rows do. */
  sealed abstract class Perceptual(rank: Int, slot: Int, hashCol: String,
                                   maxHamming: Int, suffix: String,
                                   status: String, idCol: String,
                                   hashes: (SparkSession, Dataset[Long]) => DataFrame,
                                   bandStructs: Column => Column)
      extends Modality(rank) {

    def side(s: SparkSession, dir: String, ids: Column): DataFrame = {
      import s.implicits._
      hashes(s, Tables.spread(Tables(s, dir, "documents").select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(3)) === slot && ids), col("doc_id")).as[Long])
        .select(col("media_id").as("doc_id"), col(hashCol))
    }

    /** (doc_id, band, key, hash): banded rows, the hash along. */
    def banded(side: DataFrame): DataFrame =
      side.select(col("doc_id"), col(hashCol), explode(bandStructs(col(hashCol))).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"),
          col(hashCol))

    val stored: Seq[Stored] = Seq(Stored(suffix, Seq("band", "key"), banded,
      Seq(hashCol), bit_count(col(s"${hashCol}_a").bitwiseXOR(col(s"${hashCol}_b"))) <= maxHamming,
      status, idCol))
  }

  /** q73's PNG dHash under byte bands. */
  case object Image extends Perceptual(rank = 2, slot = 0, hashCol = "dhash",
    maxHamming = 6, suffix = "_img", status = "near_image", idCol = "img_id",
    hashes = Multimodal.imageDHashesFor, bandStructs = Dedup.sketchBandStructs(_, 64, 8))

  /** q76's WAV fingerprint under stride-interleaved bands
    * ([[Dedup.interleavedBandStructs]]) and its measured threshold 4. */
  case object Audio extends Perceptual(rank = 3, slot = 1, hashCol = "afp",
    maxHamming = 4, suffix = "_afp", status = "near_audio", idCol = "afp_id",
    hashes = Multimodal.audioFingerprintsFor, bandStructs = Dedup.interleavedBandStructs)

  /** q77's frame-averaged RAWV hash: spatial bits, so the image banding. */
  case object Video extends Perceptual(rank = 4, slot = 2, hashCol = "dhash",
    maxHamming = 6, suffix = "_vid", status = "near_video", idCol = "vid_id",
    hashes = Multimodal.videoHashesFor, bandStructs = Dedup.sketchBandStructs(_, 64, 8))

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
