package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PRE-BUCKETED dedup-index storage — the 100-TB day-over-day shape of
  * the incremental classifiers (q65/q68).
  *
  * The in-memory classifiers ([[Dedup.classifyNew]],
  * [[Dedup.classifyNew3]]) project the corpus into its index form on
  * every run. A production deployment computes that projection ONCE and
  * stores it; each day's batch then PROBES the stored index. This object
  * is that storage layer: three bucketed tables, each bucketed (and
  * bucket-sorted) ON ITS PROBE KEY —
  *
  *   - `{prefix}_exact` (doc_id, _h)               bucketed by `_h`
  *   - `{prefix}_band`  (doc_id, band, key, sig)   bucketed by (band, key)
  *   - `{prefix}_emb`   (doc_id, band, key,
  *                       embedding, _norm)         bucketed by (band, key)
  *
  * so every tier join reads the index side WITHOUT an exchange: the
  * bucketed scan already satisfies the join's clustering, Spark shuffles
  * only the (small) batch side into the bucket layout, and the corpus —
  * the 100-TB operand — never moves. [[graft.DedupIndexSpec]] asserts
  * exactly that on the physical plan (zero ShuffleExchange whose subtree
  * is only index scans, all three tiers) and that the verdicts equal
  * [[Dedup.classifyNew3]] row-for-row.
  *
  * The band tables DENORMALIZE the verify payload (minhash signature /
  * embedding+norm) onto the banded rows, so candidate generation AND
  * rescoring are ONE probe join — the in-memory path's separate
  * id-keyed signature lookup would be a second (unbucketed, doc_id-keyed)
  * read of the index. Cost: `bands`× payload duplication in the stored
  * table — 4×24 B for 12 minhashes, 8×(4·dim) B for vectors; at corpus
  * scale that trade (storage for zero shuffle per ingest run) is the
  * point. Bucket counts size to ~128-256 MB per bucket file in
  * production; refresh appends the day's `new` survivors
  * ([[graft.streaming.IncrementalDedup.refreshed]]'s projection, written
  * with the same bucketing) — no rebuild.
  */
object DedupIndex {

  def exactTable(prefix: String): String = s"${prefix}_exact"
  def bandTable(prefix: String): String = s"${prefix}_band"
  def embTable(prefix: String): String = s"${prefix}_emb"
  def imgTable(prefix: String): String = s"${prefix}_img"

  /** Drop a managed index table AND any leftover warehouse location: a
    * fresh session's in-memory catalog doesn't know about a previous
    * JVM's managed-table directory, so `DROP TABLE IF EXISTS` no-ops
    * and the next CTAS fails with LOCATION_ALREADY_EXISTS. Every
    * rebuild path (q74's declared query, the specs) drops through
    * here. */
  def dropTable(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Banded minhash rows with the signature riding along. */
  private[graft] def bandedSig(proj: DataFrame, k: Int, bands: Int): DataFrame =
    proj.filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        explode(Dedup.bandKeyStructs(i => element_at(col("sig"), i + 1), k, bands)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"),
        col("sig"))

  /** Banded hyperplane-sketch rows with vector + norm riding along. */
  private[graft] def bandedEmb(proj: DataFrame, bits: Int,
                               embBands: Int): DataFrame =
    proj.select(col("doc_id"), col("embedding"), col("_norm"),
        explode(Dedup.sketchBandStructs(col("sketch"), bits, embBands)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"),
        col("embedding"), col("_norm"))

  /** Project `corpus` (doc_id, text) and `corpusEmb` (doc_id, embedding)
    * into the three bucketed index tables. One corpus scan per table;
    * all three projections are pure per-row, so the only data movement
    * is the bucketing write shuffle — paid once, saved every ingest. */
  def saveIndex(corpus: DataFrame, corpusEmb: DataFrame, prefix: String,
                buckets: Int = 8, k: Int = 12, bands: Int = 4,
                bits: Int = 32, dim: Int = 64, embBands: Int = 8): Unit = {
    // The exact and band tables both derive from the same tokenize +
    // k-minhash projection; persisting it across the two write actions
    // pays the per-row compute ONCE (at 100 TB this is the staged
    // projection a deployment would materialize before bucketing, not a
    // recompute per table).
    val proj = Dedup.hashSigProjection(corpus, k).persist()
    // The three CTAS builds are INDEPENDENT writes to disjoint tables —
    // overlapped from driver threads (guide §2.6) so each job's task
    // tail back-fills with the next job's work instead of idling the
    // cluster; the exact and band tables still share the persisted
    // projection (concurrent first-fill of a persisted frame is safe —
    // block-level cache registration is synchronized, worst case one
    // partition computes twice before the cache serves both).
    try Par.run(Seq(
      () => proj.select(col("doc_id"), col("_h"))
        .repartition(buckets, col("_h"))
        .write.bucketBy(buckets, "_h").sortBy("_h")
        .mode(SaveMode.Overwrite).saveAsTable(exactTable(prefix)),
      () => bandedSig(proj, k, bands)
        .repartition(buckets, col("band"), col("key"))
        .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
        .mode(SaveMode.Overwrite).saveAsTable(bandTable(prefix)),
      () => bandedEmb(Dedup.embSketchProjection(corpusEmb, bits, dim), bits, embBands)
        .repartition(buckets, col("band"), col("key"))
        .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
        .mode(SaveMode.Overwrite).saveAsTable(embTable(prefix))))
    finally proj.unpersist(blocking = false)
  }

  /** Day-over-day DURABLE refresh: append a classified batch's `new`
    * survivors to the three stored index tables — the persisted twin of
    * [[graft.streaming.IncrementalDedup.refreshed3]]. Only `new`
    * verdicts enter (matched docs are already represented by their
    * corpus copy); the writes use the SAME bucket spec as
    * [[saveIndex]], so appended files land per bucket and every later
    * classify still probes without an index-side shuffle. Cost is
    * |new|-proportional — no table rebuild, ever. */
  def appendNew(batchDocs: DataFrame, batchEmb: DataFrame,
                verdicts: DataFrame, prefix: String, buckets: Int = 8,
                k: Int = 12, bands: Int = 4, bits: Int = 32,
                dim: Int = 64, embBands: Int = 8): Unit = {
    // MATERIALIZED before the first write, not lazy: `verdicts` usually
    // READS these same index tables (it's the classify output), so
    // re-evaluating it after the exact-tier append would classify a
    // just-appended doc as an exact match of ITSELF — no longer `new` —
    // and silently skip its band/embedding rows. localCheckpoint pins
    // the pre-append verdict set for all three writes.
    val newIds = verdicts.filter(col("status") === "new").select("doc_id")
      .localCheckpoint()
    val proj = Dedup.hashSigProjection(
      batchDocs.join(newIds, Seq("doc_id")), k)
    proj.select(col("doc_id"), col("_h"))
      .repartition(buckets, col("_h"))
      .write.bucketBy(buckets, "_h").sortBy("_h")
      .mode(SaveMode.Append).saveAsTable(exactTable(prefix))
    bandedSig(proj, k, bands)
      .repartition(buckets, col("band"), col("key"))
      .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
      .mode(SaveMode.Append).saveAsTable(bandTable(prefix))
    bandedEmb(Dedup.embSketchProjection(
        batchEmb.join(newIds, Seq("doc_id")), bits, dim), bits, embBands)
      .repartition(buckets, col("band"), col("key"))
      .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
      .mode(SaveMode.Append).saveAsTable(embTable(prefix))
  }

  /** Four-tier durable refresh: [[appendNew]]'s three tables plus the
    * `_img` tier — the day's `new` survivors' banded dHash rows land
    * with the same bucket spec as [[saveImgIndex]]. The verdict frame
    * is pinned ONCE here (it reads the index tables — see
    * [[appendNew]]'s materialization note) and the pinned copy feeds
    * both the three-tier append and the image append. */
  def appendNew4(batchDocs: DataFrame, batchEmb: DataFrame,
                 batchImg: DataFrame, verdicts: DataFrame, prefix: String,
                 buckets: Int = 8, k: Int = 12, bands: Int = 4,
                 bits: Int = 32, dim: Int = 64, embBands: Int = 8): Unit = {
    val pinned = verdicts.localCheckpoint()
    appendNew(batchDocs, batchEmb, pinned, prefix, buckets,
      k, bands, bits, dim, embBands)
    val newIds = pinned.filter(col("status") === "new").select("doc_id")
    Dedup.imgBanded(batchImg.join(newIds, Seq("doc_id")))
      .repartition(buckets, col("band"), col("key"))
      .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
      .mode(SaveMode.Append).saveAsTable(imgTable(prefix))
  }

  /** Six-tier durable refresh: [[appendNew4]] plus the `_afp` and
    * `_vid` tiers — the day's `new` survivors become probe-able by
    * every modality tomorrow, no table rebuild. */
  def appendNew6(batchDocs: DataFrame, batchEmb: DataFrame,
                 batchImg: DataFrame, batchAfp: DataFrame,
                 batchVid: DataFrame, verdicts: DataFrame, prefix: String,
                 buckets: Int = 8, k: Int = 12, bands: Int = 4,
                 bits: Int = 32, dim: Int = 64, embBands: Int = 8): Unit = {
    val pinned = verdicts.localCheckpoint()
    appendNew4(batchDocs, batchEmb, batchImg, pinned, prefix, buckets,
      k, bands, bits, dim, embBands)
    val newIds = pinned.filter(col("status") === "new").select("doc_id")
    Dedup.afpBanded(batchAfp.join(newIds, Seq("doc_id")))
      .repartition(buckets, col("band"), col("key"))
      .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
      .mode(SaveMode.Append).saveAsTable(afpTable(prefix))
    Dedup.imgBanded(batchVid.join(newIds, Seq("doc_id")))
      .repartition(buckets, col("band"), col("key"))
      .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
      .mode(SaveMode.Append).saveAsTable(vidTable(prefix))
  }

  /** q68's three-tier classifier against the STORED index: identical
    * verdicts to [[Dedup.classifyNew3]] (shared [[Dedup.verdict3]]
    * precedence), but every tier probes a bucketed table on its bucket
    * key, so the index side of every join plans with ZERO exchange. */
  def classifyNew3Indexed(s: SparkSession, batch: DataFrame,
                          batchEmb: DataFrame, prefix: String,
                          k: Int = 12, bands: Int = 4,
                          estThreshold: Double = 0.5,
                          cosThreshold: Double = 0.40, bits: Int = 32,
                          dim: Int = 64, embBands: Int = 8): DataFrame = {
    val (exact, near, emb) = indexedTiers(s, batch, batchEmb, prefix,
      k, bands, estThreshold, cosThreshold, bits, dim, embBands)
    Dedup.verdict3(batch.select(col("doc_id")), exact, near, emb)
      .orderBy(col("doc_id"))
  }

  /** The three stored-index tier probes as separate frames — shared by
    * the three- and four-tier indexed classifiers so adding a tier
    * never re-runs (or re-states) the others. */
  private def indexedTiers(s: SparkSession, batch: DataFrame,
                           batchEmb: DataFrame, prefix: String,
                           k: Int, bands: Int, estThreshold: Double,
                           cosThreshold: Double, bits: Int,
                           dim: Int, embBands: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.VectorFunctions.dotNative
    // tracked: the exact and near tiers both read the tokenize+minhash
    // batch projection — cached it computes once per classify run (the
    // batch is the SMALL side; the corpus-sized index tables are never
    // cached, they stream from their buckets)
    val bproj = Caches.track(Dedup.hashSigProjection(batch, k))
    val beproj = Dedup.embSketchProjection(batchEmb, bits, dim)
    val exact = bproj.select(col("doc_id"), col("_h"))
      .join(s.table(exactTable(prefix)).select(col("_h"),
        col("doc_id").as("_cid")), Seq("_h"))
      .groupBy(col("doc_id")).agg(min(col("_cid")).as("exact_id"))
    // candidate + agreement rescore in ONE probe: the stored sig rides
    // on the banded row, so no second index lookup. Duplicate (doc, cid)
    // rows across bands score identically; the min() collapses them.
    val agree = size(filter(
      zip_with(col("_sa"), col("_sb"), (x, y) => x === y), v => v))
    val near = bandedSig(bproj, k, bands).withColumnRenamed("sig", "_sa")
      .join(s.table(bandTable(prefix)).select(col("band"), col("key"),
        col("doc_id").as("_cid"), col("sig").as("_sb")), Seq("band", "key"))
      .withColumn("_est", agree.cast("double") / lit(k.toDouble))
      .filter(col("_est") >= estThreshold)
      .groupBy(col("doc_id")).agg(min(col("_cid")).as("near_id"))
    val emb = bandedEmb(beproj, bits, embBands)
      .withColumnRenamed("embedding", "_va").withColumnRenamed("_norm", "_na")
      .join(s.table(embTable(prefix)).select(col("band"), col("key"),
        col("doc_id").as("_cid"), col("embedding").as("_vb"),
        col("_norm").as("_nb")), Seq("band", "key"))
      .withColumn("_cos",
        round(dotNative(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 4))
      .filter(col("_cos") >= cosThreshold)
      .groupBy(col("doc_id")).agg(min(col("_cid")).as("emb_id"))
    (exact, near, emb)
  }

  /** Write the PERCEPTUAL IMAGE tier's bucketed index table — q75's
    * `_img` sibling of the three [[saveIndex]] tables: banded dHash
    * rows (doc_id, band, key, dhash), bucketed (and bucket-sorted) on
    * the (band, key) probe key. The dhash rides on the banded row (the
    * same denormalization trade as `_band`/`_emb`: 8× an 8-byte value),
    * so candidate generation and the hamming rescore are one probe
    * join. `corpusImg` is (doc_id, dhash) — a production pipeline
    * computes it with [[Multimodal.imageDHashesFor]] at ingest. */
  def saveImgIndex(corpusImg: DataFrame, prefix: String,
                   buckets: Int = 8): Unit =
    Dedup.imgBanded(corpusImg)
      .repartition(buckets, col("band"), col("key"))
      .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
      .mode(SaveMode.Overwrite).saveAsTable(imgTable(prefix))

  /** q75's four-tier classifier against the STORED index: identical
    * verdicts to [[Dedup.classifyNew4]] (shared [[Dedup.verdict4]]
    * precedence), every tier probing its bucketed table with zero
    * index-side exchange. `batchImg` is (doc_id, dhash). */
  def classifyNew4Indexed(s: SparkSession, batch: DataFrame,
                          batchEmb: DataFrame, batchImg: DataFrame,
                          prefix: String,
                          k: Int = 12, bands: Int = 4,
                          estThreshold: Double = 0.5,
                          cosThreshold: Double = 0.40, bits: Int = 32,
                          dim: Int = 64, embBands: Int = 8,
                          maxHamming: Int = 6): DataFrame = {
    val (exact, near, emb) = indexedTiers(s, batch, batchEmb, prefix,
      k, bands, estThreshold, cosThreshold, bits, dim, embBands)
    Dedup.verdict4(batch.select(col("doc_id")), exact, near, emb,
      imgProbe(s, batchImg, prefix, maxHamming))
      .orderBy(col("doc_id"))
  }

  /** The image-tier probe alone, against the stored `_img` table:
    * (doc_id, img_id = min corpus image within `maxHamming`). Shared
    * by [[classifyNew4Indexed]] and the streaming image-dedup twin
    * ([[graft.streaming.ImageDedup]]) so the probe join can't drift
    * between batch and continuous ingest. */
  def imgProbe(s: SparkSession, batchImg: DataFrame, prefix: String,
               maxHamming: Int = 6): DataFrame =
    bandedProbe(s, Dedup.imgBanded(batchImg).withColumnRenamed("dhash", "_da"),
      imgTable(prefix), "dhash", maxHamming, "img_id")

  /** One perceptual probe against a stored banded table: the batch side
    * arrives pre-banded with its hash as `_da`; the table's hash column
    * (`hashCol`) rides on its banded rows, so candidates + hamming
    * rescore are one join. Shared by the image/audio/video probes. */
  private def bandedProbe(s: SparkSession, batchBanded: DataFrame,
                          table: String, hashCol: String,
                          maxHamming: Int, out: String): DataFrame =
    batchBanded
      .join(s.table(table).select(col("band"), col("key"),
        col("doc_id").as("_cid"), col(hashCol).as("_db")), Seq("band", "key"))
      .filter(bit_count(col("_da").bitwiseXOR(col("_db"))) <= maxHamming)
      .groupBy(col("doc_id")).agg(min(col("_cid")).as(out))

  def afpTable(prefix: String): String = s"${prefix}_afp"
  def vidTable(prefix: String): String = s"${prefix}_vid"

  /** Audio-tier probe against the stored `_afp` table (q76's
    * interleaved banding): (doc_id, afp_id). */
  def afpProbe(s: SparkSession, batchAfp: DataFrame, prefix: String,
               maxHamming: Int = 4): DataFrame =
    bandedProbe(s, Dedup.afpBanded(batchAfp).withColumnRenamed("afp", "_da"),
      afpTable(prefix), "afp", maxHamming, "afp_id")

  /** Video-tier probe against the stored `_vid` table: (doc_id,
    * vid_id). The video hash uses the image banding (spatial bits). */
  def vidProbe(s: SparkSession, batchVid: DataFrame, prefix: String,
               maxHamming: Int = 6): DataFrame =
    bandedProbe(s, Dedup.imgBanded(batchVid).withColumnRenamed("dhash", "_da"),
      vidTable(prefix), "dhash", maxHamming, "vid_id")

  /** Write the audio and video perceptual index tables ([[saveImgIndex]]'s
    * siblings; same bucket spec and denormalization trade). */
  def saveAfpIndex(corpusAfp: DataFrame, prefix: String,
                   buckets: Int = 8): Unit =
    Dedup.afpBanded(corpusAfp)
      .repartition(buckets, col("band"), col("key"))
      .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
      .mode(SaveMode.Overwrite).saveAsTable(afpTable(prefix))

  def saveVidIndex(corpusVid: DataFrame, prefix: String,
                   buckets: Int = 8): Unit =
    Dedup.imgBanded(corpusVid)
      .repartition(buckets, col("band"), col("key"))
      .write.bucketBy(buckets, "band", "key").sortBy("band", "key")
      .mode(SaveMode.Overwrite).saveAsTable(vidTable(prefix))

  /** q78's six-tier classifier against the STORED index: identical
    * verdicts to [[Dedup.incrementalDedup6]] (one [[Dedup.verdictTiers]]
    * precedence), every tier probing its bucketed table with zero
    * index-side exchange. */
  def classifyNew6Indexed(s: SparkSession, batch: DataFrame,
                          batchEmb: DataFrame, batchImg: DataFrame,
                          batchAfp: DataFrame, batchVid: DataFrame,
                          prefix: String,
                          k: Int = 12, bands: Int = 4,
                          estThreshold: Double = 0.5,
                          cosThreshold: Double = 0.40, bits: Int = 32,
                          dim: Int = 64, embBands: Int = 8,
                          maxHamming: Int = 6, audioMaxHamming: Int = 4,
                          videoMaxHamming: Int = 6): DataFrame = {
    val (exact, near, emb) = indexedTiers(s, batch, batchEmb, prefix,
      k, bands, estThreshold, cosThreshold, bits, dim, embBands)
    Dedup.verdictTiers(batch.select(col("doc_id")), Seq(
      ("exact", "exact_id", exact),
      ("near", "near_id", near),
      ("near_embedding", "emb_id", emb),
      ("near_image", "img_id", imgProbe(s, batchImg, prefix, maxHamming)),
      ("near_audio", "afp_id", afpProbe(s, batchAfp, prefix, audioMaxHamming)),
      ("near_video", "vid_id", vidProbe(s, batchVid, prefix, videoMaxHamming))))
      .orderBy(col("doc_id"))
  }

  /** q79 — q74's driver-gated deployment shape extended to the FULL
    * six-tier matrix: build all six bucketed index tables from the
    * corpus split, classify the batch against the STORE, with the
    * zero-index-side-shuffle lint running inside the declared query.
    * Verdicts are row-identical to [[Dedup.incrementalDedup6]] by the
    * shared [[Dedup.verdictTiers]] fold (spec-proven), so the oracle is
    * q78's SQL. */
  def incrementalDedupIndexed6(s: SparkSession, dir: String,
                               prefix: String = "graft_q79",
                               buckets: Int = 8): DataFrame = {
    import graft.sources.Tables
    import s.implicits._
    val docs = Tables.spreadTable(s, dir, "documents", col("doc_id"))
      .select(col("doc_id"), col("text"))
    val embs = Tables.spreadTable(s, dir, "embeddings", col("vec_id"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val isNew = Sampling.hashBucket(col("doc_id"), 5) === 4
    // media sides: filter ids by modality slot AND split side BEFORE
    // the decode pass — hashing everything and filtering after would
    // encode+decode every payload twice per run (once for the save
    // action, once for the probe)
    def mediaIds(slot: Int, newSide: Boolean) = Tables.spread(
      docs.select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(3)) === slot &&
          (if (newSide) isNew else !isNew)),
      col("doc_id")).as[Long]
    def imgSide(newSide: Boolean) =
      Multimodal.imageDHashesFor(s, mediaIds(0, newSide))
        .select(col("media_id").as("doc_id"), col("dhash"))
    def afpSide(newSide: Boolean) =
      Multimodal.audioFingerprintsFor(s, mediaIds(1, newSide))
        .select(col("media_id").as("doc_id"), col("afp"))
    def vidSide(newSide: Boolean) =
      Multimodal.videoHashesFor(s, mediaIds(2, newSide))
        .select(col("media_id").as("doc_id"), col("dhash"))
    Seq(exactTable(prefix), bandTable(prefix), embTable(prefix),
      imgTable(prefix), afpTable(prefix), vidTable(prefix))
      .foreach(dropTable(s, _))
    // the four index-family builds write disjoint tables from disjoint
    // inputs — overlap them (guide §2.6): the media decodes are
    // CPU-heavy scans whose tails otherwise serialize, and the build is
    // ~⅔ of this query's declared cost
    Par.run(Seq(
      () => saveIndex(docs.filter(!isNew), embs.filter(!isNew), prefix, buckets),
      () => saveImgIndex(imgSide(false), prefix, buckets),
      () => saveAfpIndex(afpSide(false), prefix, buckets),
      () => saveVidIndex(vidSide(false), prefix, buckets)))
    def run() = classifyNew6Indexed(s, docs.filter(isNew),
      embs.filter(isNew), imgSide(true), afpSide(true), vidSide(true),
      prefix)
    assertIndexNeverShuffledOnce(s, prefix, buckets)(run())
    run()
  }

  /** q89's dir-derived table prefix — shared with DedupIndexSpec so a
    * sanitization change can't silently desynchronize the spec's table
    * cleanup from the query's tables. */
  def q89PrefixFor(dir: String, prefixBase: String = "graft_q89"): String =
    prefixBase + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** q89 — the STEADY-STATE shape q74/q79 deliberately don't measure:
    * those queries pay the index CTAS build inside the declared frame
    * (~⅔ of q79's bench cost), which at 100 TB is a once-per-corpus
    * job, not the daily op. This query gates the DAILY op alone:
    *   day 1 — classify a batch against the stored index and APPEND its
    *           `new` survivors ([[appendNew]], the durable refresh);
    *   day 2 — classify the NEXT batch against the GROWN index,
    *           probe-only.
    * The returned frame is day 2's verdicts: a day-2 doc duplicating a
    * day-1 `new` survivor must resolve against the APPENDED rows — an
    * oracle-green run certifies the append actually landed in every
    * tier, bucketed so the probe still plans with zero index-side
    * exchange ([[assertIndexNeverShuffled]] runs in-query, as in q74).
    *
    * Build-once idempotence: the grown state (base index + day-1
    * survivors) is constructed only when the session-scoped marker
    * table is absent, so within one benchmark JVM the warmup rep pays
    * the build and every timed rep measures the probe alone — the
    * steady-state cost the index exists to buy. Re-running the append
    * on every rep would both double-append and re-bill the CTAS. The
    * prefix embeds the data dir, so sessions touching several SFs
    * (the spec suite) can never probe another scale's index. Splits:
    * hash-mod-5 buckets 0-2 = corpus, 3 = day-1 batch, 4 = day-2
    * batch. */
  def indexAppendProbe(s: SparkSession, dir: String,
                       prefixBase: String = "graft_q89",
                       buckets: Int = 8): DataFrame = {
    import graft.sources.Tables
    val prefix = q89PrefixFor(dir, prefixBase)
    val docs = Tables.spreadTable(s, dir, "documents", col("doc_id"))
      .select(col("doc_id"), col("text"))
    val embs = Tables.spreadTable(s, dir, "embeddings", col("vec_id"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bk = Sampling.hashBucket(col("doc_id"), 5)
    val ready = s"${prefix}_ready"
    if (!s.catalog.tableExists(ready)) {
      Seq(exactTable(prefix), bandTable(prefix), embTable(prefix), ready)
        .foreach(dropTable(s, _))
      saveIndex(docs.filter(bk < 3), embs.filter(bk < 3), prefix, buckets)
      val day1 = classifyNew3Indexed(s, docs.filter(bk === 3),
        embs.filter(bk === 3), prefix)
      appendNew(docs.filter(bk === 3), embs.filter(bk === 3), day1,
        prefix, buckets)
      // marker LAST: created only after the append committed, so a
      // failed build can't leave a half-grown index that later calls
      // would trust
      s.sql(s"CREATE TABLE $ready AS SELECT 1 AS ok")
    }
    def probe() = classifyNew3Indexed(s, docs.filter(bk === 4),
      embs.filter(bk === 4), prefix)
    assertIndexNeverShuffledOnce(s, prefix, buckets)(probe())
    probe()
  }

  /** q92 — q89's steady-state ingest extended to the FULL six-tier
    * store: q79 builds all six bucketed tables and classifies
    * build-inclusive (~⅔ of its bench cost is CTAS); this query gates
    * the DAILY six-tier op alone —
    *   day 1 — classify a batch against the stored six-table index and
    *           APPEND its `new` survivors to every tier
    *           ([[appendNew6]]: text + embedding + image + audio +
    *           video, each with the saved bucket spec);
    *   day 2 — classify the NEXT batch against the GROWN index,
    *           probe-only across all six tiers.
    * The returned frame is day 2's verdicts. A day-2 doc whose ONLY
    * duplicate is a day-1 `new` survivor — in any modality — must
    * resolve against the appended rows, so an oracle-green run
    * certifies all six appends landed, bucketed so the probe still
    * plans with zero index-side exchange (the lint runs in-query).
    * Same build-once idempotence + marker-last + dir-derived prefix
    * contract as [[indexAppendProbe]]; same splits (hash-mod-5: 0-2
    * corpus, 3 day-1, 4 day-2); media sides by modality slot
    * (pmod 3), filtered to slot AND split BEFORE decoding, as in q79. */
  def indexAppendProbe6(s: SparkSession, dir: String,
                        prefixBase: String = "graft_q92",
                        buckets: Int = 8): DataFrame = {
    import graft.sources.Tables
    import s.implicits._
    val prefix = q89PrefixFor(dir, prefixBase)
    val docs = Tables.spreadTable(s, dir, "documents", col("doc_id"))
      .select(col("doc_id"), col("text"))
    val embs = Tables.spreadTable(s, dir, "embeddings", col("vec_id"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bk = Sampling.hashBucket(col("doc_id"), 5)
    def mediaIds(slot: Int, cond: org.apache.spark.sql.Column) = Tables.spread(
      docs.select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(3)) === slot && cond),
      col("doc_id")).as[Long]
    def imgSide(cond: org.apache.spark.sql.Column) =
      Multimodal.imageDHashesFor(s, mediaIds(0, cond))
        .select(col("media_id").as("doc_id"), col("dhash"))
    def afpSide(cond: org.apache.spark.sql.Column) =
      Multimodal.audioFingerprintsFor(s, mediaIds(1, cond))
        .select(col("media_id").as("doc_id"), col("afp"))
    def vidSide(cond: org.apache.spark.sql.Column) =
      Multimodal.videoHashesFor(s, mediaIds(2, cond))
        .select(col("media_id").as("doc_id"), col("dhash"))
    val ready = s"${prefix}_ready"
    if (!s.catalog.tableExists(ready)) {
      Seq(exactTable(prefix), bandTable(prefix), embTable(prefix),
        imgTable(prefix), afpTable(prefix), vidTable(prefix), ready)
        .foreach(dropTable(s, _))
      // overlapped like q79's build — disjoint tables, disjoint inputs
      Par.run(Seq(
        () => saveIndex(docs.filter(bk < 3), embs.filter(bk < 3), prefix, buckets),
        () => saveImgIndex(imgSide(bk < 3), prefix, buckets),
        () => saveAfpIndex(afpSide(bk < 3), prefix, buckets),
        () => saveVidIndex(vidSide(bk < 3), prefix, buckets)))
      val day1 = classifyNew6Indexed(s, docs.filter(bk === 3),
        embs.filter(bk === 3), imgSide(bk === 3), afpSide(bk === 3),
        vidSide(bk === 3), prefix)
      appendNew6(docs.filter(bk === 3), embs.filter(bk === 3),
        imgSide(bk === 3), afpSide(bk === 3), vidSide(bk === 3), day1,
        prefix, buckets)
      // marker LAST: created only after all six appends committed
      s.sql(s"CREATE TABLE $ready AS SELECT 1 AS ok")
    }
    def probe() = classifyNew6Indexed(s, docs.filter(bk === 4),
      embs.filter(bk === 4), imgSide(bk === 4), afpSide(bk === 4),
      vidSide(bk === 4), prefix)
    assertIndexNeverShuffledOnce(s, prefix, buckets)(probe())
    probe()
  }

  /** The zero-shuffle claim as an executable lint (shared by
    * DedupIndexSpec and the q74 declared query): collect every
    * ShuffleExchange whose ENTIRE leaf set is index-table scans — the
    * corpus-sized operand moving when it never should. An exchange above
    * a join legitimately contains batch leaves too, so those don't
    * count. */
  def indexShuffleOffenders(plan: org.apache.spark.sql.execution.SparkPlan,
                            prefix: String): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def isIndexScan(f: FileSourceScanExec): Boolean =
      f.relation.location.rootPaths.exists(_.toString.contains(prefix))
    plan.collect {
      case e: ShuffleExchangeExec =>
        val leaves = e.collectLeaves()
        val scans = leaves.collect { case f: FileSourceScanExec => f }
        (e, leaves.size, scans)
    }.collect { case (e, nLeaves, scans)
        if nLeaves > 0 && scans.size == nLeaves && scans.forall(isIndexScan) =>
      e.toString.take(500)
    }
  }

  /** Prefixes (+ bucket counts) already lint-checked, per live session:
    * the lint is a PLAN-SHAPE assertion over (code, bucketed-table DDL),
    * both fixed for a given (session, prefix, buckets), so re-planning
    * the probe under disabled-broadcast confs on every call re-proves a
    * theorem that cannot have changed — and that planning pass alone
    * measured ~1.0 s of q79's wall (stage profile). First call per
    * (session, prefix, buckets) still runs the full lint, so any code
    * change is caught by every fresh session (each Verify/Bench/test
    * JVM). WEAK-keyed on the session object itself (r11 ADVICE): an
    * identityHashCode key could be reused by a fresh session after the
    * old one is GC'd — silently skipping its first lint — and entries
    * never evicted; weak keys make reuse impossible and let dead
    * sessions' entries go with them. The bucket count rides in the
    * value key so a same-prefix rebuild with different DDL re-lints. */
  private val lintedPrefixes =
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]()

  /** [[assertIndexNeverShuffled]] memoized per (session, prefix,
    * buckets) — the form the DECLARED queries use. Specs exercising the
    * lint itself call the un-memoized variant. */
  def assertIndexNeverShuffledOnce(s: SparkSession, prefix: String,
                                   buckets: Int = 8)
                                  (mkFrame: => DataFrame): Unit = {
    val seen = lintedPrefixes.synchronized {
      var set = lintedPrefixes.get(s)
      if (set == null) {
        set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        lintedPrefixes.put(s, set)
      }
      set
    }
    val key = prefix + ":" + buckets
    if (!seen.contains(key)) {
      assertIndexNeverShuffled(s, prefix)(mkFrame)
      seen.add(key)
    }
  }

  /** Build `mkFrame`'s physical plan under broadcast-disabled,
    * non-adaptive confs (broadcasting the batch side would trivially
    * satisfy the lint; AQE hides exchanges until runtime) and require
    * zero index-side shuffles. Plan-only — nothing executes. Confs are
    * restored before returning. */
  def assertIndexNeverShuffled(s: SparkSession, prefix: String)
                              (mkFrame: => DataFrame): Unit = {
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (c, _) => c -> s.conf.getOption(c) }
    confs.foreach { case (c, v) => s.conf.set(c, v) }
    try {
      val offending = indexShuffleOffenders(
        mkFrame.queryExecution.executedPlan, prefix)
      require(offending.isEmpty,
        s"the stored index is shuffled before ${offending.size} join(s):\n" +
          offending.mkString("\n---\n"))
    } finally prev.foreach {
      case (c, Some(v)) => s.conf.set(c, v)
      case (c, None)    => s.conf.unset(c)
    }
  }

  /** q74 — the PRODUCTION deployment shape of q68, driver-gated
    * end-to-end: project the corpus split into the three bucketed index
    * tables ([[saveIndex]] — the write a real deployment pays once),
    * then classify the SAME batch split against the STORED index
    * ([[classifyNew3Indexed]]). Verdicts are row-identical to
    * [[Dedup.incrementalDedup3]] (shared [[Dedup.verdict3]] precedence,
    * proven by DedupIndexSpec), so q74's oracle IS q68's SQL — the
    * driver now gates the stored-index code path, not just the suite.
    * The 100-TB property rides INSIDE the query:
    * [[assertIndexNeverShuffled]] lints the probe plan before the frame
    * returns, so an oracle-green q74 certifies both the verdicts and
    * the zero-index-side-exchange physical shape. */
  def incrementalDedupIndexed3(s: SparkSession, dir: String,
                               prefix: String = "graft_q74",
                               buckets: Int = 8): DataFrame = {
    import graft.sources.Tables
    val docs = Tables.spreadTable(s, dir, "documents", col("doc_id"))
      .select(col("doc_id"), col("text"))
    val embs = Tables.spreadTable(s, dir, "embeddings", col("vec_id"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val isNew = Sampling.hashBucket(col("doc_id"), 5) === 4
    Seq(exactTable(prefix), bandTable(prefix), embTable(prefix))
      .foreach(dropTable(s, _))
    saveIndex(docs.filter(!isNew), embs.filter(!isNew), prefix, buckets)
    assertIndexNeverShuffledOnce(s, prefix, buckets) {
      classifyNew3Indexed(s, docs.filter(isNew), embs.filter(isNew), prefix)
    }
    classifyNew3Indexed(s, docs.filter(isNew), embs.filter(isNew), prefix)
  }
}
