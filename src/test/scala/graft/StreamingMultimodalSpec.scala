package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.streaming.{Ingest, NearDup, Sessionize}

class StreamingMultimodalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("codec anchors: PNG/WAV/RAWV encode to real formats, decode recovers content") {
    import Multimodal.MediaCodec
    // PNG: correct signature, and ImageIO round-trips EXACT pixels
    val png = MediaCodec.pngFor(0)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == MediaCodec.imageWidth(0) &&
      img.getHeight == MediaCodec.imageHeight(0))
    // WAV: RIFF/WAVE magic, and the chunk walk survives an extra chunk
    // BEFORE data (a fixed-44-byte-offset parser would mis-read this)
    val wav = MediaCodec.wavFor(1)
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val d1 = MediaCodec.decodeWav(wav, 8)
    assert(d1.durationMs == MediaCodec.wavSamples(1) * 1000 / MediaCodec.WavRate)
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ "INFOab".getBytes("US-ASCII")
    val padded = wav.slice(0, 12) ++ listChunk ++ wav.drop(12)
    val d2 = MediaCodec.decodeWav(padded, 8)
    assert(d2.durationMs == d1.durationMs && d2.features.toSeq == d1.features.toSeq)
    // data BEFORE fmt is legal RIFF (some encoders emit it): the walk
    // must keep scanning after data instead of stopping with rate=0
    val fmtChunk = wav.slice(12, 12 + 8 + 16)      // "fmt " + size + body
    val dataChunk = wav.drop(12 + 8 + 16)          // "data" + size + samples
    val reordered = wav.slice(0, 12) ++ dataChunk ++ fmtChunk
    val d4 = MediaCodec.decodeWav(reordered, 8)
    assert(d4.durationMs == d1.durationMs && d4.features.toSeq == d1.features.toSeq)
    // a data chunk claiming more payload than the file carries fails
    // with a NAMED error, not an anonymous IndexOutOfBounds
    val truncated = wav.slice(0, wav.length - 10)
    val e = intercept[IllegalArgumentException] {
      MediaCodec.decodeWav(truncated, 8)
    }
    assert(e.getMessage.contains("overruns"))
    // RAWV: header fields round-trip
    val rawv = MediaCodec.rawvFor(2)
    val d3 = MediaCodec.decodeRawv(rawv, 8)
    assert(d3.width == MediaCodec.videoWidth(2) &&
      d3.nFrames == MediaCodec.videoFrames(2) &&
      d3.durationMs == MediaCodec.videoFrames(2) * 1000 / MediaCodec.VideoFps)
    // a structurally valid ZERO-frame container decodes (no raster read)
    val zeroNf = java.nio.ByteBuffer.allocate(20)
    zeroNf.put("RAWV".getBytes("US-ASCII"))
    zeroNf.putInt(16); zeroNf.putInt(12); zeroNf.putInt(10); zeroNf.putInt(0)
    val dz = MediaCodec.decodeRawv(zeroNf.array, 8)
    assert(dz.width == 16 && dz.nFrames == 0 && dz.durationMs == 0)
    // a header lying about nframes fails loudly, never zero-pads frames
    val lying = java.nio.ByteBuffer.allocate(20)
    lying.put("RAWV".getBytes("US-ASCII"))
    lying.putInt(16); lying.putInt(12); lying.putInt(10); lying.putInt(3)
    intercept[IllegalArgumentException] {
      MediaCodec.decodeRawv(lying.array, 8)
    }
  }

  test("multimodal: decoded metadata matches the fixture formulas for every row") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val got = Multimodal.mediaDecode(spark, sf)
    val expected = docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        pmod(col("doc_id"), lit(3)).cast("int") + 1).as("kind"),
      when(pmod(col("doc_id"), lit(3)) === 0, pmod(col("doc_id"), lit(8)) * 16 + 32)
        .when(pmod(col("doc_id"), lit(3)) === 1, lit(0))
        .otherwise(pmod(col("doc_id"), lit(4)) * 8 + 16).cast("int").as("width"),
      when(pmod(col("doc_id"), lit(3)) === 0, pmod(col("doc_id"), lit(8)) * 9 + 18)
        .when(pmod(col("doc_id"), lit(3)) === 1, lit(0))
        .otherwise(pmod(col("doc_id"), lit(4)) * 6 + 12).cast("int").as("height"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(0))
        .when(pmod(col("doc_id"), lit(3)) === 1, (pmod(col("doc_id"), lit(60)) * 80 + 800) / 8)
        .otherwise((pmod(col("doc_id"), lit(30)) + 2) * 100).cast("int").as("duration_ms"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(1))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit(0))
        .otherwise(pmod(col("doc_id"), lit(30)) + 2).cast("int").as("n_frames"))
    assert(got.count() == docs.count())
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0)
  }

  test("multimodal: realMedia spreads the CPU-bound encode across full parallelism") {
    val docs = graft.sources.Tables(spark, sf, "documents").coalesce(1)
    // the encode must never run on the input's (possibly single) split:
    // ids are shuffled out to at least defaultParallelism partitions
    // BEFORE the codec work, and decode keeps those partitions (bytes
    // never shuffle after they exist)
    val media = Multimodal.realMedia(docs)
    val parts = media.rdd.getNumPartitions
    assert(parts >= spark.sparkContext.defaultParallelism,
      s"encode parallelism $parts < ${spark.sparkContext.defaultParallelism}")
    assert(Multimodal.decodeMedia(media).rdd.getNumPartitions == parts,
      "decode must ride the encode partitions, not reshuffle bytes")
  }

  test("multimodal: feature extraction preserves ids, dims and determinism") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val media = Multimodal.realMedia(docs).cache()
    val feats = Multimodal.extractFeatures(media, dim = 16).cache()
    assert(feats.count() == docs.count())
    assert(feats.filter(f => f.features.length != 16).count() == 0)
    // deterministic: same input ⇒ identical features on a second run
    val a = feats.filter(col("media_id") === 7).head.features.toSeq
    val b = Multimodal.extractFeatures(media, dim = 16)
      .filter(col("media_id") === 7).head.features.toSeq
    assert(a == b)
    // real content stats: an image row's band means live in (0,1)
    val imgRow = feats.filter(col("kind") === "image").head.features
    assert(imgRow(0) > 0f && imgRow(0) < 1f)
    media.unpersist(); feats.unpersist()
  }

  test("multimodal: frame sampling slices the exact frames the container holds") {
    import Multimodal.MediaCodec
    val docs = graft.sources.Tables(spark, sf, "documents")
    val media = Multimodal.realMedia(docs).cache()
    val everyMs = 500 // fps=10 ⇒ every 5th frame
    val frames = Multimodal.sampleFrames(media, everyMs).cache()
    // count per video: ceil(nFrames / stepFrames) with step = 5
    val counts = frames.groupBy("media_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val videoIds = docs.select("doc_id").as[Long].collect().filter(_ % 3 == 2)
    assert(videoIds.nonEmpty)
    videoIds.foreach { id =>
      val nf = MediaCodec.videoFrames(id)
      assert(counts(id) == (nf + 4) / 5, s"id=$id nf=$nf got=${counts.get(id)}")
    }
    // byte-exact: a sampled frame equals the direct slice of the payload
    val id0 = videoIds.min
    val raw = MediaCodec.rawvFor(id0)
    val w = MediaCodec.videoWidth(id0); val h = MediaCodec.videoHeight(id0)
    val frameSz = w * h * 3
    val got = frames.filter(col("media_id") === id0 && col("frame_idx") === 0)
      .head.getAs[Array[Byte]]("frame_bytes")
    assert(got.toSeq == raw.slice(20, 20 + frameSz).toSeq)
    assert(frames.filter(length(col("frame_bytes")) =!= frameSz).filter(col("media_id") === id0).count() == 0)
    media.unpersist(); frames.unpersist()
  }

  test("multimodal: decode failures name the row and the fixture-half trap") {
    // composing a decode path with mediaFromDocuments (the metadata-only
    // fixture half — its bytes are raw text, not media) must fail with a
    // message naming the media_id and the trap, not an anonymous codec
    // error buried in a task failure
    import spark.implicits._
    val fake = Seq((7L, "audio", "not a riff payload".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
    val e = intercept[Exception] {
      Multimodal.decodeMedia(fake).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("media_id=7") &&
      messages.contains("mediaFromDocuments"))
  }

  test("multimodal: resize keeps aspect ratio bound") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val resized = Multimodal.resizeMeta(Multimodal.mediaFromDocuments(docs), 512)
    assert(resized.filter(col("out_width") > 512 || col("out_height") > 512)
      .count() == 0)
  }

  test("streaming: watermarked hourly rollup matches the batch rollup") {
    // bounded parquet dir as a streaming source
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val events = graft.sources.Tables(spark, sf, "events")
    events.write.mode("overwrite").parquet(s"$dir/events")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/events")
    val got = Sessionize.runOnce(spark,
      Sessionize.hourlyRollup(stream), "hourly_test")
    // append-mode emits only windows closed by the watermark; every
    // emitted window must match the batch computation exactly
    val batch = events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))
    val mismatches = got.as("g").join(batch.as("b"),
        Seq("hour_start", "event_type"))
      .filter(col("g.n") =!= col("b.n") ||
        abs(col("g.total_value") - col("b.total_value")) > 1e-6)
    assert(got.count() > 0, "watermark should close at least one window")
    assert(mismatches.count() == 0)
  }

  /** Write a (doc_id, payload) frame as a `chunks`-way parquet feed
    * (pmod(doc_id, chunks)) and return a maxFilesPerTrigger=1 stream
    * over it — one micro-batch per chunk file, the "any chunking" side
    * of every duality spec below. */
  private def chunkedFeed(docs: DataFrame, chunks: Int, tag: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    docs.withColumn("_chunk", pmod(col("doc_id"), lit(chunks)))
      .write.partitionBy("_chunk").mode("overwrite").parquet(s"$dir/feed")
    spark.readStream.schema(spark.read.parquet(s"$dir/feed").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/feed")
  }

  /** One chunked-replay ≡ batch check: [[Ingest.probe]] runs `probe` on
    * every micro-batch of `feed`, and the rows it emits must equal the
    * rows of `truth` (the batch function over the whole feed, or the
    * declared query) — same count, same set. `nonVacuous` asserts the
    * truth rows exercise the fixture, or the duality proves nothing. */
  private case class Pass(feed: DataFrame, probe: DataFrame => DataFrame,
                          truth: DataFrame,
                          nonVacuous: Set[Row] => Unit = _ => ())

  /** A duality spec's fixture: its passes, and the tear-down that runs
    * after them, pass or fail. */
  private case class Fixture(passes: Seq[Pass], tearDown: () => Unit = () => ())

  private def runPass(p: Pass): Unit = {
    val got = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = Ingest.probe(p.feed, p.probe, (rows, _) =>
      got.synchronized { got ++= rows.collect() })
    try q.processAllAvailable() finally q.stop()
    val want = p.truth.collect().toSet
    p.nonVacuous(want)
    assert(got.size == want.size,
      s"stream emitted ${got.size} rows, batch has ${want.size}")
    assert(got.toSet == want,
      s"drift: stream-only=${got.toSet -- want} batch-only=${want -- got.toSet}")
  }

  private def bothVerdicts(near: String): Set[Row] => Unit = want =>
    assert(want.exists(_.getString(1) == near) && want.exists(_.getString(1) == "new"),
      "fixture must exercise both verdicts or the duality is vacuous")

  /** (doc_id, bytes) payloads of the `isNew` ids of a (doc_id, hash)
    * frame, encoded per partition. */
  private def payloads(hashes: DataFrame, isNew: Column,
                       encode: Long => Array[Byte]): DataFrame =
    hashes.filter(isNew).select("doc_id").as[Long]
      .mapPartitions(_.map(id => (id, encode(id)))).toDF("doc_id", "bytes")

  /** The sf0.01 testdata beside [[TestSpark.sf]]: the rows below need
    * its denser duplicate and leakage structure to be non-vacuous. */
  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  /** The stream-static duality specs, one row each: name → fixture. */
  private val dualities: Seq[(String, () => Fixture)] = Seq(
    "streaming incremental dedup: chunked replay ≡ batch q65 verdicts" -> { () =>
      import operators.{Dedup, Modality}
      import Modality.Text
      val docs = graft.sources.Tables(spark, sf, "documents")
        .withColumn("_new", Modality.splitBucket === 4)
      // feed = the q65 batch side; index = the q65 corpus side, cached
      // like a production deployment would
      val idx = Text.project(docs.filter(!col("_new")).select("doc_id", "text")).cache()
      Fixture(Seq(Pass(
          chunkedFeed(docs.filter(col("_new")).select("doc_id", "text"), 4, "incdedup"),
          mb => Dedup.classify(Modality.project(Text -> mb), Map(Text -> idx)),
          Dedup.incrementalDedup(spark, sf, Seq(Text)))),
        () => { idx.unpersist(); operators.Caches.release() })
    },
    "streaming image dedup ≡ batch classify under any chunking (q75 twin)" -> { () =>
      import operators.{DedupIndex, Modality, Multimodal}
      import Modality.Image
      val prefix = "graft_imgtwin"
      val dropAll = () =>
        DedupIndex.tables(prefix, Seq(Image)).foreach(DedupIndex.dropTable(spark, _))
      val all = Image.side(spark, sf, lit(true))
      val isNew = Modality.splitBucket === 4
      dropAll()
      // corpus = bases 0..10 only: batch images of bases 11..20 have no
      // corpus twin and must come back `new` (else the duality is
      // vacuously all-near_image on this dense fixture)
      DedupIndex.save(Map(Image ->
        all.filter(!isNew && expr("(doc_id div 3) % 21 < 11"))), prefix, buckets = 4)
      // the feed: the batch split's REAL PNG payloads in 3 file chunks
      Fixture(Seq(Pass(
          chunkedFeed(payloads(all, isNew, Multimodal.MediaCodec.pngNearFor), 3, "imgstream"),
          mb => DedupIndex.classify(Map(Image ->
            Multimodal.payloadHashes(mb, "dhash")(Multimodal.pngDHash)), prefix),
          DedupIndex.classify(Map(Image -> all.filter(isNew)), prefix),
          bothVerdicts("near_image"))),
        () => { operators.Caches.release(); spark.catalog.clearCache(); dropAll() })
    },
    "streaming audio+video dedup ≡ batch classify under any chunking (q78 twins)" -> { () =>
      import operators.{DedupIndex, Modality, Multimodal}
      import Modality.{Audio, Video}
      import Multimodal.MediaCodec
      val prefix = "graft_avtwin"
      val dropAll = () => DedupIndex.tables(prefix, Seq(Audio, Video))
        .foreach(DedupIndex.dropTable(spark, _))
      val afps = Audio.side(spark, sf, lit(true))
      val vids = Video.side(spark, sf, lit(true))
      val isNew = Modality.splitBucket === 4
      dropAll()
      // corpus = half the waveform/pattern bases, so some batch media
      // come back `new` (the image row's non-vacuity trick)
      DedupIndex.save(Map(
        Audio -> afps.filter(!isNew && expr("(doc_id div 3) % 17 < 9")),
        Video -> vids.filter(!isNew && expr("(doc_id div 3) % 13 < 7"))), prefix, buckets = 4)
      // real WAV and RAWV bytes, each streamed in 3 file chunks
      Fixture(Seq(
          Pass(chunkedFeed(payloads(afps, isNew, MediaCodec.wavNearFor), 3, "wav"),
            mb => DedupIndex.classify(Map(Audio -> Multimodal.payloadHashes(mb, "afp")(
              (_, b) => MediaCodec.audioFingerprint64(MediaCodec.pcmSamples(b)))), prefix),
            DedupIndex.classify(Map(Audio -> afps.filter(isNew)), prefix),
            bothVerdicts("near_audio")),
          Pass(chunkedFeed(payloads(vids, isNew, MediaCodec.rawvNearFor), 3, "rawv"),
            mb => DedupIndex.classify(Map(Video -> Multimodal.payloadHashes(mb, "dhash")(
              (_, b) => MediaCodec.vHash64(b))), prefix),
            DedupIndex.classify(Map(Video -> vids.filter(isNew)), prefix),
            bothVerdicts("near_video"))),
        () => { operators.Caches.release(); spark.catalog.clearCache(); dropAll() })
    },
    "streaming decontamination ≡ batch hits under any chunking (q72 twin)" -> { () =>
      import operators.Sampling
      // sf0.01: the sf0.001 corpus has NO natural 8-gram leakage across
      // the hash split (verified), which would make the duality vacuous
      val docs = graft.sources.Tables(spark, sf01, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("_eval", Sampling.hashBucket(col("doc_id"), 10) === 0)
      val train = docs.filter(!col("_eval")).select("doc_id", "text")
      // index = the benchmark gram index, cached like a deployment would
      val idx = Sampling.benchmarkGramIndex(Sampling.gramTokens(
        docs.filter(col("_eval")).select("doc_id", "text"))).cache()
      val hits = (df: DataFrame) => Sampling.contaminationHits(Sampling.gramTokens(df), idx)
      Fixture(Seq(Pass(chunkedFeed(train, 4, "decon"), hits, hits(train),
          want => assert(want.nonEmpty, "fixture should contain contaminated train docs"))),
        () => idx.unpersist())
    },
    "streaming self dedup ≡ batch repeated-gram scrub under any chunking (q95 twin)" -> { () =>
      // sf0.01: 27 documents carry intra-doc repeated 3-grams, so the
      // duality is non-vacuous on the scrubbed branch too
      val docs = graft.sources.Tables(spark, sf01, "documents")
        .select(col("doc_id"), col("text"))
      // batch truth = the declared q95 rows themselves
      Fixture(Seq(Pass(chunkedFeed(docs, 4, "selfdedup"),
        operators.TextOps.repeatedGramScrubFor(_),
        operators.TextOps.repeatedGramScrub(spark, sf01),
        want => assert(want.exists(_.getLong(2) > 0), "fixture should scrub repeated grams"))))
    },
    "streaming line dedup ≡ batch scrub under any chunking (q87 twin)" -> { () =>
      import operators.TextOps
      // sf0.01: boilerplate lines actually exist there (127 cross-doc
      // line hashes), so the duality is non-vacuous
      val docs = graft.sources.Tables(spark, sf01, "documents")
        .select(col("doc_id"), col("text"))
      val boiler = TextOps.boilerplateLines(TextOps.docLines(docs, 10)).cache()
      // batch truth = the declared q87 rows themselves
      Fixture(Seq(Pass(chunkedFeed(docs, 4, "linededup"),
          mb => TextOps.scrubLines(TextOps.docLines(mb, 10), boiler),
          TextOps.lineDedup(spark, sf01),
          want => assert(want.exists(_.getLong(2) > 0),
            "fixture should remove boilerplate lines"))),
        () => boiler.unpersist())
    },
    "streaming cross-doc span scrub ≡ batch incremental form under any chunking (q99 twin)" -> { () =>
      import operators.TextOps
      // sf0.01: 7 of the 108 feed-bucket docs share an 8-gram with the
      // corpus buckets, so the duality is non-vacuous
      val all = graft.sources.Tables(spark, sf01, "documents")
        .select(col("doc_id"), col("text"))
      val bucket = operators.Sampling.hashBucket(col("doc_id"), 10)
      val feed = all.filter(bucket >= 8)
      val index0 = TextOps.corpusGramIndex(all.filter(bucket < 8))
      val index = index0.copy(grams = index0.grams.cache())
      val scrub = (minSpan: Long) =>
        (df: DataFrame) => TextOps.scrubAgainstGramIndex(df, index, minSpan)
      lazy val removed = scrub(1L)(feed).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      // batch truth = the shared incremental form over the whole feed;
      // the second pass is q102's minimum-match-length rule at INGEST:
      // stream ≡ batch holds thresholded too, and a thresholded scrub
      // never removes more than the unthresholded one
      Fixture(Seq(
          Pass(chunkedFeed(feed, 4, "spanscrub"), scrub(1L), scrub(1L)(feed), want => {
            assert(want.exists(_.getLong(2) > 0), "fixture should scrub corpus-owned spans")
            assert(want.exists(_.getLong(2) == 0), "fixture should pass novel docs through")
          }),
          Pass(chunkedFeed(feed, 4, "spanscrub_min"), scrub(20L), scrub(20L)(feed),
            _.foreach { r =>
              assert(r.getLong(2) <= removed(r.getLong(0)),
                s"doc ${r.getLong(0)}: thresholded removed ${r.getLong(2)} > " +
                  s"unthresholded ${removed(r.getLong(0))}")
            })),
        () => index.grams.unpersist())
    },
    "streaming bigram-LM scoring ≡ batch incremental form under any chunking (q101 twin)" -> { () =>
      import operators.TextOps
      val all = graft.sources.Tables(spark, sf01, "documents")
        .select(col("doc_id"), col("text"))
      val bucket = operators.Sampling.hashBucket(col("doc_id"), 10)
      val feed = all.filter(bucket >= 8)
      // fit returns uni already cached (Caches.track); cache big too
      val lm0 = TextOps.bigramLmFit(all.filter(bucket < 8))
      val lm = lm0.copy(big = lm0.big.cache())
      // batch truth = the shared incremental form over the whole feed
      Fixture(Seq(Pass(chunkedFeed(feed, 4, "lmscore"),
          TextOps.bigramLmScoreAgainst(_, lm), TextOps.bigramLmScoreAgainst(feed, lm),
          want => assert(want.nonEmpty && want.forall(_.getDouble(2) < 0.0),
            "fixture should score feed docs with negative log-probs"))),
        () => { lm.big.unpersist(); operators.Caches.release(); spark.catalog.clearCache() })
    })

  dualities.foreach { case (name, setUp) =>
    test(name) {
      val fixture = setUp()
      try fixture.passes.foreach(runPass) finally fixture.tearDown()
    }
  }

  test("index refresh: classify → refreshed → next batch ≡ one-shot classify") {
    import graft.operators.{Dedup, Modality}
    import Modality.Text
    import spark.implicits._
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),          // exact of 1
      (11L, "eleven twelve thirteen fourteen fifteen sixteen seventeen") // new
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "eleven twelve thirteen fourteen fifteen sixteen seventeen"), // exact of 11
      (21L, "eleven twelve thirteen fourteen fifteen sixteen eighteen"),  // near of 11
      (22L, "entirely novel words never seen in any earlier document")    // new
    ).toDF("doc_id", "text")
    def classify(b: org.apache.spark.sql.DataFrame, idx: org.apache.spark.sql.DataFrame) =
      Dedup.classify(Modality.project(Text -> b), Map(Text -> idx))
    val idx0 = Text.project(corpus).cache()
    val v1 = classify(batch1, idx0)
    assert(verdicts(v1) ==
      Set((10L, "exact", Some(1L)), (11L, "new", None)))
    // WITHOUT the refresh, batch2's dups of doc 11 would sail through as
    // new — the refresh is load-bearing, not bookkeeping
    val unrefreshed = classify(batch2, idx0)
    assert(verdicts(unrefreshed).forall(_._2 == "new"))
    val idx1 = Dedup.refreshed(Map(Text -> idx0), Modality.project(Text -> batch1), v1)(Text)
      .cache()
    val v2 = classify(batch2, idx1)
    assert(verdicts(v2) == Set((20L, "exact", Some(11L)),
      (21L, "near", Some(11L)), (22L, "new", None)))
    // duality: the refreshed-index path must equal classifying batch2
    // against (corpus ∪ batch1's new survivors) in one shot
    val oneShot = classify(batch2, Text.project(
      corpus.unionByName(batch1.join(
        v1.filter($"status" === "new").select("doc_id"), Seq("doc_id")))))
    assert(verdicts(v2) == verdicts(oneShot))
    idx0.unpersist(); idx1.unpersist()
  }

  test("image near-dup: banding ≡ brute force, resolution-invariant, base-precise (q73)") {
    import graft.operators.Multimodal.MediaCodec
    import javax.imageio.ImageIO
    import java.io.ByteArrayInputStream
    val spark2 = spark
    import spark2.implicits._
    val got = operators.Multimodal.imageNearDupPairs(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    operators.Caches.release()
    spark.catalog.clearCache()
    // driver brute force through the SAME camera → decode → hash path
    val imgIds = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id").as[Long].collect().filter(_ % 3 == 0).sorted
    val hashes = imgIds.map(id => id -> MediaCodec.dHash64(
      ImageIO.read(new ByteArrayInputStream(MediaCodec.pngNearFor(id))))).toMap
    val brute = (for {
      a <- imgIds; b <- imgIds if a < b
      hd = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if hd <= 6
    } yield (a, b, hd.toLong)).toSet
    assert(brute.nonEmpty, "fixture must contain perceptual near-dups")
    // 8 disjoint bytes + hamming ≤ 6 < 8 ⇒ pigeonhole: the banded join
    // is EXACT, not approximate — full equality, no recall slack
    assert(got == brute,
      s"banded-only=${got -- brute} brute-only=${brute -- got}")
    // resolution invariance: pairs span DIFFERENT image dimensions
    // (id mod 8 drives w/h) — the pooled hash, not the raster, matches
    assert(got.exists { case (a, b, _) => a % 8 != b % 8 },
      "expected near-dup pairs across different resolutions")
    // precision: pattern-base groups dominate the pair set (cross-base
    // collisions are possible but must be rare)
    val sameBase = got.count { case (a, b, _) =>
      MediaCodec.nearDupImageBase(a) == MediaCodec.nearDupImageBase(b) }
    assert(sameBase.toDouble / got.size > 0.9,
      s"only $sameBase/${got.size} pairs share a pattern base")
  }

  test("video near-dup: banding ≡ brute force, dims/frame-count-invariant, base-precise (q77)") {
    import graft.operators.Multimodal.MediaCodec
    val spark2 = spark
    import spark2.implicits._
    val got = operators.Multimodal.videoNearDupPairs(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    operators.Caches.release()
    spark.catalog.clearCache()
    // driver brute force through the SAME camera → decode → hash path
    val vidIds = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id").as[Long].collect().filter(_ % 3 == 2).sorted
    val hashes = vidIds.map(id =>
      id -> MediaCodec.vHash64(MediaCodec.rawvNearFor(id))).toMap
    val brute = (for {
      a <- vidIds; b <- vidIds if a < b
      hd = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if hd <= 6
    } yield (a, b, hd.toLong)).toSet
    assert(brute.nonEmpty, "fixture must contain perceptual near-dups")
    // 8 disjoint bytes + hamming ≤ 6 < 8 ⇒ pigeonhole: exact
    assert(got == brute,
      s"banded-only=${got -- brute} brute-only=${brute -- got}")
    // invariance: pairs span different resolutions (id mod 4) AND
    // different frame counts (id mod 30)
    assert(got.exists { case (a, b, _) => a % 4 != b % 4 },
      "expected near-dup pairs across different resolutions")
    assert(got.exists { case (a, b, _) => a % 30 != b % 30 },
      "expected near-dup pairs across different frame counts")
    // precision: pattern-base groups dominate the pair set
    val sameBase = got.count { case (a, b, _) =>
      MediaCodec.nearDupVideoBase(a) == MediaCodec.nearDupVideoBase(b) }
    assert(sameBase.toDouble / got.size > 0.9,
      s"only $sameBase/${got.size} pairs share a pattern base")
  }

  test("audio near-dup: banding ≡ brute force, duration-invariant, base-precise (q76)") {
    import graft.operators.Multimodal.MediaCodec
    val spark2 = spark
    import spark2.implicits._
    val got = operators.Multimodal.audioNearDupPairs(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    operators.Caches.release()
    spark.catalog.clearCache()
    // driver brute force through the SAME microphone → decode →
    // fingerprint path
    val clipIds = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id").as[Long].collect().filter(_ % 3 == 1).sorted
    val fps = clipIds.map(id => id -> MediaCodec.audioFingerprint64(
      MediaCodec.pcmSamples(MediaCodec.wavNearFor(id)))).toMap
    val brute = (for {
      a <- clipIds; b <- clipIds if a < b
      hd = java.lang.Long.bitCount(fps(a) ^ fps(b)) if hd <= 4
    } yield (a, b, hd.toLong)).toSet
    assert(brute.nonEmpty, "fixture must contain perceptual near-dups")
    // 8 disjoint bytes + hamming ≤ 4 < 8 ⇒ pigeonhole: the banded join
    // is EXACT — full equality, no recall slack
    assert(got == brute,
      s"banded-only=${got -- brute} brute-only=${brute -- got}")
    // duration invariance: pairs span DIFFERENT clip lengths (id mod 60
    // drives the sample count) — the pooled fingerprint, not the raw
    // PCM, matches
    assert(got.exists { case (a, b, _) => a % 60 != b % 60 },
      "expected near-dup pairs across different durations")
    // precision: waveform-base groups dominate the pair set
    val sameBase = got.count { case (a, b, _) =>
      MediaCodec.nearDupAudioBase(a) == MediaCodec.nearDupAudioBase(b) }
    assert(sameBase.toDouble / got.size > 0.9,
      s"only $sameBase/${got.size} pairs share a waveform base")
  }

  test("streaming shard append: two-trigger replay ≡ the declared q104 rows (zero keyed state)") {
    import graft.streaming.ShardAppend
    val sfInc = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables(spark, sfInc, "documents")
      .select(col("doc_id"), col("text"))
    val bucket = graft.operators.Sampling.hashBucket(col("doc_id"), 10)
    def day(p: org.apache.spark.sql.Column): Seq[(Long, String)] =
      docs.filter(p).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val day1 = day(bucket < 8)
    val day2 = day(bucket >= 8)
    assert(day1.nonEmpty && day2.nonEmpty, "both days must carry docs")
    // the q104 day-1/day-2 split replayed as two micro-batches: trigger 1
    // creates the store, trigger 2 appends from the next whole-shard
    // boundary — the ingest twin of the batch two-day shape
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val path = java.nio.file.Files.createTempDirectory("graft_shard_stream")
      .resolve("store").toString
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Seq[Any]])]
    val day3 = Seq((900001L, "fresh delta alpha"), (900002L, "fresh delta beta"))
    val q = ShardAppend.start(ms.toDF().toDF("doc_id", "text"), path,
      budget = 512, seqsPerShard = 8, (rows, id) =>
        reports.synchronized {
          reports += ((id, rows.collect().toSeq.map(_.toSeq)))
        })
    try {
      ms.addData(day1: _*); q.processAllAvailable()
      ms.addData(day2: _*); q.processAllAvailable()
      // day-3 trigger exercised further down, against the SAME query —
      // a fresh query on the same MemoryStream would replay days 1+2
      ms.addData(day3: _*); q.processAllAvailable()
    } finally q.stop()
    graft.operators.Caches.release()
    assert(reports.size === 3, s"expected 3 per-trigger reports, got ${reports.size}")
    // zero keyed state: the query plan holds no stateful operators — the
    // shard store itself is the state (restart-safe by construction)
    // (foreachBatch sinks have no state store; pinned by the progress
    // metrics reporting no state operators)
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      s"unexpected keyed state: ${q.lastProgress.stateOperators.mkString(",")}")
    // trigger-2's full-store read-back == the DECLARED q104 rows (same
    // split, same knobs, pure functions all the way down)
    val want = graft.operators.Packing.appendShards(spark, sfInc)
      .collect().toSeq.map(_.toSeq)
    graft.operators.Caches.release()
    val day2Report = reports(1)._2
    assert(day2Report === want,
      s"stream store drifted from the declared q104 rows")
    // trigger-1 rows are a PREFIX story: day-1 shards unchanged by the
    // append (the batch spec pins bytes; here we pin the report rows)
    val day1Rows = reports.head._2.map(r => r.head -> r).toMap
    day2Report.filter(r => day1Rows.contains(r.head)).foreach { r =>
      assert(day1Rows(r.head) === r, s"day-1 shard ${r.head} report changed")
    }
    // day 3 — append on top of an APPEND: the boundary probe must read
    // the GROWN store's max shard (day 2's), not day 1's, and both
    // prior days' report rows must ride through untouched
    val day2Max = day2Report.map(_.head.asInstanceOf[Long]).max
    val day3Report = reports(2)._2
    val prior = day2Report.map(r => r.head -> r).toMap
    day3Report.filter(r => prior.contains(r.head)).foreach { r =>
      assert(prior(r.head) === r, s"prior shard ${r.head} report changed by day 3")
    }
    val freshShards = day3Report.map(_.head.asInstanceOf[Long]).toSet --
      prior.keySet.map(_.asInstanceOf[Long])
    assert(freshShards.nonEmpty && freshShards.forall(_ > day2Max),
      s"day-3 delta landed in old shards: $freshShards (day-2 max $day2Max)")
    // mass conservation across all three days
    assert(day3Report.map(_(2).asInstanceOf[Long]).sum ===
      day1.size + day2.size + day3.size)
  }

  test("streaming model quota: chunked replay ≡ the declared q108 rows (zero keyed state, 20th twin)") {
    import graft.streaming.QuotaScore
    val sfQ = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables(spark, sfQ, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val bucket = graft.operators.Sampling.hashBucket(col("doc_id"), 3)
    def chunk(i: Int): Seq[(Long, String, String)] =
      docs.filter(bucket === i).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val chunks = (0 until 3).map(chunk)
    assert(chunks.forall(_.nonEmpty), "every chunk must carry docs")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val path = java.nio.file.Files.createTempDirectory("graft_quota_stream")
      .resolve("store").toString
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Seq[Any]])]
    val q = QuotaScore.start(
      ms.toDF().toDF("doc_id", "source", "text"), path, k = 10, salts = 8,
      (rows, id) => reports.synchronized {
        reports += ((id, rows.collect().toSeq.map(_.toSeq)))
      })
    try {
      chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    graft.operators.Caches.release()
    assert(reports.size === 3, s"expected 3 per-trigger reports, got ${reports.size}")
    // zero keyed state: scoring is stateless per-row and the scored
    // store is the only accumulated state — no state operators
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty,
      s"unexpected keyed state: ${q.lastProgress.stateOperators.mkString(",")}")
    // the LAST trigger's report — computed from the accumulated store —
    // equals the DECLARED q108 rows over the same corpus: the duality
    val want = graft.operators.Sampling.modelQuota(spark, sfQ)
      .collect().toSeq.map(_.toSeq)
    graft.operators.Caches.release()
    assert(reports.last._2 === want,
      "streamed quota drifted from the declared q108 rows")
    // intermediate triggers are the quota of their PREFIX corpus — the
    // per-source doc mass must be non-decreasing across triggers
    val perTrigger: Seq[Map[Any, Long]] = reports.toSeq.map(
      _._2.map(r => r.head -> r(1).asInstanceOf[Long]).toMap)
    perTrigger.iterator.sliding(2).withPartial(false).foreach { w =>
      val (a, b) = (w.head, w.last)
      a.foreach { case (src, n) =>
        assert(b(src) >= n, s"source $src doc mass shrank across triggers")
      }
    }
    // replay: re-applying the last chunk's batch id is a no-op
    import spark.implicits._
    val replay = chunks(2).toDF("doc_id", "source", "text")
    assert(QuotaScore.applyBatch(replay, 2L, path, 10, 8).isEmpty,
      "replayed batch must be skipped")
    val after = QuotaScore.report(spark, path, 10, 8).collect().toSeq.map(_.toSeq)
    graft.operators.Caches.release()
    assert(after === want, "replay changed the stored quota")
  }

  test("shard append replay: a re-executed batch is a no-op (r14 ADVICE idempotence)") {
    import graft.streaming.ShardAppend
    import spark.implicits._
    // Structured Streaming re-executes the LAST batch after a sink
    // failure or restart; applyBatch must skip a batch id the store's
    // marker already committed, or replay duplicates rows and breaks
    // the mass-conservation invariant the twin spec pins.
    val path = java.nio.file.Files.createTempDirectory("graft_shard_replay")
      .resolve("store").toString
    val b0 = Seq((1L, "alpha bravo"), (2L, "charlie delta")).toDF("doc_id", "text")
    val b1 = Seq((3L, "echo foxtrot"), (4L, "golf hotel")).toDF("doc_id", "text")
    def storeRows() = spark.read.parquet(path)
      .select(col("shard_id").cast("long"), col("seq_id"), col("doc_id"))
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(Ingest.committedBatch(path) === -1L) // no store, no marker
    assert(ShardAppend.applyBatch(b0, 0L, path, 512L, 8L).isDefined)
    assert(Ingest.committedBatch(path) === 0L)
    assert(ShardAppend.applyBatch(b1, 1L, path, 512L, 8L).isDefined)
    assert(Ingest.committedBatch(path) === 1L)
    val afterB1 = storeRows()
    assert(afterB1.size === 4)
    // the replay: same batch id re-executed — skipped, store untouched
    assert(ShardAppend.applyBatch(b1, 1L, path, 512L, 8L).isEmpty,
      "replayed batch must be skipped")
    assert(storeRows() === afterB1, "replay mutated the store")
    // stale replay of an EARLIER batch (multi-batch restart window):
    // also skipped
    assert(ShardAppend.applyBatch(b0, 0L, path, 512L, 8L).isEmpty)
    assert(storeRows() === afterB1)
    // a genuinely NEW batch still applies and advances the marker
    val b2 = Seq((5L, "india juliet")).toDF("doc_id", "text")
    assert(ShardAppend.applyBatch(b2, 2L, path, 512L, 8L).isDefined)
    assert(Ingest.committedBatch(path) === 2L)
    assert(storeRows().size === 5)
    // an unreadable marker fails OPEN: it reads as -1, so the next batch
    // is re-applied, never silently dropped
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_graft_last_batch"),
      "not a batch id".getBytes("UTF-8"))
    assert(Ingest.committedBatch(path) === -1L)
    val b3 = Seq((6L, "kilo lima")).toDF("doc_id", "text")
    assert(ShardAppend.applyBatch(b3, 3L, path, 512L, 8L).isDefined)
    assert(Ingest.committedBatch(path) === 3L)
    assert(storeRows().size === 6)
    graft.operators.Caches.release()
  }

  test("three-tier index refresh: classify → refreshed3 → next batch ≡ one-shot") {
    import graft.operators.{Dedup, Modality}
    import Modality.{Embedding, Text}
    import spark.implicits._
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    // tiny embedding space: dim=4, 8 sketch bits in 4 bands
    val emb = Embedding(bits = 8, dim = 4, bands = 4)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val corpusEmb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("doc_id", "embedding")
    val batch1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),           // exact of 1
      (11L, "eleven twelve thirteen fourteen fifteen sixteen seventeen") // new
    ).toDF("doc_id", "text")
    val batch1Emb = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("doc_id", "embedding")
    // batch2: doc 20 is LEXICALLY unrelated to everything but its
    // embedding equals doc 11's — a semantic dup only the refreshed
    // EMBEDDING index can catch; doc 21 is new on every tier
    val batch2 = Seq(
      (20L, "totally different surface form with no shared phrasing at all"),
      (21L, "entirely novel words never seen in any earlier document")
    ).toDF("doc_id", "text")
    val batch2Emb = Seq(
      (20L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (21L, Seq(-0.5f, -0.5f, -0.5f, -0.5f))).toDF("doc_id", "embedding")
    def classify(b: org.apache.spark.sql.DataFrame, be: org.apache.spark.sql.DataFrame,
                 index: Map[Modality, org.apache.spark.sql.DataFrame]) =
      Dedup.classify(Modality.project(Text -> b, emb -> be), index)
    val index0 = Modality.project(Text -> corpus, emb -> corpusEmb)
      .map { case (m, df) => m -> df.cache() }
    val v1 = classify(batch1, batch1Emb, index0)
    assert(verdicts(v1) == Set((10L, "exact", Some(1L)), (11L, "new", None)))
    // WITHOUT the refresh, batch2 sails through as new on every tier
    assert(verdicts(classify(batch2, batch2Emb, index0))
      .forall(_._2 == "new"))
    val index1 = Dedup.refreshed(index0,
      Modality.project(Text -> batch1, emb -> batch1Emb), v1)
      .map { case (m, df) => m -> df.cache() }
    val v2 = classify(batch2, batch2Emb, index1)
    assert(verdicts(v2) == Set((20L, "near_embedding", Some(11L)),
      (21L, "new", None)),
      "the refreshed embedding index must catch the semantic dup")
    // duality: refreshed-index classify ≡ one-shot against the unioned
    // corpus — the index refresh IS the corpus union, tier for tier
    val new1 = batch1.join(v1.filter($"status" === "new").select("doc_id"),
      Seq("doc_id"))
    val new1Emb = batch1Emb.join(v1.filter($"status" === "new").select("doc_id"),
      Seq("doc_id"))
    val oneShot = classify(batch2, batch2Emb, Modality.project(
      Text -> corpus.unionByName(new1), emb -> corpusEmb.unionByName(new1Emb)))
    assert(verdicts(v2) == verdicts(oneShot))
    index0.values.foreach(_.unpersist())
    spark.catalog.clearCache()
  }

  test("streaming centroid drift: windowed sums ≡ batch, drift cosine sane") {
    import graft.streaming.CentroidDrift
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    // embeddings spread across 3 hours by vec_id; +1 flush row far past
    // the watermark horizon so every real window closes and emits
    val base = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        timestamp_seconds(lit(1700000000L) + pmod(col("vec_id") * 997L, lit(3L * 3600L)))
          .as("ingest_ts"))
    val flush = base.limit(1)
      .withColumn("ingest_ts", timestamp_seconds(lit(1700000000L + 8L * 3600L)))
      .withColumn("label", lit(9999))
    base.unionByName(flush).write.mode("overwrite").parquet(s"$dir/vecs")
    val stream = spark.readStream
      .schema(base.schema).option("maxFilesPerTrigger", 1).parquet(s"$dir/vecs")
    val got = graft.streaming.Sessionize.runOnce(spark,
      CentroidDrift.windowedCentroidSums(stream), "drift_test")
      .filter(col("label") =!= 9999)
    val batch = base
      .select(col("label"), col("ingest_ts"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(window(col("ingest_ts"), "1 hour"), col("label"), col("pos"))
      .agg(sum(col("v").cast("double")).as("s"), count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("label"), col("pos"),
        col("s"), col("n"))
    assert(got.count() == batch.count(),
      s"stream emitted ${got.count()} sum rows, batch has ${batch.count()}")
    val mismatch = got.as("g").join(batch.as("b"), Seq("win_start", "label", "pos"))
      .filter(col("g.n") =!= col("b.n") || abs(col("g.s") - col("b.s")) > 1e-9)
    assert(mismatch.count() == 0, "windowed sums must match batch exactly")
    // drift post-processing: one cosine per (label, non-first window a
    // label APPEARS in — epoch-aligned windows make the edge windows
    // partial, so not every label reaches every window), all in [-1, 1]
    val drift = CentroidDrift.driftBetweenWindows(CentroidDrift.assemble(got))
    val expected = got.select("label", "win_start").distinct()
      .groupBy("label").count().collect().map(_.getLong(1) - 1).sum
    assert(drift.count() == expected)
    assert(drift.filter(col("cos_to_prev") < -1.0 - 1e-9 ||
      col("cos_to_prev") > 1.0 + 1e-9).count() == 0)
  }

  test("drift alerter: pure-batch chaining across the state boundary") {
    import graft.streaming.CentroidDrift
    val t0 = 1700002800L // hour-aligned epoch
    def ts(h: Int) = new java.sql.Timestamp((t0 + h * 3600L) * 1000L)
    val state = Seq((1, ts(0), Seq(1.0, 0.0))).toDF("label", "win_start", "centroid")
    // two new windows for label 1: w1 agrees with the remembered w0
    // (cos 1), w2 flips (cos -1) — the first pair CROSSES the state
    // boundary, the second is intra-batch
    val fresh = Seq(
      (1, ts(1), Seq(1.0, 0.0)),
      (1, ts(2), Seq(-1.0, 0.0))).toDF("label", "win_start", "centroid")
    val (alerts, next) = CentroidDrift.alertsAndState(fresh, state, minCos = 0.5)
    val a = alerts.collect()
    assert(a.length == 1 && a.head.getInt(0) == 1 &&
      a.head.getTimestamp(1) == ts(2) && a.head.getDouble(2) < -0.99,
      a.mkString(";"))
    // next state = newest window per label, ready for the next batch
    val n = next.collect()
    assert(n.length == 1 && n.head.getTimestamp(1) == ts(2))
    // a spike ACROSS the boundary also fires: state w2(flipped) + new w3(back)
    val (alerts2, _) = CentroidDrift.alertsAndState(
      Seq((1, ts(3), Seq(1.0, 0.0))).toDF("label", "win_start", "centroid"),
      next, minCos = 0.5)
    assert(alerts2.count() == 1)
  }

  test("drift alerter state survives a restart via the persisted snapshots") {
    import graft.streaming.CentroidDrift
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_state").toString
    val t0 = 1700002800L
    def ts(h: Int) = new java.sql.Timestamp((t0 + h * 3600L) * 1000L)
    val w0 = Seq((1, ts(0), Seq(1.0, 0.0))).toDF("label", "win_start", "centroid")
    val schema = w0.schema
    // "session 1": batch 0 closes window w0; its chaining state persists
    val (_, s0) = CentroidDrift.alertsAndState(w0,
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      minCos = 0.5)
    CentroidDrift.saveState(spark, dir, 0L, s0.collect(), schema)
    // "session 2" (driver restarted — in-memory state gone): the replayed
    // query's first batch is id 1; loading snapshots < 1 recovers w0, so
    // the boundary-spanning flip w0→w1 still alerts
    val recovered = CentroidDrift.loadState(spark, dir, beforeBatchId = 1L, schema)
    assert(recovered.length == 1 && recovered.head.getTimestamp(1) == ts(0))
    val w1 = Seq((1, ts(1), Seq(-1.0, 0.0))).toDF("label", "win_start", "centroid")
    val (alerts, s1) = CentroidDrift.alertsAndState(w1,
      spark.createDataFrame(java.util.Arrays.asList(recovered: _*), schema),
      minCos = 0.5)
    assert(alerts.count() == 1, "the restart-spanning window pair must alert")
    CentroidDrift.saveState(spark, dir, 1L, s1.collect(), schema)
    // crash-replay idempotence: batch 1 re-runs after its state was
    // already written — the load looks STRICTLY BEFORE the replayed id,
    // so it chains against s0 again, not against its own output
    val replayed = CentroidDrift.loadState(spark, dir, beforeBatchId = 1L, schema)
    assert(replayed.length == 1 && replayed.head.getTimestamp(1) == ts(0))
    // and pruning keeps only the newest still-needed snapshot
    val afterB2 = CentroidDrift.loadState(spark, dir, beforeBatchId = 2L, schema)
    assert(afterB2.length == 1 && afterB2.head.getTimestamp(1) == ts(1))
    assert(!new java.io.File(s"$dir/state_0.parquet").exists(),
      "older snapshots must be pruned on load")
    // r10: pruning also happens on SAVE (a long-running query must not
    // grow one snapshot dir entry per micro-batch) — after saving
    // batches 2 and 3, only the latest two snapshots survive
    CentroidDrift.saveState(spark, dir, 2L, s1.collect(), schema)
    CentroidDrift.saveState(spark, dir, 3L, s1.collect(), schema)
    val left = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("state_")).sorted
    assert(left.sameElements(Array("state_2.parquet", "state_3.parquet")),
      left.mkString(","))
  }

  test("streaming drift alert: injected spike fires exactly one alert") {
    import graft.streaming.CentroidDrift
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_alert").toString
    val t0 = 1700002800L // hour-aligned
    def rows(win: Int, vs: Seq[Array[Float]]): Seq[(Int, Array[Float], Long)] =
      vs.zipWithIndex.map { case (v, i) => (1, v, t0 + win * 3600L + 60L + i * 60L) }
    def write(data: Seq[(Int, Array[Float], Long)]): Unit =
      data.toDF("label", "embedding", "ts")
        .select(col("label"), col("embedding"),
          timestamp_seconds(col("ts")).as("ingest_ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    // three windows for label 1: w0≈w1 (no drift), w2 flipped (the spike)
    write(rows(0, Seq(Array(1f, 0f, 0f, 0f), Array(1f, 0.1f, 0f, 0f))) ++
          rows(1, Seq(Array(1f, 0.05f, 0f, 0f), Array(1f, 0f, 0f, 0f))) ++
          rows(2, Seq(Array(-1f, 0f, 0f, 0f), Array(-1f, -0.05f, 0f, 0f))))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val alerts = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Row]
    val q = CentroidDrift.startAlerts(
      CentroidDrift.windowedCentroidSums(stream), minCos = 0.5,
      (a, _) => alerts ++= a.collect())
    try {
      q.processAllAvailable()
      // flush rows land in SEPARATE later files so the watermark closes
      // w0 first (one trigger) and w1+w2 after (another) — the spike pair
      // must chain across the alerter's remembered state
      write(Seq((9999, Array(0f, 0f, 0f, 1f), t0 + 12 * 3600L)))
      q.processAllAvailable()
      write(Seq((9999, Array(0f, 0f, 0f, 1f), t0 + 13 * 3600L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(alerts.size == 1, s"expected exactly one alert, got: $alerts")
    val al = alerts.head
    assert(al.getInt(0) == 1 &&
      al.getTimestamp(1) == new java.sql.Timestamp((t0 + 2 * 3600L) * 1000L) &&
      al.getDouble(2) < -0.99, al.toString)
  }

  test("streaming: dedup-within-watermark removes duplicated events") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    val events = graft.sources.Tables(spark, sf, "events")
    // duplicate the whole table: every event_id appears twice
    events.unionByName(events).write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/ev")
    val out = Sessionize.runOnce(spark,
      Sessionize.streamingDedup(stream), "dedup_test")
    assert(out.count() == events.count(),
      "each duplicated event_id must survive exactly once")
  }

  test("streaming exact dedup: chunked replay ≡ batch exactDedup, state bounded by distinct content") {
    // corpus + a full clone of every document (ids offset, arriving
    // 30 min later): every content hash appears at least twice across
    // micro-batches, and the original (smaller doc_id) arrives first —
    // the keeper the batch pass picks via min(doc_id)
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val orig = docs.withColumn("ingest_ts",
      timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val clones = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .withColumn("ingest_ts",
        timestamp_seconds(lit(1700000000L) + (col("doc_id") - 100000) + 1800))
    val all = orig.unionByName(clones)
    val nTotal = all.count()
    // 8 time-ordered chunks with pinned mtimes (the soak replay pattern)
    val dir = java.nio.file.Files.createTempDirectory("graft_exdedup").toString
    val byTime = org.apache.spark.sql.expressions.Window.orderBy("ingest_ts", "doc_id")
    val chunked = all.withColumn("_chunk", ntile(8).over(byTime))
    val seenFiles = scala.collection.mutable.Set.empty[String]
    val mtimeBase = System.currentTimeMillis() - 120000L
    (1 to 8).foreach { i =>
      chunked.filter(col("_chunk") === i).drop("_chunk")
        .coalesce(1).write.mode("append").parquet(dir)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try files.iterator().forEachRemaining { p =>
        val f = p.getFileName.toString
        if (f.endsWith(".parquet") && seenFiles.add(f))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 2000L))
      } finally files.close()
    }
    val stream = spark.readStream
      .schema(orig.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val report = Sessionize.runWithProgress(spark,
      Sessionize.streamingExactDedup(stream, watermark = "2 hours"),
      "exdedup_test")
    val batch = operators.Dedup.exactDedup(spark, sf)
      .select(col("text_hash"), col("keeper_id"))
    val nHashes = batch.count()
    assert(report.microBatches >= 8,
      s"expected one micro-batch per chunk, saw ${report.microBatches}")
    // output schema = input schema: the internal text_hash helper must
    // NOT leak (batch exactDedup contract)
    assert(report.result.columns.sameElements(orig.columns),
      s"schema drift: ${report.result.columns.mkString(",")} vs ${orig.columns.mkString(",")}")
    // output ≡ batch: same hashes, same keepers (first arrival = min id)
    val got = report.result
      .withColumn("text_hash", md5(col("text")))
      .select(col("text_hash"), col("doc_id"))
    assert(got.count() == nHashes,
      s"one survivor per content hash: ${got.count()} vs $nHashes")
    val mismatched = got.join(batch, Seq("text_hash"), "full")
      .filter(col("doc_id").isNull || col("keeper_id").isNull ||
        col("doc_id") =!= col("keeper_id"))
    assert(mismatched.count() == 0,
      s"streaming keepers disagree with batch: ${mismatched.collect().take(3).mkString}")
    // bounded state: one key per DISTINCT content hash, never per row
    assert(report.maxStateRows > 0 && report.maxStateRows <= nHashes,
      s"dedup state ${report.maxStateRows} must be bounded by distinct " +
        s"hashes ($nHashes), not streamed rows ($nTotal)")
  }

  test("streaming minhash near-dup: chunked replay ≡ batch q27 pairs, bounded state") {
    // the batch MinHash+LSH pass is ground truth: the streaming bucket
    // state must discover exactly the banded candidate set, with the
    // identical signature-agreement score
    val batch = operators.Dedup.minhashLshPairs(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("ingest_ts",
        timestamp_seconds(lit(1700000000L) + col("doc_id")))
    // 6 time-ordered chunks with pinned mtimes (the soak replay pattern)
    val dir = java.nio.file.Files.createTempDirectory("graft_snd").toString
    val byTime = org.apache.spark.sql.expressions.Window.orderBy("ingest_ts", "doc_id")
    val chunked = docs.withColumn("_chunk", ntile(6).over(byTime))
    val seenFiles = scala.collection.mutable.Set.empty[String]
    val mtimeBase = System.currentTimeMillis() - 120000L
    (1 to 6).foreach { i =>
      chunked.filter(col("_chunk") === i).drop("_chunk")
        .coalesce(1).write.mode("append").parquet(dir)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try files.iterator().forEachRemaining { p =>
        val f = p.getFileName.toString
        if (f.endsWith(".parquet") && seenFiles.add(f))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 2000L))
      } finally files.close()
    }
    val stream = spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("ingest_ts",
            org.apache.spark.sql.types.TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val report = Sessionize.runWithProgress(spark,
      NearDup.streamingMinhashPairs(stream, watermark = "1 hour").toDF(),
      "snd_test")
    assert(report.microBatches >= 6,
      s"expected one micro-batch per chunk, saw ${report.microBatches}")
    // a pair sharing several bands is emitted once per band → distinct
    val got = report.result.distinct()
    val batchRows = batch.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotRows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchRows.nonEmpty, "testdata should contain banded candidates")
    assert(gotRows == batchRows,
      s"streaming pairs disagree with batch: missing=${(batchRows -- gotRows).take(3)} " +
        s"extra=${(gotRows -- batchRows).take(3)}")
    // bounded state: rows = live (band, key) buckets, never streamed docs × bands
    val nBuckets = operators.Dedup.minhashSignatures(spark, sf)
      .select((0 until 4).map(bd => concat_ws("_",
        (0 until 3).map(j => col(s"mh_${bd * 3 + j}")): _*).as(s"k$bd")): _*)
      .selectExpr("stack(4, 0, k0, 1, k1, 2, k2, 3, k3) as (band, key)")
      .distinct().count()
    assert(report.maxStateRows > 0 && report.maxStateRows <= nBuckets,
      s"bucket state ${report.maxStateRows} must be bounded by live " +
        s"buckets ($nBuckets)")
    // released LAST: the tracked signature cache feeds the batch
    // ground-truth collect and the bucket count above — releasing it
    // before those actions would recompute the pipeline per consumer
    graft.operators.Caches.release()
  }

  /** One (doc_id, text, minutes-after-base) chunk per file, mtimes pinned
    * so maxFilesPerTrigger=1 replays them as one micro-batch each, in
    * order. */
  private def writeNearDupChunks(
      chunks: Seq[Seq[(Long, String, Long)]]): String = {
    import spark.implicits._
    val base = 1700000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_sndc").toString
    val seen = scala.collection.mutable.Set.empty[String]
    val mtimeBase = System.currentTimeMillis() - 600000L
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "_min")
        .select(col("doc_id"), col("text"),
          timestamp_seconds(lit(base) + col("_min") * 60L).as("ingest_ts"))
        .coalesce(1).write.mode("append").parquet(dir)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try files.iterator().forEachRemaining { p =>
        val f = p.getFileName.toString
        if (f.endsWith(".parquet") && seen.add(f))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 2000L))
      } finally files.close()
    }
    dir
  }

  private def nearDupStream(dir: String) = {
    import org.apache.spark.sql.types._
    spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("ingest_ts", TimestampType))))
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  test("streaming near-dup: event-time eviction fires, late arrivals don't shrink retention") {
    // identical texts share every band bucket; distinct texts share none.
    // Timeline (minutes, horizon = 10 min watermark):
    //   c1 A(1,X,20)  c2 L(2,X,12)   L is LATE-but-valid (wm=10): emits
    //     (1,2) and must EXTEND nothing — deadline stays newest(20)+10=30.
    //     Deriving the deadline from the batch max alone (12+10=22) is
    //     the premature-eviction bug this test pins.
    //   c3 M(3,Y,35)  advances the watermark to 25 after the batch
    //   c4 O(5,Z,26)  bucket X is idle at wm=25: a 22-deadline would
    //     time out HERE; the correct 30-deadline survives
    //   c5 N(4,X,36)  must still find A and L → pairs (1,4),(2,4)
    //   c6 P(6,W,70)  advances the watermark to 60 after the batch
    //   c7 Q(7,W,71)  at wm=60 buckets X(46) Y(45) Z(36) are idle and
    //     expired → evicted; only W's 4 band buckets remain
    val X = "alpha beta gamma delta"
    val Y = "epsilon zeta eta theta"
    val Z = "iota kappa lambda mu"
    val W = "nu xi omicron pi"
    val dir = writeNearDupChunks(Seq(
      Seq((1L, X, 20L)), Seq((2L, X, 12L)), Seq((3L, Y, 35L)),
      Seq((5L, Z, 26L)), Seq((4L, X, 36L)), Seq((6L, W, 70L)),
      Seq((7L, W, 71L))))
    val report = Sessionize.runWithProgress(spark,
      NearDup.streamingMinhashPairs(
        nearDupStream(dir), watermark = "10 minutes").toDF(),
      "snd_evict")
    val gotRows = report.result.distinct().collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = Set((1L, 2L, 1.0), (1L, 4L, 1.0), (2L, 4L, 1.0),
      (6L, 7L, 1.0))
    assert(gotRows == expected,
      s"missing=${expected -- gotRows} extra=${gotRows -- expected} — a " +
        "missing (1,4)/(2,4) means a late arrival shrank the bucket deadline")
    // eviction proof: X, Y, Z buckets are gone; only W's 4 band rows live
    assert(report.finalStateRows == 4L,
      s"expected only W's 4 band buckets after eviction, " +
        s"state=${report.finalStateRows}")
    // the eviction horizon parses the watermark string exactly as
    // `withWatermark` does, compound intervals included
    import graft.streaming.Watermarks.delayMs
    assert(delayMs("10 minutes") === 600000L)
    assert(delayMs("1 hour") === 3600000L)
    assert(delayMs("1 minute 30 seconds") === 90000L)
    assert(delayMs("1 week") === 604800000L)
    intercept[Exception](delayMs("ten minutes"))
  }

  test("streaming near-dup: bucket cap stops accumulation, retained prefix still pairs") {
    // three identical docs, maxBucket=1: only the first-processed doc is
    // stored, so the other two each pair with IT and never with each
    // other — the documented recall trade of the cap, order-robust
    val X = "rho sigma tau upsilon"
    val dir = writeNearDupChunks(Seq(
      Seq((1L, X, 0L), (2L, X, 1L), (3L, X, 2L))))
    val metrics = NearDup.overflowMetrics(spark)
    val report = Sessionize.runWithProgress(spark,
      NearDup.streamingMinhashPairs(
        nearDupStream(dir), watermark = "1 hour", maxBucket = 1,
        overflow = Some(metrics)).toDF(),
      "snd_cap")
    // observability of the recall trade: per band bucket (4 bands, one
    // shared text) two arrivals were declined → 8 dropped members, and
    // each bucket counts as overflowed exactly ONCE (the latch), not
    // once per decline
    assert(metrics.droppedMembers.value == 8L,
      s"expected 2 declined docs x 4 band buckets, got ${metrics.droppedMembers.value}")
    assert(metrics.overflowedBuckets.value == 4L,
      s"expected each of the 4 buckets to latch once, got ${metrics.overflowedBuckets.value}")
    val pairs = report.result.distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == 2, s"cap=1 must yield exactly 2 pairs, got $pairs")
    val common = pairs.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).collect { case (id, occ) if occ.size == 2 => id }
    assert(common.size == 1,
      s"both pairs must share the single stored doc, got $pairs")
    assert(pairs.flatMap { case (a, b) => Set(a, b) } == Set(1L, 2L, 3L),
      s"every doc pairs against the stored one, got $pairs")
    // state holds exactly the one stored member per band bucket
    assert(report.finalStateRows == 4L,
      s"cap=1 over one text = 4 band buckets, state=${report.finalStateRows}")
  }

  test("streaming: batch and streaming sessionization agree on closed sessions") {
    // the batch q42 formulation is ground truth; every session the
    // streaming path closes must match a batch session exactly
    val batch = operators.Relational.sessionizeEvents(spark, sf)
    val ev = graft.sources.Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Sessionize.Event]
    val dir = java.nio.file.Files.createTempDirectory("graft_bs").toString
    ev.write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Sessionize.Event]].schema)
      .parquet(s"$dir/ev").as[Sessionize.Event]
    val streamed = Sessionize.runOnce(spark,
      Sessionize.sessionize(stream).toDF(), "bs_test")
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))
    val joined = streamed.join(
      batch.select(col("user_id"), col("session_start"),
        col("n_events").as("batch_n")),
      Seq("user_id", "session_start"), "left")
    assert(streamed.count() > 0, "some sessions must close")
    val mismatched = joined.filter(
      col("batch_n").isNull || col("batch_n") =!= col("n_events"))
    assert(mismatched.count() == 0,
      s"streaming sessions disagree with batch: ${mismatched.collect().take(3).mkString}")
  }

  test("streaming soak: chunked replay runs many micro-batches with bounded state") {
    // replay the events table as 8 time-ordered chunks, one micro-batch
    // each (maxFilesPerTrigger=1): the watermark advances between
    // batches, event-time timeouts fire mid-stream, and state must stay
    // bounded by LIVE USERS (one open session each) — never grow with
    // total events. This is the local-mode analogue of a long-running
    // production stream; single-batch tests can't exercise state
    // eviction at all.
    val ev = graft.sources.Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Sessionize.Event]
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    val dir = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val byTime = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val chunked = ev.toDF().withColumn("_chunk", ntile(8).over(byTime))
    // FileStreamSource replays files in modification-time order, and two
    // fast appends can land in the same coarse mtime tick — pin a
    // strictly increasing mtime per chunk so replay order is
    // deterministic, not a filesystem-granularity coin flip
    val seenFiles = scala.collection.mutable.Set.empty[String]
    val mtimeBase = System.currentTimeMillis() - 120000L
    (1 to 8).foreach { i =>
      chunked.filter(col("_chunk") === i).drop("_chunk")
        .coalesce(1).write.mode("append").parquet(dir)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try files.iterator().forEachRemaining { p =>
        val f = p.getFileName.toString
        if (f.endsWith(".parquet") && seenFiles.add(f))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 2000L))
      } finally files.close()
    }
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Sessionize.Event]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir).as[Sessionize.Event]
    val report = Sessionize.runWithProgress(spark,
      Sessionize.sessionize(stream).toDF(), "soak_test")
    assert(report.microBatches >= 8,
      s"expected one micro-batch per chunk, saw ${report.microBatches}")
    assert(report.result.count() > 0, "sessions must close mid-stream")
    assert(report.maxStateRows > 0 && report.maxStateRows <= nUsers,
      s"state ${report.maxStateRows} must be bounded by live users ($nUsers), " +
        s"not events ($nEvents)")
    // and every closed session still matches the batch ground truth
    val batch = operators.Relational.sessionizeEvents(spark, sf)
      .select(col("user_id"), col("session_start"), col("n_events").as("batch_n"))
    val got = report.result.select(col("user_id"),
      date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
      col("n_events"))
    val mismatched = got.join(batch, Seq("user_id", "session_start"), "left")
      .filter(col("batch_n").isNull || col("batch_n") =!= col("n_events"))
    assert(mismatched.count() == 0)
  }

  test("streaming: stream-stream range join matches the batch range join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    val events = graft.sources.Tables(spark, sf, "events")
    events.write.mode("overwrite").parquet(s"$dir/ev")
    def stream = spark.readStream.schema(events.schema).parquet(s"$dir/ev")
    val got = Sessionize.runOnce(spark,
      Sessionize.errorsWithRecentClicks(stream), "ssj_test")
    // batch ground truth: identical predicate on the static table
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("err_ts"), col("event_id").as("err_id"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val batch = errors.join(clicks,
      expr("""user_id = c_user AND
              click_ts >= err_ts - INTERVAL 1 HOUR AND
              click_ts < err_ts"""))
      .select(col("user_id"), col("err_id"), col("err_ts"),
        col("click_ts"), col("click_value"))
    assert(got.count() > 0, "join should produce enriched rows")
    assert(got.exceptAll(batch).count() == 0,
      "streaming join emitted rows batch would not")
    assert(batch.exceptAll(got).count() == 0,
      "streaming join missed rows batch produces")
  }

  test("streaming: gap sessionization closes sessions on inactivity") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ev(id: Long, user: Long, offsetSec: Long, v: Double) =
      Sessionize.Event(id, new java.sql.Timestamp(base.getTime + offsetSec * 1000),
        user, "click", v)
    // user 1: two bursts separated by > gap; user 2: one burst
    // plus a late high-watermark event to let event-time advance
    val events = Seq(
      ev(1, 1, 0, 1.0), ev(2, 1, 60, 2.0),
      ev(3, 1, 4000, 3.0),
      ev(4, 2, 0, 5.0),
      ev(5, 99, 20000, 0.0)) // watermark pusher
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    events.toDS().write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Sessionize.Event]].schema)
      .parquet(s"$dir/ev").as[Sessionize.Event]
    val out = Sessionize.runOnce(spark,
      Sessionize.sessionize(stream, gapSeconds = 1800).toDF(), "sess_test")
    val u1 = out.filter(col("user_id") === 1).orderBy("session_start").collect()
    assert(u1.length >= 1, "user 1's first burst must close")
    assert(u1.head.getAs[Long]("n_events") == 2) // the 0s+60s burst
    assert(u1.head.getAs[Long]("duration_seconds") == 60)
  }

  // ---- streaming as-of twin (q55) ----

  /** Write tagged (kind=0 event / kind=1 order) chunks one file each,
    * mtimes pinned so maxFilesPerTrigger=1 replays them in order, and
    * return the two sides of the as-of join derived from the ONE file
    * source (so both share a single event-time frontier). */
  private def asOfStreams(chunks: Seq[org.apache.spark.sql.DataFrame])
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_asof").toString
    val seen = scala.collection.mutable.Set.empty[String]
    val mtimeBase = System.currentTimeMillis() - 600000L
    chunks.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("append").parquet(dir)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try files.iterator().forEachRemaining { p =>
        val f = p.getFileName.toString
        if (f.endsWith(".parquet") && seen.add(f))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 2000L))
      } finally files.close()
    }
    val s = spark.readStream.schema(StructType(Seq(
        StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("kind", IntegerType), StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("o_orderkey", LongType),
        StructField("o_totalprice", DoubleType))))
      .option("maxFilesPerTrigger", "1").parquet(dir)
    (s.filter(col("kind") === 0)
       .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
     s.filter(col("kind") === 1)
       .select(col("o_orderkey"), col("user_id").as("o_custkey"),
         col("ts").as("o_orderdate"), col("o_totalprice")))
  }

  test("streaming as-of: out-of-order arrival, inclusive boundary, tie, eviction contract") {
    val base = 1700000000L
    type Tagged = (Long, Long, Int, Long, String, Long, Double)
    def ev(u: Long, id: Long, typ: String, min: Long): Tagged =
      (u, min, 0, id, typ, 0L, 0.0)
    def ord(u: Long, key: Long, min: Long, price: Double): Tagged =
      (u, min, 1, 0L, null, key, price)
    def chunk(rows: Tagged*) = rows.toSeq
      .map(t => (t._1, t._2, t._3, t._4, t._5, t._6, t._7))
      .toDF("user_id", "_min", "kind", "event_id", "event_type",
        "o_orderkey", "o_totalprice")
      .select(col("user_id"),
        timestamp_seconds(lit(base) + col("_min") * 60L).as("ts"),
        col("kind"), col("event_id"), col("event_type"),
        col("o_orderkey"), col("o_totalprice"))
    // minutes timeline, 1-hour horizon:
    //   c1  u1 view@60, u1 order@30 (no prior), u3 order@100 BEFORE its
    //       event, u2 two events tied @100 + order@100, u4 view@10
    //   c2  u3 buy@95 — late-but-valid (wm=40): the out-of-order match
    //       the ordered state must still answer; u1 click@120 + orders
    //       @120 (inclusive) and @90
    //   c3  wm pusher → 240 after the batch
    //   c3b second pusher: DURING this batch wm=240, so u4's idle carry
    //       (deadline 10+60=70) evicts via timeout — timeouts fire
    //       within batches, so eviction needs a batch where u4 is idle
    //       AND the watermark has already passed its deadline
    //   c4  u4 order@500 AFTER eviction → null (the cross-window trade)
    //   c5  flush → wm 640 finalizes the rest
    val chunks = Seq(
      chunk(ev(1, 10, "view", 60), ord(1, 103, 30, 30.0),
        ord(3, 301, 100, 50.0), ev(2, 20, "view", 100),
        ev(2, 21, "click", 100), ord(2, 201, 100, 40.0),
        ev(4, 40, "view", 10)),
      chunk(ev(3, 30, "buy", 95), ev(1, 11, "click", 120),
        ord(1, 101, 120, 10.0), ord(1, 102, 90, 20.0)),
      chunk(ev(5, 50, "view", 300)),
      chunk(ev(5, 51, "view", 310)),
      chunk(ord(4, 401, 500, 60.0)),
      chunk(ev(9, 90, "view", 700)))
    val (evS, ordS) = asOfStreams(chunks)
    val report = Sessionize.runWithProgress(spark,
      graft.streaming.AsOf.streamingAsOf(evS, ordS, "1 hour").toDF(),
      "asof_edge")
    val got = report.result.collect().map { r =>
      r.getLong(0) -> (Option(r.getTimestamp(4))
        .map(t => (t.getTime / 1000 - base) / 60), Option(r.getString(5)))
    }.toMap
    assert(got.size == 6, s"every order answers exactly once: $got")
    assert(got(101L) == (Some(120L), Some("click")), s"inclusive: ${got(101L)}")
    assert(got(102L) == (Some(60L), Some("view")), got(102L).toString)
    assert(got(103L) == (None, None), s"no prior event: ${got(103L)}")
    assert(got(201L) == (Some(100L), Some("click")),
      s"equal-ts tie must pick the larger event_id: ${got(201L)}")
    assert(got(301L) == (Some(95L), Some("buy")),
      s"event arriving AFTER its order must still match: ${got(301L)}")
    assert(got(401L) == (None, None),
      s"carry evicted at wm>70 → later order sees nothing: ${got(401L)}")
    // the batch pass, with unbounded lookback, DOES match order 401 —
    // the same documented cross-window divergence as the dedup twin
    val all = chunks.reduce(_ unionByName _)
    val batch = operators.Relational.asofLastEventFrom(
        all.filter(col("kind") === 0)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        all.filter(col("kind") === 1)
          .select(col("o_orderkey"), col("user_id").as("o_custkey"),
            col("ts").as("o_orderdate"), col("o_totalprice")))
      .filter(col("o_orderkey") === 401L).collect()
    assert(batch.length == 1 && batch.head.getString(5) == "view",
      "fixture drift: batch should find u4's pre-eviction event")
    // bounded state: one row per live user, never per streamed row
    assert(report.maxStateRows > 0 && report.maxStateRows <= 6,
      s"state ${report.maxStateRows} must be bounded by live users (6)")
  }

  test("streaming as-of: chunked replay ≡ batch q55 form on remapped sf0.001") {
    // real tables, but orders remapped INTO the events' time span and
    // user domain: the raw tables put every order years before the first
    // event, so every match would be null and equality would test
    // nothing. Horizon (45 days) exceeds the 30-day span → no mid-replay
    // eviction → the twin must agree with batch EXACTLY.
    val events = graft.sources.Tables(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val users = events.select("user_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val Array(t0, t1) = events
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val orders = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_orderkey"),
        element_at(typedLit(users.toSeq),
          (pmod(col("o_custkey"), lit(users.length)) + 1).cast("int"))
          .as("o_custkey"),
        timestamp_seconds(lit(t0) +
          pmod(col("o_orderkey") * 2221L, lit(t1 - t0))).as("o_orderdate"),
        col("o_totalprice"))
    val tagged = events.select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("event_id"), col("event_type"),
        lit(0L).as("o_orderkey"), lit(0.0).as("o_totalprice"))
      .unionByName(orders.select(col("o_custkey").as("user_id"),
        col("o_orderdate").as("ts"), lit(1).as("kind"),
        lit(0L).as("event_id"), lit(null).cast("string").as("event_type"),
        col("o_orderkey"), col("o_totalprice")))
    val byTime = org.apache.spark.sql.expressions.Window
      .orderBy("ts", "kind", "event_id", "o_orderkey")
    val chunked = tagged.withColumn("_chunk", ntile(8).over(byTime))
    val delaySec = 45L * 86400L
    val flush = Seq((999999L, t1 + delaySec + 7200L, 0, 999999L,
        "view", 0L, 0.0))
      .toDF("user_id", "_sec", "kind", "event_id", "event_type",
        "o_orderkey", "o_totalprice")
      .select(col("user_id"), timestamp_seconds(col("_sec")).as("ts"),
        col("kind"), col("event_id"), col("event_type"),
        col("o_orderkey"), col("o_totalprice"))
    val (evS, ordS) = asOfStreams(
      (1 to 8).map(i => chunked.filter(col("_chunk") === i).drop("_chunk")) :+ flush)
    val report = Sessionize.runWithProgress(spark,
      graft.streaming.AsOf.streamingAsOf(evS, ordS, "45 days").toDF(),
      "asof_replay")
    assert(report.microBatches >= 9,
      s"expected one micro-batch per chunk, saw ${report.microBatches}")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        Option(r.getString(4)), Option(r.getString(5)))
    }.toSet
    val gotRows = canon(report.result.select(col("o_orderkey"),
      col("o_custkey"),
      date_format(col("order_ts"), "yyyy-MM-dd HH:mm:ss"),
      round(col("o_totalprice"), 2),
      date_format(col("last_event_ts"), "yyyy-MM-dd HH:mm:ss"),
      col("last_event_type")))
    val batchRows = canon(
      operators.Relational.asofLastEventFrom(events, orders)
        .select(col("o_orderkey"), col("o_custkey"), col("order_ts"),
          col("o_totalprice"), col("last_event_ts"), col("last_event_type")))
    assert(batchRows.size == 1500 && gotRows.size == 1500,
      s"every order answers once: batch ${batchRows.size}, streaming ${gotRows.size}")
    assert(batchRows.count(_._6.nonEmpty) > 1000,
      "remap fixture drift: most orders should find a prior event")
    assert(gotRows == batchRows,
      s"streaming as-of diverges from batch: missing=${(batchRows -- gotRows).take(2)} " +
        s"extra=${(gotRows -- batchRows).take(2)}")
    // bounded state: rows scale with live users, never with the 2500
    // streamed rows
    assert(report.maxStateRows > 0 && report.maxStateRows <= users.length + 1,
      s"state ${report.maxStateRows} must be bounded by users (${users.length})")
  }
}
