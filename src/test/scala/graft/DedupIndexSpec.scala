package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed dedup-index storage layer (DedupIndex): verdict parity
  * with the in-memory classifier, and the 100-TB claim itself — the
  * stored index is probed WITHOUT shuffling — asserted on the physical
  * plan, not prose. Each family of specs is one table over modality
  * lists. */
class DedupIndexSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.operators.{Caches, Dedup, DedupIndex, Modality}
  import Modality.{Audio, Embedding, Image, Text, Video}

  private val prefix = "graft_didx"

  private def dropAll(): Unit =
    DedupIndex.tables(prefix, Modality.all).foreach(DedupIndex.dropTable(spark, _))

  private def verdicts(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

  /** Stored classify of the `dir` tables' batch split ≡ the in-memory
    * query over the same modality list; the last field lists the
    * statuses the fixture must produce (non-vacuity). */
  private val indexedClassify: Seq[(String, Seq[Modality], Seq[String])] = Seq(
    ("indexed three-tier classify: zero index-side exchange, verdicts ≡ in-memory",
      Seq(Text, Embedding()), Nil),
    ("four-tier indexed classify: zero index-side exchange, verdicts ≡ in-memory (q75)",
      Seq(Text, Embedding(), Image), Seq("near_image")),
    ("six-tier indexed classify: zero index-side exchange, verdicts ≡ in-memory (q78/q79)",
      Modality.all, Seq("near_image", "near_audio", "near_video")))

  indexedClassify.foreach { case (name, mods, statuses) =>
    test(name) {
      val isNew = Modality.splitBucket === 4
      dropAll()
      DedupIndex.save(Modality.sides(spark, sf, mods, !isNew), prefix, buckets = 4)
      // force sort-merge joins so the exchange lint exercises the bucketed
      // path (broadcasting the batch would trivially satisfy it), and a
      // concrete (non-adaptive) plan so exchanges are statically visible
      val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      try {
        val indexed = DedupIndex.classify(Modality.sides(spark, sf, mods, isNew), prefix)
        val plan = indexed.queryExecution.executedPlan
        // an index-table scan must never sit under a shuffle — the lint
        // itself lives in DedupIndex (the declared queries run the same
        // code), the spec exercises it under the pinned confs
        def isIndexScan(f: FileSourceScanExec): Boolean =
          f.relation.location.rootPaths.exists(_.toString.contains(prefix))
        val offending = DedupIndex.indexShuffleOffenders(plan, prefix)
        assert(offending.isEmpty,
          s"the stored index is shuffled before ${offending.size} join(s):\n" +
            offending.mkString("\n---\n"))
        // the probes really are sort-merge joins over bucketed scans (not
        // some degenerate shape that never needed a distribution)
        val planStr = plan.toString
        assert(planStr.contains("SortMergeJoin"),
          s"expected SMJ probes with broadcast disabled:\n${planStr.take(2000)}")
        assert(plan.collect { case f: FileSourceScanExec if isIndexScan(f) => f }
          .forall(_.relation.bucketSpec.isDefined),
          "index scans must read the bucketed layout")
        // and the verdicts are EXACTLY the in-memory classifier's
        val got = verdicts(indexed)
        assert(got == verdicts(Dedup.incrementalDedup(spark, sf, mods)),
          "indexed classify must equal the in-memory classifier")
        statuses.foreach { st =>
          assert(got.exists(_._2 == st),
            s"fixture must exercise the $st tier (else this test proves nothing)")
        }
        Caches.release()
        spark.catalog.clearCache()
      } finally {
        prev.foreach {
          case (c, Some(v)) => spark.conf.set(c, v)
          case (c, None)    => spark.conf.unset(c)
        }
        dropAll()
      }
    }
  }

  /** Durable refresh: corpus → save; day 1 → classify, append its `new`
    * survivors; day 2 → classify against the grown store. Frames are
    * caller (doc_id, payload) frames; `v1`/`v2` are the expected
    * verdicts. */
  private case class AppendCase(corpus: Map[Modality, DataFrame],
                                day1: Map[Modality, DataFrame],
                                v1: Set[(Long, String, Option[Long])],
                                day2: Map[Modality, DataFrame],
                                v2: Set[(Long, String, Option[Long])])

  // tiny embedding space: dim=4, 8 sketch bits in 4 bands
  private val emb = Embedding(bits = 8, dim = 4, bands = 4)
  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private def embs(rows: (Long, Seq[Float])*) = rows.toDF("doc_id", "embedding")
  private def hashes(rows: (Long, Long)*) = rows.toDF("doc_id", "dhash")
  private def fps(rows: (Long, Long)*) = rows.toDF("doc_id", "afp")

  private val appendCases: Seq[(String, () => AppendCase)] = Seq(
    "appendNew: durable index refresh ≡ one-shot classify (three tiers)" -> { () =>
      AppendCase(
        corpus = Map(
          Text -> docs(1L -> "alpha beta gamma delta epsilon zeta eta theta",
            2L -> "one two three four five six seven eight nine ten"),
          emb -> embs(1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f), 2L -> Seq(0.0f, 1.0f, 0.0f, 0.0f))),
        day1 = Map(
          Text -> docs(10L -> "alpha beta gamma delta epsilon zeta eta theta", // exact of 1
            11L -> "eleven twelve thirteen fourteen fifteen sixteen seventeen"), // new
          emb -> embs(10L -> Seq(1.0f, 0.0f, 0.0f, 0.0f), 11L -> Seq(0.0f, 0.0f, 1.0f, 0.0f))),
        v1 = Set((10L, "exact", Some(1L)), (11L, "new", None)),
        // only doc 11 (the `new` survivor) enters the store, so only the
        // APPENDED embedding rows can catch doc 20
        day2 = Map(
          Text -> docs(20L -> "totally different surface form with no shared phrasing at all",
            21L -> "entirely novel words never seen in any earlier document"),
          emb -> embs(20L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
            21L -> Seq(-0.5f, -0.5f, -0.5f, -0.5f))),
        v2 = Set((20L, "near_embedding", Some(11L)), (21L, "new", None)))
    },
    "appendNew6: appended audio/video rows catch perceptual dups next day" -> { () =>
      // text/embedding/image sides are unrelated everywhere, so only the
      // audio and video tiers can ever match
      AppendCase(
        corpus = Map(Text -> docs(1L -> "alpha beta gamma delta epsilon zeta"),
          emb -> embs(1L -> Seq(1.0f, 0f, 0f, 0f)), Image -> hashes(1L -> 0x1111L),
          Audio -> fps(1L -> 0x0F0FL), Video -> hashes(1L -> 0xF000F000L)),
        // day 1: all-novel clip 11 and video 12 → new; appended
        day1 = Map(Text -> docs(11L -> "one two three four five six seven",
            12L -> "eight nine ten eleven twelve thirteen"),
          emb -> embs(11L -> Seq(0f, 1f, 0f, 0f), 12L -> Seq(0f, 0f, 1f, 0f)),
          Image -> hashes(11L -> 0x5A5A5A5AL, 12L -> 0x3C3C3C3CL),
          Audio -> fps(11L -> 0x123456789ABCL, 12L -> 0x111122223333L),
          Video -> hashes(11L -> 0x444455556666L, 12L -> 0xABCDEF012345L)),
        v1 = Set((11L, "new", None), (12L, "new", None)),
        // day 2: clip 20's fingerprint is 1 bit off clip 11's; video
        // 21's hash is 1 bit off video 12's — only the APPENDED rows match
        day2 = Map(Text -> docs(20L -> "fourteen fifteen sixteen seventeen eighteen",
            21L -> "nineteen twenty twentyone twentytwo twentythree"),
          emb -> embs(20L -> Seq(0f, 0f, 0f, 1f), 21L -> Seq(-1f, 0f, 0f, 0f)),
          Image -> hashes(20L -> 0x77778888L, 21L -> 0x9999AAAAL),
          Audio -> fps(20L -> 0x123456789ABDL, 21L -> 0x7777888899AAL),
          Video -> hashes(20L -> 0xBBBBCCCCDDDDL, 21L -> 0xABCDEF012344L)),
        v2 = Set((20L, "near_audio", Some(11L)), (21L, "near_video", Some(12L))))
    },
    "appendNew4: appended image rows catch a perceptual dup next day" -> { () =>
      AppendCase(
        corpus = Map(Text -> docs(1L -> "alpha beta gamma delta epsilon zeta"),
          emb -> embs(1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f)), Image -> hashes(1L -> 0x0F0F0F0FL)),
        // day 1: novel text, orthogonal embedding, UNRELATED image
        day1 = Map(Text -> docs(11L -> "one two three four five six seven"),
          emb -> embs(11L -> Seq(0.0f, 1.0f, 0.0f, 0.0f)),
          Image -> hashes(11L -> 0x123456789ABCDEFL)),
        v1 = Set((11L, "new", None)),
        // day 2: novel text/embedding again, but its image is 1 bit off
        // day 1's — only the APPENDED image rows can catch it
        day2 = Map(Text -> docs(20L -> "eight nine ten eleven twelve thirteen"),
          emb -> embs(20L -> Seq(0.0f, 0.0f, 1.0f, 0.0f)),
          Image -> hashes(20L -> 0x123456789ABCDEEL)),
        v2 = Set((20L, "near_image", Some(11L))))
    })

  appendCases.foreach { case (name, mkCase) =>
    test(name) {
      val c = mkCase()
      def sides(raw: Map[Modality, DataFrame]) = Modality.project(raw.toSeq: _*)
      dropAll()
      try {
        DedupIndex.save(sides(c.corpus), prefix, buckets = 4)
        // localCheckpoint: v1 READS the index tables, so any evaluation
        // after the append would reclassify a day-1 survivor as a match
        // of itself — pin the pre-append verdicts (append does the same
        // internally for its own reads)
        val v1 = DedupIndex.classify(sides(c.day1), prefix).localCheckpoint()
        assert(verdicts(v1) == c.v1)
        DedupIndex.append(sides(c.day1), v1, prefix, buckets = 4)
        val v2 = DedupIndex.classify(sides(c.day2), prefix)
        assert(verdicts(v2) == c.v2, s"the appended rows must catch day 2's dups: got ${verdicts(v2)}")
        // duality vs the in-memory one-shot over corpus ∪ day-1 survivors
        val new1 = v1.filter($"status" === "new").select("doc_id")
        val grown = c.corpus.map { case (m, df) =>
          m -> df.unionByName(c.day1(m).join(new1, Seq("doc_id")))
        }
        assert(verdicts(v2) == verdicts(Dedup.classify(sides(c.day2), sides(grown))))
        // and appended files preserve the bucketed layout (spec stays set)
        DedupIndex.tables(prefix, c.corpus.keys.toSeq).foreach { t =>
          val ddl = spark.sql(s"DESCRIBE EXTENDED $t").collect().map(_.toString).mkString
          assert(ddl.contains("Num Buckets") || ddl.contains("bucket"),
            s"$t lost its bucket spec after append")
        }
      } finally dropAll()
    }
  }

  /** The steady-state declared queries (q89, q92): probe-only day 2 ≡
    * the in-memory classify over corpus ∪ day-1 survivors, and a second
    * call re-probes without rebuilding. */
  private val appendProbes: Seq[(String, String, Seq[Modality])] = Seq(
    ("indexAppendProbe: probe-only steady state ≡ in-memory over the grown corpus, idempotent (q89)",
      "graft_q89", Seq(Text, Embedding())),
    ("indexAppendProbe6: six-tier steady state ≡ in-memory over the grown corpus, idempotent (q92)",
      "graft_q92", Modality.all))

  appendProbes.foreach { case (name, prefixBase, mods) =>
    test(name) {
      // the declared query derives its prefix from the dir — use the
      // SAME shared derivation so this spec's tables are the ones the
      // call creates/reads
      val dirPrefix = DedupIndex.q89PrefixFor(sf, prefixBase)
      val indexTables = DedupIndex.tables(dirPrefix, mods)
      def dropDir(): Unit =
        (indexTables :+ s"${dirPrefix}_ready").foreach(DedupIndex.dropTable(spark, _))
      dropDir()
      try {
        val v = DedupIndex.indexAppendProbe(spark, sf, prefixBase, mods).localCheckpoint()
        // sides per split, pinned: the one-shot reference reads each
        // several times (the media sides decode payloads)
        val bk = Modality.splitBucket
        def sides(ids: Column) = Modality.sides(spark, sf, mods, ids)
          .map { case (m, df) => m -> df.localCheckpoint() }
        val (corpus, day1) = (sides(bk < 3), sides(bk === 3))
        // day-1 verdicts recomputed IN MEMORY: the stored tables already
        // hold the grown state, so an indexed day-1 classify here would
        // see day-1 docs matching their own appended rows
        val day1Mem = Dedup.classify(day1, corpus).localCheckpoint()
        val oneShot = Dedup.classify(sides(bk === 4),
          Dedup.refreshed(corpus, day1, day1Mem))
        assert(verdicts(v) == verdicts(oneShot),
          "steady-state probe must equal the in-memory grown-corpus classify")
        // idempotence: a second call in the same session is PROBE-ONLY —
        // identical verdicts, and no table (any tier) grows
        val sizes = indexTables.map(t => t -> spark.table(t).count()).toMap
        val v2 = DedupIndex.indexAppendProbe(spark, sf, prefixBase, mods)
        assert(verdicts(v2) == verdicts(v), "second call must re-probe, not rebuild")
        sizes.foreach { case (t, n) =>
          assert(spark.table(t).count() == n,
            s"$t grew on the second call — the append re-ran")
        }
        // non-vacuity: day-1 survivors actually entered the store (the
        // append wrote rows beyond the corpus build)
        assert(spark.table(indexTables.head).count() > corpus(Text).count(),
          "exact table must hold appended day-1 survivor rows")
      } finally dropDir()
    }
  }
}
