package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The size-decided stages (`operators.Sized`) as one table. For every
  * stage and input: at the stage's own cap the driver branch answers
  * exactly where it applies, its rows equal the distributed branch's
  * (forced by `cap = 0`), and on the first input `cap = 2` declines.
  * Each row adds the checks only its stage needs. */
class SizedSpec extends AnyFunSuite {
  import TestSpark._
  import operators.{Bpe, Caches, Dedup, Packing, Sized}
  import graft.functions.TextFunctions.{tokenCount, tokens}

  /** One run of a stage: the value both branches must agree on, and
    * whether the driver branch produced it. */
  private case class Outcome(rows: Any, onDriver: Boolean)

  /** A stage, its cap, and its inputs as (name, the stage run under a
    * cap, whether the driver branch applies at the stage's cap). The
    * first input holds more than 2 probe rows. */
  private case class Site(name: String, cap: Int,
                          inputs: () => Seq[(String, Int => Outcome, Boolean)],
                          more: () => Unit)

  /** Schema, nullability included, and the rows as a multiset. */
  private def frame(df: DataFrame, onDriver: Boolean): Outcome =
    Outcome((df.schema, df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .view.mapValues(_.size).toMap), onDriver)

  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  /** Inputs of the near-dup and packing stages: (name, (doc_id, text)
    * frame, maxDocFreq for the near-dup stage, whether the near-dup
    * driver solve applies — it needs long doc ids). */
  private def decisionInputs: Seq[(String, DataFrame, Long, Boolean)] = {
    val spark2 = spark
    import spark2.implicits._
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val body = (1 to 12).map(i => s"w$i").mkString(" ")
    val t = (1 to 14).map(i => s"t$i")
    Seq(
      ("the sf0.01 corpus",
        graft.sources.Tables(spark, sf01, "documents").select("doc_id", "text"), 100L, true),
      ("an empty frame", docs(), 100L, true),
      ("all docs under 3 tokens",
        docs((1L, "a b"), (2L, "a b"), (3L, "c"), (4L, ""), (5L, null)), 100L, true),
      ("all-duplicate docs", docs((1L to 6L).map(i => (i, body)): _*), 100L, true),
      // "the cat sat" sits in 5 docs (df 5 > 2): it feeds no candidate,
      // yet still counts in each pair's exact rescore
      ("a gram with df > maxDocFreq", docs(
        (1L, "the cat sat w1 w2 w3 w4 w5 w6"), (2L, "the cat sat w1 w2 w3 w4 w5 w7"),
        (3L, "the cat sat x1 x2 x3 x4 x5 x6"), (4L, "the cat sat y1 y2 y3"),
        (5L, "the cat sat x1 x2 x3 x4 x5 x9")), 2L, true),
      // j(A,B) = j(B,C) = 6/10, j(A,C) = 4/12
      ("a chain A~B~C with jaccard(A,C) below threshold", docs(
        (10L, t.slice(0, 10).mkString(" ")), (20L, t.slice(2, 12).mkString(" ")),
        (30L, t.slice(4, 14).mkString(" "))), 100L, true),
      ("non-ASCII text", docs(
        (1L, "café naïve 文書 ü 😀 straße ø α β γ"), (2L, "café naïve 文書 ü 😀 straße ø α β δ"),
        (3L, "\uE000 \uFFFD 😀 文書 a b c")), 100L, true),
      // 10 clusters of 10 identical one-gram docs: 100 gram rows, 450 pairs
      ("many small identical clusters", docs((for (c <- 0 until 10; k <- 0 until 10)
        yield (c * 100L + k, s"c$c a b")): _*), 100L, true),
      ("string doc:idx keys, non-ASCII included",
        Seq(("doc:0", body), ("dóc:1", body + " x"), ("文書:2", "p q r s"),
          ("😀:3", body), ("\uE000:4", "p q r s t")).toDF("doc_id", "text"), 100L, false))
  }

  private def toks(d: DataFrame) = d.select(col("doc_id"), tokens(col("text")).as("t"))

  private val nearDup = Site("near-dup pairs", Sized.DriverRows,
    () => decisionInputs.map { case (name, d, maxDocFreq, solvable) =>
      (name, (cap: Int) => {
        val out = Dedup.ngramJaccardPairsCappedTokRaw(toks(d), 0.5, maxDocFreq, cap)
        frame(out, out.isLocal)
      }, solvable)
    },
    () => {
      decisionInputs.foreach { case (name, d, maxDocFreq, _) =>
        val local = Dedup.ngramJaccardPairsCappedTokRaw(toks(d), 0.5, maxDocFreq)
        val pairs = local.select("doc_a", "doc_b").collect().map(_.toSeq).toSet
        name match {
          case "the sf0.01 corpus" | "all-duplicate docs" | "a gram with df > maxDocFreq" =>
            assert(pairs.nonEmpty, s"$name: fixture needs pairs")
          case "a chain A~B~C with jaccard(A,C) below threshold" =>
            assert(pairs == Set(Seq(10L, 20L), Seq(20L, 30L)), s"$name: $pairs")
            // the components pass reads the local relation: B and C lose to A
            assert(local.isLocal)
            val losers = Dedup.nonKeepers(local.select("doc_a", "doc_b"))
              .collect().map(_.getLong(0)).toSet
            assert(losers == Set(20L, 30L), s"$name: non-keepers $losers")
          case _ =>
        }
      }
      // the driver solve bounds the pairs as well as the probe rows: 100
      // gram rows fit a cap of 200, their 450 pairs do not
      val clusters = toks(decisionInputs.find(_._1 == "many small identical clusters").get._2)
      assert(Dedup.cappedPairsDistributed(clusters, 0.5, 100L).count() == 450L)
      assert(!Dedup.ngramJaccardPairsCappedTokRaw(clusters, 0.5, 100L, cap = 200).isLocal)
    })

  private val packing = Site("pack assignment", Sized.DriverRows,
    () => {
      val spark2 = spark
      import spark2.implicits._
      val nullNt = Seq((1L, Some(3L)), (2L, None), (3L, Some(5L))).toDF("doc_id", "_nt")
      (decisionInputs.map { case (name, d, _, _) =>
        (name, d.select(col("doc_id"), tokenCount(col("text")).as("_nt")))
      } :+ ("a null _nt" -> nullNt)).map { case (name, c) =>
        (name, (cap: Int) => {
          val out = Packing.packAssignments(c, 16L, cap)
          frame(out, out.isLocal)
        }, // null text counts as a null _nt too: both fall through
          name != "a null _nt" && name != "all docs under 3 tokens")
      }
    },
    () => {
      val corpus = decisionInputs.head._2
        .select(col("doc_id"), tokenCount(col("text")).as("_nt"))
      assert(Packing.packAssignmentsDistributed(corpus, 16L)
        .select("seq_id").distinct().count() > 1, "the sf0.01 corpus: one sequence only")
    })

  /** A 16-link chain, a triangle and an isolated pair. */
  private def graph: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    ((1L until 17L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))).toDF("doc_a", "doc_b")
  }

  private val components = Site("connected components", Sized.DriverRows,
    () => {
      val spark2 = spark
      import spark2.implicits._
      Seq(("a chain, a triangle and a pair", graph),
        ("no edges", Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))).map { case (name, e) =>
        (name, (cap: Int) => {
          val (labels, rounds) = Dedup.connectedComponentsCounted(e, cap = cap)
          Outcome(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds == 0)
        }, true)
      }
    },
    () => {
      val lab = Dedup.connectedComponents(graph)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1L to 17L).foreach(i => assert(lab(i) == 1L, s"chain node $i -> ${lab(i)}"))
      Seq(100L, 101L, 102L).foreach(i => assert(lab(i) == 100L))
      Seq(200L, 201L).foreach(i => assert(lab(i) == 200L))
      assert(lab.size == 17 + 3 + 2)
    })

  /** (word, freq, syms) rows of a trainer's final state, by word. */
  private def finalState(df: DataFrame) =
    df.select(col("word"), col("freq"), col("syms")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toSeq))
      .sortBy(_._1).toSeq

  /** Runs / overlaps: the inputs where a wrong greedy merge rule diverges. */
  private def planted: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    Seq(("aaaa", 5L), ("aaab", 3L), ("baaa", 2L)).toDF("word", "freq")
      .withColumn("syms", concat(split(col("word"), ""), array(lit(Bpe.EndMark))))
  }

  private val bpe = Site("BPE merge training", Sized.BpeDriverRows,
    () => {
      val b = operators.Sampling.hashBucket(col("doc_id"), 100)
      val words = graft.sources.Tables(spark, sf, "documents")
        .filter(b < 80)
        .select(explode(tokens(col("text"))).as("word"))
      Seq(("the corpus histogram", Bpe.wordHistogram(words), 10),
        ("planted runs and overlaps", planted, 4)).map { case (name, hist, iters) =>
        (name, (cap: Int) => {
          val (merges, fin) = Bpe.learnMerges(hist, iters, cap)
          // the driver trainer's state is a local Seq (renamed by a
          // projection), the distributed loop's a checkpoint
          Outcome((merges, finalState(fin)), fin.queryExecution.optimizedPlan
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        }, true)
      }
    },
    () => {
      val spark2 = spark
      import spark2.implicits._
      // a non-(word,freq,syms) schema must NEVER take the driver path —
      // extra columns would be dropped; the distributed loop keeps them
      val (_, finExtra) = Bpe.learnMerges(planted.withColumn("tag", lit("x")), 1)
      assert(finExtra.columns.contains("tag"))
      // a name-matching frame with a NON-LONG freq was always valid
      // through the distributed loop's sum() — it must route there (the
      // driver path's getLong would crash), and still learn correctly
      val intFreq = Seq(("aaaa", 5), ("aaab", 3))
        .toDF("word", "freq")
        .withColumn("syms",
          concat(split(col("word"), ""), array(lit(Bpe.EndMark))))
      val (mInt, _) = Bpe.learnMerges(intFreq, 1)
      assert(mInt.head.lhs === "a" && mInt.head.rhs === "a")
      // a null syms row falls through to the distributed loop (whose
      // fold/size null semantics are the defined ones) instead of
      // NPE-ing in the driver trainer
      val withNull = planted.unionByName(
        Seq(("zz", 1L)).toDF("word", "freq")
          .withColumn("syms", lit(null).cast("array<string>")))
      val (mNull, _) = Bpe.learnMerges(withNull, 1)
      assert(mNull.head.lhs === "a" && mNull.head.rhs === "a")
    })

  /** The sf0.01 (doc_id, word) occurrence stream and its segmented
    * (word, _ns) vocabulary, as [[Bpe.subwordCountsFor]] joins them. */
  private def occurrencesAndVocab: (DataFrame, DataFrame) = {
    val occ = graft.sources.Tables(spark, sf01, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val merges = Bpe.learnMerges(Bpe.wordHistogram(occ.select("word")), 20)._1
    val vocab = Bpe.segmentWithVocab(occ.select(col("word")).distinct(), merges)
      .select(col("word"), size(col("syms")).cast("long").as("_ns"))
    (occ, vocab)
  }

  /** Whether the join-back broadcasts its vocab side. */
  private def broadcastsVocab(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.right
    }.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ResolvedHint])

  private val joinBack = Site("vocab join-back", Sized.BroadcastRows,
    () => Seq(("the sf0.01 corpus", (cap: Int) => {
      val (occ, vocab) = occurrencesAndVocab
      val out = Bpe.vocabJoinBack(occ, vocab, cap = cap)
      frame(out, broadcastsVocab(out))
    }, true)),
    () => {
      // a vocab size the caller already counted decides the join alone
      val (occ, vocab) = occurrencesAndVocab
      val over = Bpe.vocabJoinBack(occ, vocab, knownRows = Some(Sized.BroadcastRows + 1L))
      assert(!broadcastsVocab(over))
      assert(broadcastsVocab(Bpe.vocabJoinBack(occ, vocab, knownRows = Some(1L))))
      assert(frame(over, false) == frame(Bpe.vocabJoinBack(occ, vocab), false))
    })

  Seq(nearDup, packing, components, bpe, joinBack).foreach { site =>
    test(s"size-decided ${site.name}: driver branch = distributed, cap 2 declines") {
      site.inputs().foreach { case (name, run, driverApplies) =>
        val (driver, distributed) = (run(site.cap), run(0))
        assert(driver.onDriver == driverApplies, s"$name: driver branch ran = ${driver.onDriver}")
        assert(!distributed.onDriver, s"$name: cap 0 ran the driver branch")
        if (driver.rows != distributed.rows)
          fail(s"$name: the driver and distributed branches' rows differ")
        Caches.release()
      }
      assert(!site.inputs().head._2(2).onDriver, "cap 2 did not decline")
      site.more()
      Caches.release()
      spark.catalog.clearCache()
    }
  }

  test("Sized: a cap of 0 launches no probe job; a probe job keeps its caller's call site") {
    val sc = spark.sparkContext
    val frame = spark.range(0, 10, 1, 2).toDF("id")
    val (_, cap0) = jobsOf {
      assert(Sized.rowsAtMost(frame, 0).isEmpty)
      assert(!Sized.fits(frame, 0))
    }
    assert(cap0.isEmpty, cap0)
    val (_, probes) = jobsOf {
      assert(Sized.rowsAtMost(frame, 9).isEmpty)
      assert(Sized.rowsAtMost(frame, 10).map(_.length).contains(10))
      assert(Sized.fits(frame, 10) && !Sized.fits(frame, 9))
    }
    assert(probes.nonEmpty && probes.forall(_.contains("SizedSpec.scala:")), probes)
    val (_, preset) = jobsOf {
      sc.setCallSite("set by the caller")
      try assert(Sized.fits(frame, 10)) finally sc.clearCallSite()
    }
    assert(preset.nonEmpty && preset.forall(_ == "set by the caller"), preset)
  }
}
