package graft

import org.scalatest.funsuite.AnyFunSuite

/** GOLDEN PLAN-SHAPE pins for the board's five most expensive queries
  * (round-8 clean bench: q62 3.8 s, q51 2.2 s, q69 1.4 s, q26 1.3 s,
  * q68 1.1 s). A lost broadcast, a resurrected sort, or a new exchange
  * in one of these shows up in the bench as a wall-clock delta with no
  * name; these pins make the same regression fail BY QUERY AND BY FACT.
  *
  * Pin policy: CEILINGS at today's measured values (graft.tools
  * .PlanFacts on the same sf/conf this suite runs) — a future
  * optimization that removes an exchange or converts SMJ→broadcast
  * keeps passing; only regressions fail. Extraction is shared with the
  * PlanFacts tool so the measurement and the pin can't drift.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def factsOf(name: String): Map[String, Int] = {
    val f = tools.PlanFacts.facts(
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString)
    operators.Caches.release()
    spark.catalog.clearCache()
    f
  }

  private def pin(name: String, ceilings: (String, Int)*): Unit = {
    val f = factsOf(name)
    ceilings.foreach { case (k, max) =>
      assert(f(k) <= max,
        s"$name: $k regressed to ${f(k)} (golden ceiling $max) — " +
          s"full facts: ${f.toSeq.sortBy(_._1).mkString(", ")}")
    }
  }

  test("q62 composed pipeline: all joins broadcast, bounded exchanges") {
    // one documents scan feeds quality→exact-dedup→near-dup→cluster→pack;
    // the keeper window and candidate joins own the hash exchanges, the
    // pack stage's ordering the range exchanges. An SMJ here means a
    // broadcast (hot-gram set, drop set) fell through.
    pin("q62_composed_pipeline",
      "sort_merge_join" -> 0, "exchange_hash" -> 10,
      "exchange_range" -> 3, "sort" -> 4, "cartesian" -> 0)
  }

  test("q51 dedup clusters: local-solved CC tail stays tiny") {
    // the limit-probe solves the small subgraph driver-side during
    // construction, so the FINAL plan is just labels⋈sizes⋈corpus: two
    // broadcast joins, one label groupBy exchange, the oracle sort.
    pin("q51_dedup_clusters",
      "sort_merge_join" -> 0, "exchange_hash" -> 2,
      "exchange_range" -> 1, "sort" -> 1, "cartesian" -> 0)
  }

  test("q69 prefix join: rarity-order window + candidate join stay broadcast-shaped") {
    // the df groupBy feeds the prefix window through ONE reused
    // exchange; candidate self-join, hash pre-prune and string rescore
    // all broadcast at this scale. More exchanges = the exchange reuse
    // or a broadcast was lost.
    pin("q69_prefix_join",
      "sort_merge_join" -> 0, "exchange_hash" -> 13,
      "exchange_range" -> 1, "sort" -> 3, "cartesian" -> 0)
  }

  test("q26 capped n-gram pairs: candidate/rescore joins all broadcast") {
    pin("q26_ngram_jaccard",
      "sort_merge_join" -> 0, "exchange_hash" -> 19,
      "exchange_range" -> 1, "sort" -> 1, "cartesian" -> 0)
  }

  test("q68 three-tier incremental dedup: tier joins bounded, no extra sorts") {
    // the three batch→corpus tier joins plan as SMJ over the shared
    // cached projection at this scale (AQE broadcasts the batch side at
    // runtime); a fourth SMJ or new exchange means a tier started
    // re-projecting or re-shuffling the corpus.
    pin("q68_incremental_dedup3",
      "sort_merge_join" -> 3, "exchange_hash" -> 17,
      "exchange_range" -> 1, "sort" -> 5, "cartesian" -> 0)
  }

  test("q80 chunking: narrow end to end — one spread, the oracle sort, nothing else") {
    // the chunker is a per-row explode: any join or extra exchange here
    // means the operator stopped being embarrassingly parallel.
    pin("q80_doc_chunking",
      "sort_merge_join" -> 0, "broadcast_hash_join" -> 0,
      "exchange_hash" -> 1, "exchange_range" -> 1, "sort" -> 1,
      "cartesian" -> 0)
  }

  test("q81 chunk packing: no mid-pipeline chunk sort sneaks back in") {
    // chunks enter the packer UNSORTED (docChunksRaw); the only sorts
    // are the packer's range partitioning and the oracle order. A third
    // sort/fourth range exchange = q80's oracle sort leaked into q81.
    pin("q81_chunk_packing",
      "sort_merge_join" -> 0, "broadcast_hash_join" -> 0,
      "exchange_hash" -> 4, "exchange_range" -> 3, "sort" -> 2,
      "cartesian" -> 0)
  }

  test("q82 vocab/OOV: the eval token stream joins the vocab by broadcast only") {
    // an SMJ here means the top-512 vocab stopped broadcasting and the
    // 100-TB eval token stream would shuffle for the join.
    pin("q82_vocab_oov",
      "sort_merge_join" -> 0, "broadcast_hash_join" -> 1,
      "exchange_hash" -> 2, "exchange_range" -> 1, "sort" -> 1,
      "cartesian" -> 0)
  }

  test("q95 repeated-gram scrub: row-local — no shuffle, no join, the oracle sort only") {
    // the scrub is one per-row kernel: the only hash exchange allowed is
    // docsHeavy's input spread (REPARTITION_BY_NUM), never a shuffle
    // the scrub itself asks for; a join or a second sort means the
    // relational self-join formulation came back
    val plan = SparkEntry.queries("q95_repeated_gram_scrub")(spark, sf)
      .queryExecution.executedPlan.toString
    operators.Caches.release()
    spark.catalog.clearCache()
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REPARTITION_BY_NUM"))
    assert(shuffles === 0, s"q95 shuffles for the scrub:\n$plan")
    pin("q95_repeated_gram_scrub",
      "sort_merge_join" -> 0, "broadcast_hash_join" -> 0,
      "exchange_hash" -> 1, "exchange_range" -> 1, "sort" -> 1,
      "cartesian" -> 0)
  }

  test("q99 cross-doc scrub: global-first agg + hash joins, never a positioned-stream SMJ") {
    // the global-first table and the repeat join ride the 60-bit gram
    // hash; the repeat starts collect per doc_id on the spread's own
    // partitioning and join the tokenized documents once. An SMJ or
    // extra exchange means the positioned gram stream started
    // shuffling for something other than its one partial agg; a new
    // sort means the span window came back.
    pin("q99_crossdoc_scrub",
      "sort_merge_join" -> 0, "exchange_hash" -> 4,
      "exchange_range" -> 1, "sort" -> 3, "cartesian" -> 0)
  }

  test("q102 thresholded scrub: q99's exact plan — the length filter adds no exchange") {
    // the minimum-match-length rule is a parameter of the row-local
    // span kernel; if these ceilings ever diverge from q99's, the
    // threshold stopped being part of the kernel
    pin("q102_crossdoc_scrub_min",
      "sort_merge_join" -> 0, "exchange_hash" -> 4,
      "exchange_range" -> 1, "sort" -> 3, "cartesian" -> 0)
  }

  test("q103 shard write: read-back report plan — grouped agg + oracle sort only") {
    // the declared frame is the report over the files just written:
    // ONE two-phase aggregation on shard_id (1 hash exchange; n_seqs
    // comes from the collected list, not a countDistinct Expand), the
    // oracle ORDER BY (1 range + its sort), no join anywhere — the
    // write side's exchanges are paid inside the eager write, bounded
    // by the packer's pinned runningTotal shape (q52's spec)
    pin("q103_shard_write",
      "sort_merge_join" -> 0, "broadcast_hash_join" -> 0,
      "exchange_hash" -> 1, "exchange_range" -> 1, "sort" -> 1,
      "cartesian" -> 0)
  }

  test("q104 shard append: same read-back report shape as q103, no joins") {
    // both days' writes are eager; the declared frame is the full-store
    // report — identical ceilings to q103, and the delta-proportionality
    // of the append itself is gated by the ReadSchema lint in the q104
    // spec and the listing probe's spec
    pin("q104_shard_append",
      "sort_merge_join" -> 0, "broadcast_hash_join" -> 0,
      "exchange_hash" -> 1, "exchange_range" -> 1, "sort" -> 1,
      "cartesian" -> 0)
  }

  test("q100 quality quota: two-stage top-k, bounded exchanges") {
    pin("q100_quality_quota",
      "sort_merge_join" -> 0, "broadcast_hash_join" -> 1,
      "exchange_hash" -> 3, "exchange_range" -> 1, "sort" -> 5,
      "cartesian" -> 0)
  }

  test("q100 quality quota: the stage-1 window is SALTED (no whole-source sort)") {
    // the scale claim itself, asserted STRUCTURALLY on the analyzed
    // logical plan's Window nodes (round-12 ADVICE: the rendered-text
    // form hard-coded "% 16" and Spark's current alias rendering):
    // there must be one Window partitioned by TWO expressions — source
    // plus a remainder-by-[[operators.Sampling.QuotaSalts]] salt — and
    // one partitioned by source alone over the pruned survivors. If the
    // salted window disappears (a refactor collapsing to the naive
    // one-window plan), a head domain at 100 TB sorts in ONE task and
    // no count-ceiling pin would notice.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference, Expression, Literal, Remainder, Pmod}
    val df = SparkEntry.queries("q100_quality_quota")(spark, sf)
    val analyzed = df.queryExecution.analyzed
    val specs = analyzed.collect { case w: LWindow => w.partitionSpec }
    // the analyzer extracts complex partition expressions into projected
    // `_w0` attributes, so resolve attribute references back through
    // their defining Alias before testing the expression shape
    val aliasDefs = analyzed.flatMap(_.expressions).flatMap(_.collect {
      case a: Alias => a.toAttribute.exprId -> a.child
    }).toMap
    operators.Caches.release()
    spark.catalog.clearCache()
    def resolve(e: Expression, depth: Int = 0): Expression = e match {
      case ar: AttributeReference if depth < 8 =>
        aliasDefs.get(ar.exprId).map(resolve(_, depth + 1)).getOrElse(ar)
      case other => other
    }
    def isSaltLit(e: Expression): Boolean = e.exists {
      case Literal(v, _) => v != null &&
        v.toString == operators.Sampling.QuotaSalts.toString
      case _ => false
    }
    def isSaltExpr(e: Expression): Boolean =
      resolve(e).exists {
        case Remainder(_, r, _) => isSaltLit(r)
        case Pmod(_, r, _) => isSaltLit(r)
        case _ => false
      }
    assert(specs.exists(s => s.size == 2 && s.exists(isSaltExpr)),
      s"no (source, hash % ${operators.Sampling.QuotaSalts}) salted window " +
        s"in analyzed plan; partition specs: ${specs.mkString("; ")}")
    assert(specs.exists(_.size == 1),
      s"no per-source stage-2 window; partition specs: ${specs.mkString("; ")}")
  }

  // The near-dup pair queries, each one band self-join
  // (operators.Modality.Stored.selfPairs) over a cached side, and q70,
  // which reads q43's pairs: ceilings at the PlanFacts values measured
  // before they shared that join (sf0.01 and sf0.1 read the same).
  // (BHJ, hash exchanges, sorts); no SMJ, one range exchange, no cartesian.
  Seq(
    "q27_minhash_lsh" -> (3, 5, 1),
    "q28_simhash_pairs" -> (1, 3, 1),
    "q43_embedding_dedup" -> (1, 3, 3),
    "q70_embedding_clusters" -> (2, 1, 1),
    "q73_image_neardup" -> (1, 3, 1),
    "q76_audio_neardup" -> (1, 3, 1),
    "q77_video_neardup" -> (1, 3, 1)
  ).foreach { case (q, (bhj, hash, sort)) =>
    test(s"$q near-dup pairs: band self-join stays broadcast, bounded exchanges") {
      pin(q,
        "sort_merge_join" -> 0, "broadcast_hash_join" -> bhj,
        "exchange_hash" -> hash, "exchange_range" -> 1, "sort" -> sort,
        "cartesian" -> 0)
    }
  }

  test("q101 bigram LM: unigram joins broadcast, bigram join hash-partitioned") {
    // the unigram (vocab-sized) tables must broadcast — an SMJ there
    // would shuffle the scoring stream twice more; the bigram join and
    // the distinct-(doc, transition) agg own the hash exchanges. The
    // exchange ceiling counts RENDERED text, and the cached unigram
    // table's InMemoryRelation re-prints its one-time fill exchange at
    // each of its consumers (the q27-family cache-rendering artifact) —
    // so 11 rendered ≠ 11 executed; the executed inventory is the
    // uncached 7 with the fill exchange running once.
    pin("q101_bigram_lm",
      "sort_merge_join" -> 0, "broadcast_hash_join" -> 3,
      "exchange_hash" -> 11, "exchange_range" -> 1, "sort" -> 1,
      "cartesian" -> 0)
  }
}
