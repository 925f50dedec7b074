package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Composed training-data pipeline (q62): the stages users actually run
  * IN SEQUENCE as one job — quality gate (q24's filter) → exact dedup
  * (q25's keeper rule) → near-dup cluster dedup (q51's keeper labels) →
  * sequence packing (q52's audit) — each stage consuming the previous
  * stage's survivors instead of the raw table. Mirrors the reference's
  * end-to-end chain shape (clv_integration.py:53-65: load → transform →
  * aggregate → sink as one program) applied to the corpus-hygiene domain.
  *
  * Every stage is the SAME code path as its standalone query (the `For`
  * variants of [[TextOps.qualityScoreFor]], [[Dedup.dedupClustersFor]],
  * [[Packing.packSequencesFor]]), so the composition can't drift from the
  * individually-oracled operators.
  *
  * Scale shape: stage 1 is a per-row filter fused into the scan; stage 2
  * is one shuffle on the content hash; stage 3 is the capped candidate
  * pipeline + O(log d) components over the SURVIVOR subset (already
  * smaller than the corpus); stage 4 is the two-pass distributed prefix
  * scan. Stages 3 and 4 are size-decided: each first probes its input
  * with one bounded collect (≤ 2²⁰ exploded gram rows, ≤ 2²⁰ count
  * rows) and, when the input fits, solves on the driver and hands a
  * local relation downstream, so at benchmark and board scale stage 3
  * costs one probe job plus the components' zero and stage 4 one probe;
  * above the cap the distributed plans run unchanged. The survivor
  * frame is cached once and feeds stages 3 and 4 — at 100 TB that cache
  * is the working set a real pipeline would checkpoint between stages
  * anyway.
  */
object Compose {

  /** One row per packed sequence over the fully-deduped, quality-gated
    * corpus: (seq_id, n_docs, seq_tokens). Token counts come from the
    * survivor frame's cached token arrays — stage 4 never re-splits. */
  def qualityDedupPack(s: SparkSession, dir: String,
                       budget: Long = 2048,
                       threshold: Double = 0.5,
                       maxDocFreq: Long = 100): DataFrame =
    qualityDedupPackFor(
      Tables.spreadTable(s, dir, "documents", col("doc_id")),
      budget, threshold, maxDocFreq)

  /** [[qualityDedupPack]] over ANY (doc_id, text) frame — the library
    * entry point (and the 10× soak's): the composed pipeline run on a
    * caller-supplied corpus instead of the driver table. */
  def qualityDedupPackFor(documents: DataFrame,
                          budget: Long = 2048,
                          threshold: Double = 0.5,
                          maxDocFreq: Long = 100): DataFrame =
    // PIN the survivor token counts (|survivors| × 2 longs — tiny by
    // construction) before handing them to the pack: the two-pass
    // prefix scan evaluates its input THREE times (range-boundary
    // sampling, per-partition totals, final pass), and each evaluation
    // otherwise re-reads the heavyweight token-array cache and re-runs
    // the drop-set anti join. One eager localCheckpoint turns those
    // three passes into reads of a 2-column in-memory block — r10's
    // answer to the q62 wall-clock drift (the plan was right, the
    // repeated cache traffic was the cost).
    Packing.packSequencesCounts(
      Caches.register(
        survivorsTokFor(documents, threshold, maxDocFreq, keepText = false)
          .select(col("doc_id"), size(col("_t")).cast("long").as("_nt"))
          .localCheckpoint()),
      budget)

  /** The surviving (doc_id, text) corpus after stages 1-3 — what a real
    * pipeline writes as its cleaned shard set; q62 packs it. Exposed so
    * callers (and specs) can audit the corpus itself, not just the
    * packing summary. */
  def survivors(s: SparkSession, dir: String,
                threshold: Double = 0.5,
                maxDocFreq: Long = 100): DataFrame =
    survivorsTok(s, dir, threshold, maxDocFreq)
      .select(col("doc_id"), col("text"))

  /** [[survivors]] WITH the whitespace token count riding along
    * (`_nt = size(_t)` — tokenCount ≡ size(tokens) by definition, so the
    * column is bit-identical to what a downstream re-split would
    * compute): the funnel already tokenized every document once for its
    * own gates, so shard writers that consume the survivor corpus
    * (q105/q113) read the count from here instead of re-splitting the
    * cleaned corpus — one full tokenize pass saved at any scale for
    * 8 bytes/row of checkpoint width. */
  def survivorsCounted(s: SparkSession, dir: String,
                       threshold: Double = 0.5,
                       maxDocFreq: Long = 100): DataFrame =
    survivorsTok(s, dir, threshold, maxDocFreq)
      .select(col("doc_id"), col("text"),
        size(col("_t")).cast("long").as("_nt"))

  /** [[marginSurvivors]] with the token count riding along — the q111
    * sibling of [[survivorsCounted]]. */
  def marginSurvivorsCounted(s: SparkSession, dir: String,
                             threshold: Double = 0.5,
                             maxDocFreq: Long = 100): DataFrame =
    marginStagedTokFor(
      Tables.spreadTable(s, dir, "documents", col("doc_id")),
      threshold, maxDocFreq)._5
      .select(col("doc_id"), col("text"),
        size(col("_t")).cast("long").as("_nt"))

  /** Survivor corpus WITH its token arrays (`_t`): split runs ONCE, at
    * cache materialization, and both downstream tokenizing stages (3:
    * shingling, 4: token counts) read the arrays instead of re-running
    * `string_split` over the same texts. The arrays roughly double the
    * cached bytes — the right trade while two stages consume them; the
    * cache is released with the query's scope either way.
    *
    * Stage-1+2 plan shape: the quality gate is a PURE per-row predicate
    * ([[TextOps.qualityOk]] over stats derived from `_t`), so it fuses
    * into the scan as a filter instead of scoring into a separate frame
    * and semi-joining back; the exact-dedup keeper rule (min doc_id per
    * content hash, q25 semantics) is a window filter on ONE md5-keyed
    * shuffle instead of a groupBy + semi join. Net: the documents
    * parquet is scanned ONCE and the text is tokenized once (the
    * join-based formulation scanned it 4× — once per join branch). */
  private def survivorsTok(s: SparkSession, dir: String,
                           threshold: Double = 0.5,
                           maxDocFreq: Long = 100): DataFrame =
    // spread scan: stage 3's shingling is the per-row hotspot downstream
    survivorsTokFor(Tables.spreadTable(s, dir, "documents", col("doc_id")),
      threshold, maxDocFreq)

  private def survivorsTokFor(documents: DataFrame,
                              threshold: Double = 0.5,
                              maxDocFreq: Long = 100,
                              keepText: Boolean = true): DataFrame =
    stagedTokFor(documents, threshold, maxDocFreq, keepText)._5

  // q111/q112 — the CCNet-shaped pipeline: stage 1 swaps the heuristic
  // stats gate for the FROZEN MODEL's margin ([[Sampling.modelMargin]]
  // over the checked-in QualityCoefficients artifact, thresholded at
  // the model's own decision boundary MarginTau — the gate a real
  // curation run ships once it has a trained quality classifier), then
  // the identical exact-dedup → near-dedup tail ([[stagedTail]] —
  // single-sourced, so the two pipeline families can never drift in
  // stages 2–3). Stage-1 cost is unchanged in shape: a pure per-row
  // predicate (|vocab| filter-folds over the broadcast literals) fused
  // into the one corpus scan.

  /** The margin-gated pipeline's surviving (doc_id, text) corpus —
    * q111 writes it as shards. */
  def marginSurvivors(s: SparkSession, dir: String,
                      threshold: Double = 0.5,
                      maxDocFreq: Long = 100): DataFrame =
    marginStagedTokFor(
      Tables.spreadTable(s, dir, "documents", col("doc_id")),
      threshold, maxDocFreq)._5
      .select(col("doc_id"), col("text"))

  /** q112 — the margin pipeline's attrition funnel (q97's shape with
    * the margin stage): one row per cumulative stage — raw,
    * margin_gate, exact_dedup, near_dedup — with surviving doc and
    * token counts. */
  def marginFunnel(s: SparkSession, dir: String,
                   threshold: Double = 0.5,
                   maxDocFreq: Long = 100): DataFrame = {
    val (base, gate, _, d2, s3) = marginStagedTokFor(
      Tables.spreadTable(s, dir, "documents", col("doc_id")),
      threshold, maxDocFreq, keepText = false)
    funnelRows(base, gate, d2, s3, "margin_gate")
  }

  private def marginStagedTokFor(documents: DataFrame,
                                 threshold: Double = 0.5,
                                 maxDocFreq: Long = 100,
                                 keepText: Boolean = true)
      : (DataFrame, Column, DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.install(documents.sparkSession)
    val base = withTokens(documents)
    val gate = Sampling.modelMargin(col("text")) >
      lit(QualityCoefficients.MarginTau)
    val (b, q, d2, s3) = stagedTail(base, base.filter(gate),
      threshold, maxDocFreq, keepText)
    (b, gate, q, d2, s3)
  }

  // q97 — pipeline ATTRITION FUNNEL: the per-stage survivor accounting
  // every curation run publishes next to its cleaned shards (where did
  // the corpus go — quality gate, exact dedup, or near dedup?). One row
  // per cumulative stage with surviving doc and token counts. The stage
  // frames are the SAME staged construction q62 consumes
  // ([[stagedTokFor]] — single-sourced, so the funnel can never
  // disagree with the pipeline it reports on); the oracle replays the
  // q62 CTE chain minus the packing tail.
  def pipelineFunnel(s: SparkSession, dir: String,
                     threshold: Double = 0.5,
                     maxDocFreq: Long = 100): DataFrame =
    pipelineFunnelFor(
      Tables.spreadTable(s, dir, "documents", col("doc_id")),
      threshold, maxDocFreq)

  /** [[pipelineFunnel]] over ANY (doc_id, text) frame. Scale shape:
    * stages 0/1 are one aggregate each over the scan (count + token-sum,
    * no shuffle beyond the 1-row partial agg); stages 2/3 read the same
    * cached survivor frame q62 builds (the d2 cache pays for its two
    * consumers here exactly as it does there). */
  def pipelineFunnelFor(documents: DataFrame,
                        threshold: Double = 0.5,
                        maxDocFreq: Long = 100): DataFrame = {
    val (base, gate, _, d2, s3) = stagedTokFor(documents, threshold, maxDocFreq,
      keepText = false)
    funnelRows(base, gate, d2, s3, "quality")
  }

  /** The 4-row attrition report over the staged frames — shared by the
    * heuristic funnel (q97) and the margin funnel (q112), which differ
    * only in the stage-1 gate and its name.
    *
    * Stages 0 and 1 are read off ONE corpus scan (r16, guide §2.3): the
    * raw count/token-sum and the gate survivors' count/token-sum are
    * conditional aggregates of the same pass — the previous shape paid a
    * second full scan+tokenize of the corpus just to re-aggregate the
    * gate's survivors. `count(when(gate,…))` ≡ `filter(gate).count()`
    * (a null gate drops the row on both sides), and the token sums are
    * longs, so summation order cannot change the value. Stages 2/3 read
    * the funnel's cached exact-dedup frame as before. */
  private def funnelRows(base: DataFrame, gate: Column, d2: DataFrame,
                         s3: DataFrame, stage1Name: String): DataFrame = {
    val nt = size(col("_t")).cast("long")
    val r01 = base.agg(
        count(lit(1)).as("_n0"),
        coalesce(sum(nt), lit(0L)).as("_t0"),
        count(when(gate, lit(1))).as("_n1"),
        coalesce(sum(when(gate, nt)), lit(0L)).as("_t1"))
      .select(explode(array(
        struct(lit(0L).as("stage"), lit("raw").as("stage_name"),
          col("_n0").as("n_docs"), col("_t0").as("n_tokens")),
        struct(lit(1L).as("stage"), lit(stage1Name).as("stage_name"),
          col("_n1").as("n_docs"), col("_t1").as("n_tokens")))).as("_r"))
      .select(col("_r.stage").as("stage"), col("_r.stage_name").as("stage_name"),
        col("_r.n_docs").as("n_docs"), col("_r.n_tokens").as("n_tokens"))
    def stageRow(df: DataFrame, stage: Long, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("_t")).cast("long")), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    r01
      .unionByName(stageRow(d2, 2L, "exact_dedup"))
      .unionByName(stageRow(s3, 3L, "near_dedup"))
      .orderBy(col("stage"))
  }

  /** The staged pipeline frames (base, quality survivors, exact-dedup
    * survivors, near-dedup survivors), each carrying the shared token
    * array `_t` — the single source both [[survivorsTokFor]] (q62) and
    * [[pipelineFunnelFor]] (q97) consume; the stage-1 gate column rides
    * along so the funnel reports can aggregate stages 0/1 in one scan. */
  private def stagedTokFor(documents: DataFrame,
                           threshold: Double = 0.5,
                           maxDocFreq: Long = 100,
                           keepText: Boolean = true)
      : (DataFrame, Column, DataFrame, DataFrame, DataFrame) = {
    val base = withTokens(documents)
    // stage 1 — quality gate (q24 semantics), fused into the scan. The
    // stats are the SAME expressions qualityScoreFor derives, computed
    // from the shared token array instead of re-splitting text.
    val nTokens = size(col("_t")).cast("long")
    val meanTokenLen =
      (length(col("text")).cast("long") - (nTokens - lit(1L))).cast("double") / nTokens
    val uniqRatio = size(array_distinct(col("_t"))).cast("double") / nTokens
    val gate = TextOps.qualityOk(nTokens, uniqRatio, meanTokenLen)
    val (b, q, d2, s3) = stagedTail(base, base.filter(gate),
      threshold, maxDocFreq, keepText)
    (b, gate, q, d2, s3)
  }

  /** The (doc_id, text, _t) base frame — split runs once here. */
  private def withTokens(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text"),
      graft.functions.TextFunctions.tokens(col("text")).as("_t"))

  /** Stages 2–3 over ANY stage-1 survivor frame `q` — single-sourced
    * for the heuristic (q62/q97/q105) and margin (q111/q112) pipeline
    * families. */
  private def stagedTail(base: DataFrame, q: DataFrame,
                         threshold: Double, maxDocFreq: Long,
                         keepText: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // stage 2 — exact dedup (q25's keeper rule): min doc_id per content
    // hash via a window over the hash shuffle — no second scan, no join.
    // (r16 checked: the exchange already carries only (doc_id, _t, _w0)
    // for keepText=false — Catalyst materializes the partition
    // expression as `_w0` below the shuffle and prunes text, so a
    // hand-projected hash column would change nothing; plans/r16/q97
    // dumps show the pruned exchange.)
    val d2 = Caches.track(
      q.withColumn("_keep",
          col("doc_id") === min(col("doc_id"))
            .over(Window.partitionBy(md5(col("text")))))
        .filter(col("_keep"))
        // text is dead weight in the cache when only packing consumes the
        // survivors (qualityDedupPackFor reads token COUNTS); survivors()
        // keeps it for the cleaned-corpus output
        .select((Seq(col("doc_id")) ++
          (if (keepText) Seq(col("text")) else Nil) :+ col("_t")): _*))
    // stage 3 — near-dup cluster dedup: q51's component labeling over the
    // SURVIVOR corpus (pre-tokenized entry — no re-split), consumed as a
    // DROP set: a doc is removed iff it sits in the pair subgraph with a
    // label other than itself (losers of their cluster). The anti join
    // against that (subgraph-fraction-sized) set replaces the old
    // clusterLabels → filter(keeper) → semi-join tail, which paid a
    // corpus-sized left join, cluster-size aggregate, and global sort
    // for columns this composition never read.
    val drop = Dedup.nonKeepers(
      Dedup.ngramJaccardPairsCappedTokRaw(
          d2.select(col("doc_id"), col("_t").as("t")), threshold, maxDocFreq)
        .select(col("doc_a"), col("doc_b")))
    (base, q, d2, d2.join(drop, Seq("doc_id"), "left_anti"))
  }
}
