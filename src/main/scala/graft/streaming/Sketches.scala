package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.operators.{Sketches => B}

/** Streaming counterpart of the q83-q86 sketch family
  * ([[graft.operators.Sketches]]): cardinality,
  * heavy-hitter, membership, and quantile telemetry over a continuous
  * document feed.
  *
  * Both sketches are order-blind (register-wise max / cell-wise sum),
  * so the streaming form is a PLAIN watermarked windowed aggregation —
  * no custom state, no `flatMapGroupsWithState`. State per open window
  * is the sketch itself: ≤ sources × 256 register rows (HLL) or ≤
  * 4 × 512 cells (CMS), independent of feed volume — the whole point
  * of sketching survives the move to streaming unchanged.
  *
  * Emitted rows are REGISTERS/CELLS, not estimates: windows merge
  * downstream by the same max/sum laws (per-hour sketches roll up to
  * per-day cardinality without replaying the stream), and the batch
  * estimator ([[graft.operators.Sketches.estimateExpr]]) runs on the
  * merged frame. The chunked-replay duality spec proves the merged
  * registers/cells equal the batch build over the same rows, sharing
  * every hash/rank definition verbatim ([[B.shingleHashRows]],
  * [[B.rhoExpr]], [[B.cmsBucket]], [[B.bigrams]]).
  */
object Sketches {

  /** Watermarked per-(window, source, bucket) HLL register maxes over a
    * streaming (source, text, ingest_ts) document feed. Append mode: a
    * window's registers emit once the watermark closes it. */
  def windowedShingleRegisters(docs: DataFrame,
                               windowLen: String = "1 hour",
                               watermark: String = "30 minutes"): DataFrame =
    B.shingleHashRows(docs.withWatermark("ingest_ts", watermark),
        Seq("source", "ingest_ts"))
      .withColumn("bucket", col("hv") % B.HllM)
      .withColumn("rho", B.rhoExpr)
      .groupBy(window(col("ingest_ts"), windowLen), col("source"),
        col("bucket"))
      .agg(max(col("rho")).as("mj"))
      .select(col("window.start").as("win_start"), col("source"),
        col("bucket"), col("mj"))

  /** Merge emitted window registers into cumulative per-source
    * registers — the max law, usable across any window subset. */
  def mergeRegisters(regs: DataFrame): DataFrame =
    regs.groupBy(col("source"), col("bucket")).agg(max(col("mj")).as("mj"))

  /** Cardinality estimates from merged registers: batch estimator over
    * the exact integer register aggregate, shared verbatim. */
  def estimates(merged: DataFrame): DataFrame =
    B.registerAggregate(merged)
      .withColumn("est_distinct", round(B.estimateExpr, 6))
      .select(col("source"), col("v_empty"), col("s_harmonic"),
        col("est_distinct"))

  /** Watermarked per-(window, r, bucket) Count-Min cell sums over the
    * same feed — bigram occurrences counted one by one (CMS linearity
    * makes this equal the batch pre-counted build; the batch spec
    * proves the identity). */
  def windowedCmsCells(docs: DataFrame,
                       windowLen: String = "1 hour",
                       watermark: String = "30 minutes"): DataFrame = {
    graft.GraftExtensions.install(docs.sparkSession)
    docs.withWatermark("ingest_ts", watermark)
      .select(col("ingest_ts"),
        explode(B.bigrams(tokens(col("text")))).as("bigram"))
      .select(col("ingest_ts"), col("bigram"),
        explode(sequence(lit(0), lit(B.CmsRows - 1))).as("r"))
      .withColumn("bucket", B.cmsBucket(col("r"), col("bigram")))
      .groupBy(window(col("ingest_ts"), windowLen), col("r"), col("bucket"))
      .agg(count(lit(1)).as("cell"))
      .select(col("window.start").as("win_start"), col("r"),
        col("bucket"), col("cell"))
  }

  /** Merge emitted window cells into a cumulative sketch — the sum
    * law. */
  def mergeCells(cells: DataFrame): DataFrame =
    cells.groupBy(col("r"), col("bucket"))
      .agg(sum(col("cell")).cast("long").as("cell"))

  /** Probe a merged cell frame for a candidate key set: min over the 4
    * salted rows — the same probe shape as the batch q84 tail. */
  def probe(merged: DataFrame, candidates: DataFrame,
            keyCol: String = "bigram"): DataFrame =
    candidates
      .select(col(keyCol),
        explode(sequence(lit(0), lit(B.CmsRows - 1))).as("r"))
      .withColumn("bucket", B.cmsBucket(col("r"), col(keyCol)))
      .join(broadcast(merged), Seq("r", "bucket"))
      .groupBy(col(keyCol))
      .agg(min(col("cell")).as("n_est"))

  /** Watermarked per-(window, bin) token-length histogram counts — the
    * q86 quantile sketch's streaming form. State per open window is
    * ≤ 256 bin rows; windows merge downstream by the bin-wise sum
    * law, identical to CMS cells. */
  def windowedLengthBins(docs: DataFrame,
                         windowLen: String = "1 hour",
                         watermark: String = "30 minutes"): DataFrame =
    docs.withWatermark("ingest_ts", watermark)
      .select(col("ingest_ts"),
        size(tokens(col("text"))).cast("long").as("len"))
      .withColumn("bin",
        least(expr(s"len div ${B.HistW}"), lit(B.HistB - 1L)))
      .groupBy(window(col("ingest_ts"), windowLen), col("bin"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("win_start"), col("bin"), col("c"))

  /** Merge emitted window bins — the sum law. */
  def mergeBins(bins: DataFrame): DataFrame =
    bins.groupBy(col("bin")).agg(sum(col("c")).cast("long").as("c"))

  /** Quantile estimates off merged bins: the batch estimator
    * ([[graft.operators.Sketches.histogramQuantiles]]), shared
    * verbatim — per-hour histograms answer per-day quantile questions
    * without replaying the feed. */
  def quantiles(merged: DataFrame): DataFrame =
    B.histogramQuantiles(merged)
      .select(col("p"), col("n"), col("target"),
        (col("est_bin") * B.HistW).as("est_lo"))

  /** Watermarked per-(window, pos) Bloom SET-BIT emission over a
    * member-key feed (q85's blocklist side fed continuously — e.g. new
    * benchmark suites registering eval grams). A bit emitted by many
    * windows collapses in [[mergeBits]] (bitwise OR = plain distinct),
    * so cumulative state is hard-bounded by m regardless of feed
    * volume. */
  def windowedBloomBits(members: DataFrame, keyCol: String,
                        windowLen: String = "1 hour",
                        watermark: String = "30 minutes"): DataFrame =
    members.withWatermark("ingest_ts", watermark)
      .select(col("ingest_ts"),
        explode(B.bloomPositions(col(keyCol))).as("pos"))
      .groupBy(window(col("ingest_ts"), windowLen), col("pos"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("win_start"), col("pos"))

  /** Merge emitted window bits — the OR law. */
  def mergeBits(bits: DataFrame): DataFrame =
    bits.select(col("pos")).distinct()
}
