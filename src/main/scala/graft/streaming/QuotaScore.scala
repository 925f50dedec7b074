package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sampling

/** Streaming twin of q108 ([[graft.operators.Sampling.modelQuotaFor]]):
  * MODEL-SCORED quality selection over a document feed.
  *
  * The frozen classifier's margin is STATELESS per row (a literal
  * expression over the broadcast coefficients — no vocabulary fit, no
  * running aggregate), so scoring streams trivially: each trigger scores
  * its micro-batch and APPENDS the scored rows (doc_id, source,
  * n_tokens, margin) to a parquet store. Selection, however, is a
  * per-source top-k over everything seen so far — that is a property of
  * the ACCUMULATED corpus, so each trigger publishes the quota report
  * computed from the full store ([[Sampling.modelQuotaScored]] — the
  * exact batch selection tail, salted two-stage top-k included).
  *
  * ZERO KEYED STATE: the scored store IS the state (no
  * `mapGroupsWithState`, no watermark — the progress metrics report no
  * state operators, spec-pinned). Restarts recover from the store;
  * replayed batches are skipped by [[Ingest.once]]'s committed-batch
  * marker, so a re-executed trigger can never double-count a
  * document's tokens in the report.
  *
  * Scale/trigger cost: scoring is map-only over the micro-batch (the
  * |vocab| filter-folds, no shuffle); the store append is one write of
  * batch-sized rows (4 narrow columns — the TEXT never lands in the
  * store); the report pays the salted top-k over the scored store,
  * which carries ~32 bytes/doc — at 100 TB of text that store is ~0.1%
  * of corpus bytes, and a deployment that only needs the final report
  * would publish it on the last trigger alone.
  */
object QuotaScore {

  /** Start scoring a streaming (doc_id, source, text) feed into the
    * scored store at `path`, publishing each APPLIED trigger's quota
    * report (q108's exact shape) to `sink` with the batch id. */
  def start(docs: DataFrame, path: String, k: Int, salts: Int,
            sink: (DataFrame, Long) => Unit): StreamingQuery =
    Ingest.once(docs, path, append(_, path, k, salts), sink)

  /** One trigger ([[Ingest.applyOnce]]): the report from the
    * accumulated store when the batch applied, None when it was empty
    * or already committed. */
  def applyBatch(microBatch: DataFrame, batchId: Long, path: String,
                 k: Int, salts: Int): Option[DataFrame] =
    Ingest.applyOnce(microBatch, batchId, path, append(_, path, k, salts))

  /** Score and append a non-empty batch, then report from the store read
    * under the schema just written: no footer inference per trigger. */
  private def append(batch: DataFrame, path: String, k: Int,
                     salts: Int): Option[DataFrame] =
    if (batch.isEmpty) None
    else {
      val scored = scoreRows(batch)
      scored.write.mode("append").parquet(path)
      Some(Sampling.modelQuotaScored(
        batch.sparkSession.read.schema(scored.schema).parquet(path), k, salts))
    }

  /** The stateless per-row scoring projection — identical to the
    * columns [[Sampling.modelQuotaFor]] derives in-plan, so the store's
    * rows ARE the batch query's scored frame. */
  def scoreRows(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.install(docs.sparkSession)
    docs.select(
      col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"),
      Sampling.modelMargin(col("text")).as("margin"))
  }

  /** The quota report over the accumulated scored store. */
  def report(s: SparkSession, path: String, k: Int, salts: Int): DataFrame =
    Sampling.modelQuotaScored(s.read.parquet(path), k, salts)
}
