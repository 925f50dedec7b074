package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** q95's intra-document repeated-n-gram scrub
  * ([[graft.operators.TextOps.repeatedGramScrubFor]]) at ingest: the
  * scrub is a function of ONE document's tokens, so there is no static
  * artifact at all — [[Ingest.probe]] runs the declared query's batch
  * function on each micro-batch. */
object SelfDedup {

  /** Scrub a streaming (doc_id, text) feed; each micro-batch's
    * (doc_id, n_tokens, n_removed_tokens, n_repeat_spans, retained_hash)
    * rows go to `sink` with the batch id. */
  def start(docs: DataFrame, sink: (DataFrame, Long) => Unit,
            n: Int = 3): StreamingQuery =
    Ingest.probe(docs, TextOps.repeatedGramScrubFor(_, n), sink)
}
