package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Packing

/** Streaming twin of q104 ([[graft.operators.Packing.appendShardsFor]]):
  * shard INGEST — a document feed lands in micro-batches, and each
  * trigger packs its batch into fresh whole shards appended to the
  * store, leaving every previously-written shard byte-for-byte
  * untouched (the immutability q104's spec pins for the batch form
  * holds per-trigger here, by the same next-whole-shard-boundary
  * construction).
  *
  * ZERO KEYED STATE, by design: the only thing a trigger needs from
  * the past is the store's current max shard id, and that lives in the
  * STORE ITSELF — read from the partition-directory names alone
  * (a driver-side listing, [[Packing.storedMaxShard]]), never in Spark
  * state. No
  * watermark, no `mapGroupsWithState`: the shard store is the state,
  * exactly as a production ingest pipeline would have it (restarts
  * recover from the store; no checkpointed operator state can drift
  * from the files). A replayed batch is skipped by [[Ingest.once]]'s
  * committed-batch marker, so replay never lands documents twice.
  *
  * Semantics note (the honest difference from the batch day-2 shape):
  * each trigger packs ITS OWN documents into its own fresh shards —
  * chunking is part of the output layout, as with every
  * one-shard-store-per-day deployment. Replaying the q104 day-1/day-2
  * split as two triggers therefore reproduces the DECLARED q104 rows
  * exactly (duality spec); a different chunking yields the same
  * documents in shards cut at different boundaries.
  *
  * Scale/trigger cost: the pack and the write scale with the
  * MICRO-BATCH (the packer's driver solve under its cap, a text join
  * and one shard_id shuffle), and the boundary probe is an
  * O(#shard directories) driver listing. An empty batch stops at the
  * packer's probe, which tells it has no document: nothing is written
  * and no marker commits. The read-back REPORT does not scale with the
  * batch: it certifies the whole store, so it reads every shard each
  * trigger, and trigger latency grows with store size through it (a
  * deployment publishing per-trigger reports would aim
  * [[Packing.shardReport]] at the new shards only).
  */
object ShardAppend {

  /** Start appending a streaming (doc_id, text) feed to the shard store
    * at `path`; each APPLIED trigger's full-store read-back report
    * (q103's exact shape) goes to `sink` with the batch id. */
  def start(docs: DataFrame, path: String, budget: Long, seqsPerShard: Long,
            sink: (DataFrame, Long) => Unit): StreamingQuery =
    Ingest.once(docs, path, Packing.ingestShards(_, budget, seqsPerShard, path), sink)

  /** One trigger ([[Ingest.applyOnce]]): the read-back report when the
    * batch applied, None when it was empty or already committed. */
  def applyBatch(microBatch: DataFrame, batchId: Long, path: String,
                 budget: Long, seqsPerShard: Long): Option[DataFrame] =
    Ingest.applyOnce(microBatch, batchId, path,
      Packing.ingestShards(_, budget, seqsPerShard, path))
}
