package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Store

/** The one stream-static ingest combinator: a batch function from
  * `graft.operators` applied to every micro-batch of a feed, its output
  * handed to a sink with the batch id. No watermark, no keyed state —
  * each micro-batch's rows depend only on (micro-batch, static
  * artifacts the function closes over), so replaying a feed in any
  * chunking yields the batch function's rows over the whole feed (the
  * chunked-replay duality specs). Per-trigger cost is the batch
  * function's over the micro-batch alone.
  *
  * Two shapes:
  *   - [[probe]]: pure enrichment — dedup verdicts, scrubs, scores and
  *     contamination hits against a static index (`f` closes over it);
  *   - [[once]]: `f` writes a non-empty batch into a store at `path`
  *     and reports from it, so a replayed batch must not apply twice.
  *     The last applied batch id is persisted next to the store
  *     (`_graft_last_batch`, underscore-prefixed so Spark's parquet
  *     reader ignores it), written atomically ([[Store.mark]]) only
  *     after `f`'s rows are on disk; [[applyOnce]] skips any
  *     `batchId <=` the committed one.
  *     A crash between the write and the marker re-applies that batch
  *     on replay — exactly-once would need the store write and the
  *     marker in one atomic commit (a table format's job, not a
  *     directory's) — but the window is the marker write alone, and
  *     every other replay path (the common one: sink failure after a
  *     complete trigger) is a no-op.
  */
object Ingest {

  /** Run `f` on every micro-batch of `feed`; its rows go to `sink` with
    * the batch id. */
  def probe(feed: DataFrame, f: DataFrame => DataFrame,
            sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(feed)((mb, batchId) => sink(f(mb), batchId))

  /** Run `f` on every micro-batch of `feed` at most once per batch id
    * under the store at `path` ([[applyOnce]]); each APPLIED batch's
    * rows go to `sink` with the batch id. */
  def once(feed: DataFrame, path: String, f: DataFrame => Option[DataFrame],
           sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(feed)((mb, batchId) =>
      applyOnce(mb, batchId, path, f).foreach(sink(_, batchId)))

  /** One [[once]] trigger, extracted so the replay path is spec-testable
    * without a restarted stream: `f(microBatch)` unless its id is
    * already committed at `path`. `f` answers None for a batch it did
    * not apply (an empty one): it decides emptiness from work it does
    * anyway, so no separate emptiness job runs. The marker commits
    * strictly after `f` applied a batch. None when the batch was
    * skipped. The marker is a file read, so a replayed batch costs no
    * job. */
  def applyOnce(microBatch: DataFrame, batchId: Long, path: String,
                f: DataFrame => Option[DataFrame]): Option[DataFrame] =
    if (batchId <= committedBatch(path)) None
    else {
      val out = f(microBatch)
      if (out.isDefined) Store.mark(path, MarkerName, batchId.toString)
      out
    }

  private def start(feed: DataFrame)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    feed.writeStream
      .outputMode("append")
      .foreachBatch(each)
      .start()

  /** The last committed batch id at `path`, or -1 with no (or an
    * unreadable) marker — fail-open toward re-applying, never toward
    * silently dropping a batch. */
  def committedBatch(path: String): Long =
    Store.marked(path, MarkerName).flatMap(_.toLongOption).getOrElse(-1L)

  private val MarkerName = "_graft_last_batch"
}
