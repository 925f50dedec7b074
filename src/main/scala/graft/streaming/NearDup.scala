package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextFunctions.tokens
import graft.operators.Dedup

/** Streaming near-duplicate detection — the streaming twin of the batch
  * MinHash+LSH pass (q27, [[graft.operators.Dedup.minhashLshPairs]]).
  *
  * Shape: the per-row signature ([[Dedup.minhashSigCol]] — a row-local
  * array aggregate, shuffle-free by construction) and the band-key
  * explosion are STATELESS projections; the only stateful operator is a
  * `flatMapGroupsWithState` keyed on (band, band-key) whose state is the
  * set of (doc_id, signature) pairs seen in that bucket. A new arrival
  * emits one candidate pair per stored bucket-mate, scored exactly like
  * the batch rescore (fraction of agreeing minhashes), then joins the
  * state. This is the same candidate set the batch banded self-join
  * produces, discovered incrementally.
  *
  * Scale/state story (the part a 100-TB stream cares about):
  *   - state rows = live (band, key) buckets inside the watermark
  *     horizon; each holds only ids + k-long signatures, never text.
  *   - event-time timeout evicts a bucket once the watermark passes its
  *     newest member + the horizon — state is bounded by bucket churn,
  *     not by total documents streamed.
  *   - a bucket collecting more than `maxBucket` docs stops ACCUMULATING
  *     (keeps emitting pairs against the retained prefix) — the
  *     streaming analogue of the batch pass's hot-shingle frequency cap:
  *     a degenerate bucket (boilerplate corpus) would otherwise grow
  *     state and per-arrival cost quadratically. Retained-prefix pairs
  *     stay exact; pairs among the overflow are sacrificed, recorded
  *     here, exactly like the batch cap's documented recall trade.
  *
  * Same-batch arrivals: pair emission is ORDER-INDEPENDENT — each
  * arrival pairs against every already-retained bucket-mate with a<b
  * normalization, so the emitted pair set is the same whatever order
  * Spark hands the group's rows over (intra-group iterator order is not
  * guaranteed). Under the cap, WHICH same-batch arrival a full bucket
  * retains is therefore arbitrary among them — only membership is
  * order-sensitive, never the correctness of emitted pairs.
  * A candidate pair sharing several bands is emitted once PER band —
  * downstream consumers (and the duality spec) take the distinct set,
  * mirroring the batch `.distinct()` before rescore.
  */
object NearDup {

  case class CandPair(doc_a: Long, doc_b: Long, est_jaccard: Double)

  /** One bucket member: id + its full k-minhash signature (needed to
    * score pairs against later arrivals). */
  case class Member(id: Long, sig: Seq[Long])

  /** Bucket state: members plus the NEWEST event time ever stored.
    * The eviction deadline must be newest-member + horizon; deriving it
    * from only the current batch's max would let a late-but-valid
    * arrival (older than the stored newest, still above the watermark)
    * pull the deadline BACKWARD and evict the bucket early — dropping
    * pairs the batch pass finds. `overflowed` latches once the bucket
    * first declines a member, so the overflowed-BUCKET metric counts
    * each bucket once, not once per declined arrival. */
  case class Bucket(newestTs: Long, members: List[Member],
                    overflowed: Boolean = false)

  /** Observability for the bucket cap's recall trade: `droppedMembers`
    * counts arrivals a full bucket declined to retain (each such doc
    * still pairs against the retained prefix, but pairs AMONG the
    * overflow are sacrificed); `overflowedBuckets` counts buckets that
    * ever declined at least one member. Spark accumulators: exact on a
    * clean run, may over-count under task retries — a monitoring
    * signal, not a ledger. */
  final case class OverflowMetrics(
      droppedMembers: org.apache.spark.util.LongAccumulator,
      overflowedBuckets: org.apache.spark.util.LongAccumulator)

  /** Register the overflow metrics on this session's SparkContext (they
    * appear in the UI under these names). */
  def overflowMetrics(spark: org.apache.spark.sql.SparkSession): OverflowMetrics =
    OverflowMetrics(
      spark.sparkContext.longAccumulator("neardup.droppedMembers"),
      spark.sparkContext.longAccumulator("neardup.overflowedBuckets"))

  /** Input must carry `doc_id`, `text`, and an `ingest_ts` event-time
    * column (watermarked here). Emits candidate pairs in append mode. */
  def streamingMinhashPairs(docs: DataFrame, k: Int = 12, bands: Int = 4,
                            watermark: String = "1 hour",
                            maxBucket: Int = 1024,
                            overflow: Option[OverflowMetrics] = None): Dataset[CandPair] = {
    // eviction horizon = the watermark delay
    val horizonMs = Watermarks.delayMs(watermark)
    val spark = docs.sparkSession
    import spark.implicits._
    val sigd = docs
      .withWatermark("ingest_ts", watermark)
      .select(col("doc_id"), col("ingest_ts"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("ingest_ts"),
        Dedup.minhashSigCol(col("t"), k).as("sig"))
    // band keys: the SAME (band, concat of r minhashes) the batch pass
    // joins on — one shared definition ([[Dedup.bandKeyStructs]]), so
    // batch/streaming bucket keys cannot drift apart
    val banded = sigd.select(col("doc_id"), col("ingest_ts"), col("sig"),
        explode(Dedup.bandKeyStructs(
          i => element_at(col("sig"), i + 1), k, bands)).as("b"))
      .select(col("b.band").as("band"), col("b.key").as("key"),
        col("doc_id"), col("sig"), col("ingest_ts"))
      .as[(Int, String, Long, Seq[Long], java.sql.Timestamp)]
    banded
      .groupByKey(x => (x._1, x._2))
      .flatMapGroupsWithState[Bucket, CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[Bucket]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(Bucket(Long.MinValue, Nil))
            var members = prev.members
            var newest = prev.newestTs
            var overflowed = prev.overflowed
            val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
            rows.foreach { case (_, _, id, sig, ts) =>
              newest = math.max(newest, ts.getTime)
              if (!members.exists(_.id == id)) {
                members.foreach { m =>
                  val eq = sig.iterator.zip(m.sig.iterator)
                    .count { case (x, y) => x == y }
                  val (a, b) = if (m.id < id) (m.id, id) else (id, m.id)
                  out += CandPair(a, b, eq.toDouble / k)
                }
                if (members.size < maxBucket) members = Member(id, sig) :: members
                else {
                  // declined by the cap: surface the recall trade
                  overflow.foreach { o =>
                    o.droppedMembers.add(1L)
                    if (!overflowed) o.overflowedBuckets.add(1L)
                  }
                  overflowed = true
                }
              }
            }
            state.update(Bucket(newest, members, overflowed))
            // evict once the watermark passes the newest member + horizon
            // (newest is monotone across batches — see [[Bucket]])
            state.setTimeoutTimestamp(newest + horizonMs)
            out.iterator
          }
      }
  }
}
