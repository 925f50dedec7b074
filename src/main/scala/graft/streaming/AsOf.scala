package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of join — the streaming twin of the batch q55 pass
  * ([[graft.operators.Relational.asofLastEventFrom]]): each order is
  * paired with the same user's most recent event AT OR BEFORE the order
  * time. Completes the batch/streaming duality table's predicate-join
  * row (SCALE.md §Joins).
  *
  * Shape: the batch form's union-tag trick carries over verbatim — both
  * sides become one watermarked (user, time) stream — but the running
  * `last(…, ignoreNulls)` window becomes ORDERED STATE in a
  * `flatMapGroupsWithState` keyed on user. An order cannot be answered
  * on arrival (an earlier-timestamped event may still be in flight), so
  * orders buffer until the watermark passes their event time; only then
  * is "most recent event ≤ order time" final. That buffering is exactly
  * what makes the twin correct under out-of-order arrival, which the
  * duality spec pins (an order arriving BEFORE its matching event).
  *
  * Semantics (identical to batch, tie-for-tie): the match is inclusive
  * (an event at exactly the order time counts), the larger event_id wins
  * among equal-timestamp events, and an order with no prior event emits
  * nulls.
  *
  * Scale/state story (the 100-TB argument):
  *   - state per user = ONE compacted carry event (the latest event at
  *     or below the watermark — all older events can never beat it for
  *     any still-open order, so they compact away), plus only the
  *     events/orders INSIDE the watermark horizon. State scales with
  *     per-user in-flight traffic, never with history length — the
  *     streaming analogue of the batch form's "cost independent of
  *     events-per-user".
  *   - event-time timeouts both finalize ripe orders on quiet users (a
  *     group with no new arrivals still answers once the watermark
  *     passes) and evict the carry once the watermark passes the user's
  *     newest activity + horizon. An order arriving later than that sees
  *     no prior event; the batch pass is the backstop.
  */
object AsOf {

  /** Output row; mirrors the batch q55 column set (timestamps raw here,
    * formatting/rounding is presentation). None = no prior event. */
  case class AsOfMatch(o_orderkey: Long, o_custkey: Long,
                       order_ts: java.sql.Timestamp, o_totalprice: Double,
                       last_event_ts: Option[java.sql.Timestamp],
                       last_event_type: Option[String])

  /** Event in state: micros + id tie + type (never the payload). */
  case class EvRec(tsUs: Long, tie: Long, typ: String)
  /** Order awaiting its watermark: micros + key + price. */
  case class OrdRec(tsUs: Long, key: Long, price: Double)

  /** Per-user ordered state. `newestMs` is the newest event-time ever
    * seen (monotone, like NearDup's bucket deadline — a late-but-valid
    * arrival must not pull eviction backward); `carry` is the compacted
    * best event at or below the watermark; `events`/`pending` hold only
    * rows the watermark hasn't passed. */
  case class UserAsOf(newestMs: Long, carry: Option[EvRec],
                      events: List[EvRec], pending: List[OrdRec])

  private def toUs(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
  private def toTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** `events` must carry (user_id, ts, event_id, event_type); `orders`
    * (o_orderkey, o_custkey, o_orderdate timestamp, o_totalprice). Both
    * may be the same source filtered two ways — the single watermark is
    * applied AFTER the union, so the two sides share one event-time
    * frontier. Emits one row per order in append mode, once the
    * watermark passes the order's event time. */
  def streamingAsOf(events: DataFrame, orders: DataFrame,
                    watermark: String = "1 hour"): Dataset[AsOfMatch] = {
    val horizonMs = Watermarks.delayMs(watermark)
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(
      col("user_id").as("uid"), col("ts"),
      lit(0).as("kind"), col("event_id").as("tie"),
      col("event_type").as("ev_type"),
      lit(0L).as("o_orderkey"), lit(0.0).as("o_totalprice"))
    val ord = orders.select(
      col("o_custkey").as("uid"), col("o_orderdate").cast("timestamp").as("ts"),
      lit(1).as("kind"), lit(0L).as("tie"),
      lit(null).cast("string").as("ev_type"),
      col("o_orderkey"), col("o_totalprice"))
    ev.unionByName(ord)
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Int, Long, String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserAsOf, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[UserAsOf]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val st = state.getOption.getOrElse(
            UserAsOf(Long.MinValue, None, Nil, Nil))
          var newest = st.newestMs
          var evs = st.events
          var pend = st.pending
          rows.foreach { case (_, ts, kind, tie, evType, okey, price) =>
            newest = math.max(newest, ts.getTime)
            if (kind == 0) evs = EvRec(toUs(ts), tie, evType) :: evs
            else pend = OrdRec(toUs(ts), okey, price) :: pend
          }
          // an order is final once the watermark strictly passes it: an
          // event at exactly the order time is still admissible at
          // ts == wm, so `<` not `<=`
          val (ripe, still) = pend.partition(_.tsUs < wmUs)
          val out = ripe.map { o =>
            val best = (st.carry.iterator ++ evs.iterator)
              .filter(_.tsUs <= o.tsUs)
              .maxByOption(e => (e.tsUs, e.tie))
            AsOfMatch(o.key, uid, toTimestamp(o.tsUs), o.price,
              best.map(e => toTimestamp(e.tsUs)), best.map(_.typ))
          }
          // compact: of the events the watermark has passed, only the
          // latest can ever match a still-open order (all opens sit at
          // ts ≥ wm ≥ these events) — fold them into one carry
          val (settled, live) = evs.partition(_.tsUs < wmUs)
          val carry = (st.carry.iterator ++ settled.iterator)
            .maxByOption(e => (e.tsUs, e.tie))
          if (still.isEmpty && live.isEmpty && newest + horizonMs <= wmMs) {
            state.remove() // carry past retention: the documented trade
          } else {
            state.update(UserAsOf(newest, carry, live, still))
            // wake when the earliest open order ripens (wm must pass it:
            // ts+1) or when retention expires — whichever comes first,
            // clamped above the current watermark as Spark requires
            val deadline = (still.map(_.tsUs / 1000L + 1L) :+
              (newest + horizonMs)).min
            state.setTimeoutTimestamp(math.max(wmMs + 1L, deadline))
          }
          out.iterator
      }
  }
}
