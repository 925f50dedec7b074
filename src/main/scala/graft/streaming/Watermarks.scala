package graft.streaming

import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils

/** Shared event-time helpers for the stateful streaming operators. */
object Watermarks {

  /** A `withWatermark` delay string in millis, parsed exactly as
    * `Dataset.withWatermark` parses it — NearDup and AsOf reuse the SAME
    * string for Spark's watermark and their own state-retention horizon,
    * so the two cannot drift. A malformed string throws. */
  def delayMs(watermark: String): Long =
    EventTimeWatermark.getDelayMs(IntervalUtils.fromIntervalString(watermark))
}
