package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The size decision of the stages that choose their plan from the
  * MEASURED input (Shark's partial DAG execution, SIGMOD 2013): one
  * bounded probe reads at most `cap + 1` rows, so an over-cap input pays
  * a truncated scan and the driver never holds more than `cap + 1` rows.
  * The caps are the constants below; no conf, env var or public
  * parameter moves them. Specs reach a stage's distributed branch through
  * its `private[graft]` `cap`, where `cap <= 0` declines with no job. */
object Sized {

  /** Capped near-dup pairs, pack assignment and connected components:
    * 2²⁰ probe rows (≈ 200 MB of near-dup probe rows, measured). */
  val DriverRows: Int = 1 << 20

  /** [[Bpe.learnMerges]]: 512k histogram rows ≈ tens of MB, the
    * envelope of the broadcast rank map. */
  val BpeDriverRows: Int = 524288

  /** [[Bpe.vocabJoinBack]]'s broadcast: ~50 B/row puts 4M rows at
    * ~200 MB, far under Spark's 8 GB/512M-row hard cap. */
  val BroadcastRows: Int = 4000000

  /** All of `frame`'s rows when there are at most `cap`, else None. */
  def rowsAtMost(frame: DataFrame, cap: Int): Option[Array[Row]] =
    if (cap <= 0) None
    else Some(probe(frame, "collect")(frame.limit(cap + 1).collect()))
      .filter(_.length <= cap)

  /** Whether `frame` has at most `cap` rows: the same probe, counted,
    * for a side that must never reach the driver. */
  def fits(frame: DataFrame, cap: Int): Boolean =
    cap > 0 && probe(frame, "count")(frame.limit(cap + 1).count() <= cap)

  /** Runs `action` under the call site Spark would give it had the
    * caller run it (the first frame outside this object), so jobs stay
    * attributed to their stage. A call site already set on the thread (a
    * streaming query sets one) wins, as in Spark. */
  private def probe[T](frame: DataFrame, verb: String)(action: => T): T = {
    val sc = frame.sparkSession.sparkContext
    val key = "callSite.short"
    val previous = sc.getLocalProperty(key)
    if (previous == null)
      Thread.currentThread.getStackTrace.find { f =>
        val c = f.getClassName
        !c.startsWith(getClass.getName.stripSuffix("$")) &&
          !c.startsWith("java.") && !c.startsWith("scala.")
      }.foreach(f => sc.setLocalProperty(key, s"$verb at ${f.getFileName}:${f.getLineNumber}"))
    try action finally sc.setLocalProperty(key, previous)
  }
}
