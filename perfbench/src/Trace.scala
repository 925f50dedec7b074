package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval on the epoch-millisecond clock. Spans the
  * benchmark opens around its own calls carry their pass id and parent;
  * spans from Spark's listeners are parented by time containment in
  * `metrics.py`. */
final class Span(val id: Long, val name: String, val parent: Long, val pass: Int,
                 val start: Double, val recorded: Boolean) {
  var end: Double = Double.NaN
  var attrs: Seq[(String, Any)] = Nil
  def seconds: Double = (end - start) / 1000.0
  def close(): Unit = {
    end = Span.nowMs()
    Span.stack -= this
    if (recorded) Span.done.add(this)
  }
  def json: String = Report.obj(Seq("id" -> id.toString, "name" -> Report.str(name),
    "parent" -> parent.toString, "pass" -> pass.toString,
    "start" -> start.toString, "end" -> end.toString) ++
    attrs.map { case (k, v) => k -> Report.value(v) })
}

object Span {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, comparable to
    * the millisecond timestamps Spark's listener events carry. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val ids = new AtomicLong(0)
  private[perfbench] val done = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.ArrayBuffer.empty[Span]

  /** Open a span on the benchmark's (single) client thread, as a child of
    * the innermost span still open. Unrecorded spans still time. */
  def open(name: String, pass: Int, recorded: Boolean,
           attrs: Seq[(String, Any)] = Nil): Span = {
    val parent = stack.lastOption.map(_.id).getOrElse(0L)
    val s = new Span(ids.incrementAndGet(), name, parent, pass, nowMs(), recorded)
    s.attrs = attrs
    stack += s
    s
  }

  /** A span whose interval is already known (listener events). */
  def record(name: String, start: Double, end: Double, attrs: Seq[(String, Any)]): Unit = {
    val s = new Span(ids.incrementAndGet(), name, 0L, -1, start, true)
    s.end = end
    s.attrs = attrs
    done.add(s)
  }
}

/** Listeners the benchmark registers on its own session while a traced
  * pass runs: jobs, stages and tasks (SparkListener), SQL executions with
  * their planning phases and physical-operator metrics
  * (QueryExecutionListener), and micro-batches (StreamingQueryListener).
  * Nothing in the program under test is instrumented. */
final class Tracer(spark: SparkSession) {
  private var attached = false

  /** Per-stage task totals, filled from task-end events. */
  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
    var shufW = 0L; var shufR = 0L; var fetchWaitMs = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L
  }
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAcc]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String, String)]()

  /** Call site of each SQL execution, and of each stage's job. Jobs that
    * AQE submits from its own threads carry a call site outside the
    * program (`CompletableFuture.java`); they take their execution's. */
  private val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val stageSites = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId.toString, s.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val last = e.stageInfos.maxBy(_.stageId)
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .getOrElse("")
      val site = if (last.name.contains(".scala:")) last.name else execSites.getOrDefault(exec, last.name)
      e.stageIds.foreach(stageSites.putIfAbsent(_, site))
      jobStarts.put(e.jobId, (e.time.toDouble, site, exec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, site, exec) =>
        Span.record("job", t0, e.time.toDouble, Seq("job_id" -> e.jobId,
          "callsite" -> site, "execution_id" -> exec))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val acc = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
      acc.synchronized {
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        val i = e.taskInfo
        acc.delayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        acc.shufW += m.shuffleWriteMetrics.bytesWritten
        acc.shufR += m.shuffleReadMetrics.totalBytesRead
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.spill += m.diskBytesSpilled
        acc.inBytes += m.inputMetrics.bytesRead
        acc.inRecords += m.inputMetrics.recordsRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val acc = Option(stages.remove((si.stageId, si.attemptNumber()))).getOrElse(new StageAcc)
      Span.record("stage", si.submissionTime.getOrElse(0L).toDouble,
        si.completionTime.getOrElse(0L).toDouble, Seq(
          "stage_id" -> si.stageId, "callsite" -> stageSites.getOrDefault(si.stageId, si.name),
          "tasks" -> acc.tasks,
          "run_s" -> acc.runMs / 1000.0, "cpu_s" -> acc.cpuNs / 1e9, "gc_s" -> acc.gcMs / 1000.0,
          "delay_s" -> acc.delayMs / 1000.0, "shuffle_write_bytes" -> acc.shufW,
          "shuffle_read_bytes" -> acc.shufR, "fetch_wait_s" -> acc.fetchWaitMs / 1000.0,
          "spill_bytes" -> acc.spill, "input_bytes" -> acc.inBytes,
          "input_rows" -> acc.inRecords))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordExecution(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordExecution(funcName, qe, 0L, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() / 1000.0 }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Span.record("trigger", start, start + d.getOrElse("triggerExecution", 0.0) * 1000, Seq(
        "query_name" -> p.name, "batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
        "add_batch_s" -> d.getOrElse("addBatch", 0.0),
        "plan_s" -> d.getOrElse("queryPlanning", 0.0),
        "wal_s" -> d.getOrElse("walCommit", 0.0),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  /** Sum each SQL metric of the executed physical plan by (operator,
    * metric) name, in its base unit: seconds for timings, else raw. */
  private def planMetrics(plan: SparkPlan): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ReusedExchangeExec => return
        case _ =>
      }
      out(s"${p.nodeName}.nodes") += 1
      p.metrics.foreach { case (k, m) =>
        val v = m.metricType match {
          case "timing" => m.value / 1000.0
          case "nsTiming" => m.value / 1e9
          case _ => m.value.toDouble
        }
        out(s"${p.nodeName}.$k") += v
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toMap
  }

  private def recordExecution(funcName: String, qe: QueryExecution, durationNs: Long,
                              ok: Boolean): Unit = {
    val end = Span.nowMs()
    val phases = qe.tracker.phases
    val planS = phases.values.map(_.durationMs).sum / 1000.0
    val metrics = try planMetrics(qe.executedPlan) catch {
      case scala.util.control.NonFatal(_) => Map.empty[String, Double]
    }
    Span.record("sql", end - durationNs / 1e6, end,
      Seq("func" -> funcName, "ok" -> ok, "plan_s" -> planS) ++
        metrics.toSeq.sortBy(_._1).map { case (k, v) => s"m.$k" -> v })
  }

  /** Register (or remove) the listeners; called at pass boundaries. */
  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      // let queued events reach the listeners before they go
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    attached = on
  }

  def finish(): Unit = attach(false)

  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try Span.done.asScala.foreach(s => w.println(s.json)) finally w.close()
  }
}
