package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.xxhash64

/** The benchmark's JVM side: one workload in one JVM, one client.
  *
  * Usage: `perfbench.Harness key=value ...` with keys `workload`, `data`
  * (directory of the generated parquet tables, one copy per set-up),
  * `run` (the run's scratch root), `seconds`, `trace` (0|1), `queries`
  * (comma list, batch workloads), `setups` and `cpus`. Stream workloads
  * take `rates` and `segment_s` instead of `queries`. Writes `report.json` and,
  * when traced, `spans.jsonl` under `run`; all metric math happens in
  * `metrics.py`.
  *
  * Batch workloads are a closed loop with one client: the next query is
  * issued only after the previous one's output is fully forced.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val run = new File(a("run"))
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val cpus = a("cpus").toInt
    val setups = a("setups").toInt
    val report = new Report
    report.put("load_before", Meta.loadavg())
    report.put("calibration_s", Meta.calibration())
    report.put("nproc", Runtime.getRuntime.availableProcessors())
    report.put("spark_version", org.apache.spark.SPARK_VERSION)

    val workload: Workload = a("workload") match {
      case "stream_ingest" =>
        new StreamWorkload(a("rates").split(",").map(_.toDouble).toSeq, a("segment_s").toDouble)
      case _ => new BatchWorkload(a("queries").split(",").toSeq, new File(run, "verify"))
    }

    // Set-up: session start to the end of the warm-up, repeated on fresh
    // copies of the inputs (`data_<i>`) so every path-keyed store and
    // memo is built again; the last session stays up for the timed passes.
    // A traced stream run has a single timed pass, so its trace overhead
    // is read off the set-ups instead: the last one runs traced.
    val stream = workload.isInstanceOf[StreamWorkload]
    var spark: SparkSession = null
    var tracer: Option[Tracer] = None
    val sessionTimes = mutable.ArrayBuffer.empty[Double]
    val setupTimes = (0 until setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(cpus, new File(run, s"setup$i"))
      sessionTimes += (System.nanoTime() - t0) / 1e9
      if (trace && i == setups - 1) tracer = Some(new Tracer(spark))
      if (stream) tracer.foreach(_.attach(true))
      val excluded = workload.warmUp(spark, s"${a("data")}_$i", verify = i == 0)
      tracer.foreach(_.attach(false))
      (System.nanoTime() - t0) / 1e9 - excluded
    }
    report.put("setup_s", setupTimes)
    report.put("session_start_s", sessionTimes.toSeq)
    if (trace && stream) report.put("trace_overhead_frac", setupTimes.last / setupTimes(setups - 2) - 1)
    report.put("confs", spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sortBy(_._1))
    val dataDir = s"${a("data")}_${setups - 1}"

    val gc = new GcWatch
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    workload.timed(spark, dataDir, deadline, tracer, report, gc)
    tracer.foreach(_.finish())
    report.put("heap_peak_mb", gc.peakOldMb)
    report.put("gc_s", gc.gcSeconds)
    workload.finish(spark, report)
    spark.stop()
    report.put("load_after", Meta.loadavg())
    tracer.foreach(_.write(new File(run, "spans.jsonl")))
    report.write(new File(run, "report.json"))
  }
}

/** Session factory with `graft.Bench`'s session settings, and every
  * directory the run writes moved under its own scratch root. */
object Session {
  def start(cpus: Int, root: File): SparkSession = {
    root.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.limit.initialNumPartitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(root, "local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(root, "checkpoints").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Order-insensitive, duplicate-safe multiset hash of a query's rows.
  * Each row's xxhash64 is passed through a 64-bit finalizer and the
  * results are summed mod 2^64, so equal rows add up instead of
  * cancelling as they would under XOR. */
object RowHash {
  def mix(h0: Long): Long = {
    var h = h0 * 0xbf58476d1ce4e5b9L
    h ^= h >>> 31
    h *= 0x94d049bb133111ebL
    h ^ (h >>> 29)
  }

  /** (row count, hash) of a stream of row hashes. */
  def fold(rowHashes: Iterator[Long]): (Long, Long) = {
    var n = 0L
    var s = 0L
    rowHashes.foreach { h => n += 1; s += mix(h) }
    (n, s)
  }

  /** Force every column of `df` and return its (row count, hash). The
    * per-partition fold is opaque to Catalyst, so the query's own final
    * sort is kept, as under `graft.Bench`'s forcing action. */
  def of(df: DataFrame): (Long, Long) = {
    import df.sparkSession.implicits._
    val cols = df.columns.map(c => df.col("`" + c.replace("`", "``") + "`"))
    val parts = df.select(xxhash64(cols: _*).as("_h")).as[Long]
      .mapPartitions(it => Iterator.single(fold(it)))
      .collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

trait Workload {
  /** Warm-up on a fresh session; returns the seconds spent on work that
    * is not set-up (writing results for the oracle check). */
  def warmUp(spark: SparkSession, dataDir: String, verify: Boolean): Double
  def timed(spark: SparkSession, dataDir: String, deadline: Long,
            tracer: Option[Tracer], report: Report, gc: GcWatch): Unit
  def finish(spark: SparkSession, report: Report): Unit = ()
}

/** One pass = every query of the workload once, in a fixed order. */
final class BatchWorkload(queries: Seq[String], verifyDir: File) extends Workload {
  private val fns = queries.map(q => q -> graft.SparkEntry.queries(q))
  private val expected = mutable.Map.empty[String, (Long, Long)]
  private val MinPasses = 2

  def warmUp(spark: SparkSession, dataDir: String, verify: Boolean): Double = {
    var excluded = 0.0
    fns.foreach { case (q, fn) =>
      val (_, scope) = graft.operators.Caches.scope {
        val df = fn(spark, dataDir)
        if (!verify) RowHash.of(df)
        else {
          // written exactly as graft.Verify does, for the DuckDB oracle;
          // the timed passes then compare against the verified rows
          val t0 = System.nanoTime()
          val out = new File(verifyDir, q).getAbsolutePath
          df.coalesce(1).write.mode("overwrite").parquet(out)
          expected(q) = RowHash.of(spark.read.parquet(out))
          excluded += (System.nanoTime() - t0) / 1e9
        }
      }
      scope.release()
      spark.catalog.clearCache()
    }
    if (verify) writeOracles()
    excluded
  }

  private def writeOracles(): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Report.writeJson(new File(verifyDir, "oracle_sql.json"),
      Report.obj(queries.map(q => q -> Report.str(sql(q)))))
  }

  def timed(spark: SparkSession, dataDir: String, deadline: Long,
            tracer: Option[Tracer], report: Report, gc: GcWatch): Unit = {
    val passes = mutable.ArrayBuffer.empty[String]
    val execs = mutable.ArrayBuffer.empty[String]
    var pass = 0
    var sampled = 0.0
    var attempted = 0
    var failed = 0
    // a traced run alternates untraced and traced passes, so the trace's
    // own overhead is measured in the same run
    def tracedPass(p: Int) = tracer.isDefined && p % 2 == 1
    while (pass < MinPasses * (if (tracer.isDefined) 2 else 1) ||
           System.nanoTime() < deadline + (sampled * 1e9).toLong) {
      val traced = tracedPass(pass)
      tracer.foreach(_.attach(traced))
      val pspan = Span.open("pass", pass, traced)
      var sampling = 0.0
      fns.foreach { case (q, fn) =>
        val qspan = Span.open("query", pass, traced, Seq("query" -> q))
        val t0 = System.nanoTime()
        attempted += 1
        var ok = false
        var caches = (0.0, 0)
        val (_, scope) = graft.operators.Caches.scope {
          try {
            val c = Span.open("compose", pass, traced)
            val df = fn(spark, dataDir)
            c.close()
            val e = Span.open("execute", pass, traced)
            val got = RowHash.of(df)
            e.close()
            caches = Meta.cacheUse(spark)
            ok = expected.get(q).contains(got)
            if (!ok) System.err.println(s"[perfbench] $q: got $got, verified ${expected.get(q)}")
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[perfbench] $q failed: $e")
          }
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (pass == 0) sampling += gc.sample()
        scope.release()
        spark.catalog.clearCache()
        qspan.attrs ++= Seq("cache_mb" -> caches._1, "cache_blocks" -> caches._2)
        qspan.close()
        if (!ok) failed += 1
        execs += Report.obj(Seq("pass" -> pass.toString, "query" -> Report.str(q),
          "s" -> dt.toString, "ok" -> ok.toString))
      }
      pspan.close()
      sampled += sampling
      passes += Report.obj(Seq("pass" -> pass.toString, "s" -> (pspan.seconds - sampling).toString,
        "traced" -> traced.toString))
      pass += 1
    }
    tracer.foreach(_.attach(false))
    report.putRaw("passes", passes.mkString("[", ",", "]"))
    report.putRaw("executions", execs.mkString("[", ",", "]"))
    report.put("attempted", attempted)
    report.put("failed", failed)
  }
}

/** JVM-wide GC seconds, and the live heap: old-generation occupancy
  * right after a full collection the benchmark requests where the
  * workload holds its working set (the end of each query of the first
  * timed pass, before its caches are released; the end of a stream's
  * drain, once no trigger is running). Sampling after a forced
  * collection keeps the figure free of when the collector happened to
  * run; later passes run without the forced collections. */
final class GcWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val gc0 = beans.map(_.getCollectionTime).sum
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var peak = 0L
  private var sampling = 0L

  /** Collect and record the live old generation; returns seconds spent.
    * Spark frees unreachable broadcast and shuffle blocks from its
    * cleaner thread once a collection has found them, so a second
    * collection after that pause sees only what is still live. */
  def sample(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, oldGen.map(_.getUsage.getUsed).sum)
    val dt = System.nanoTime() - t0
    sampling += dt
    dt / 1e9
  }
  def peakOldMb: Double = peak / 1048576.0
  /** GC seconds since construction, less the forced collections. */
  def gcSeconds: Double = (beans.map(_.getCollectionTime).sum - gc0) / 1000.0 - sampling / 1e9
}

object Meta {
  def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+").take(3).mkString(" ") finally src.close()
    } catch { case scala.util.control.NonFatal(_) => "" }

  /** Seconds for a fixed single-threaded integer workload, after one
    * untimed round: read beside the run's times to spot a slow box. */
  def calibration(): Double = {
    def round(): Long = {
      var h = 0L
      var i = 0L
      while (i < 20000000L) { h = RowHash.mix(h + i); i += 1 }
      h
    }
    round()
    val t0 = System.nanoTime()
    val sink = round()
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == 42) println("")
    dt
  }

  /** (MB, partitions) of RDD blocks cached right now. */
  def cacheUse(spark: SparkSession): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.map(_.numCachedPartitions).sum)
  }
}

/** A run's report: an insertion-ordered JSON object built from strings. */
final class Report {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def putRaw(k: String, json: String): Unit = fields(k) = json
  def put(k: String, v: Any): Unit = fields(k) = Report.value(v)
  def write(f: File): Unit = Report.writeJson(f, Report.obj(fields.toSeq))
}

object Report {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case (k: String, x) => s"[${str(k)}, ${value(x)}]"
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(String.valueOf(other))
  }
  def writeJson(f: File, json: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.println(json) finally w.close()
  }
}
