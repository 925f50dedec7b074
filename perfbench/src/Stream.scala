package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.{NearDup, SelfDedup, ShardAppend}

/** Open-loop document feed into the three streaming twins, each its own
  * streaming query over one watched directory: `SelfDedup` (stateless),
  * `ShardAppend` (writes a shard store on every trigger) and
  * `NearDup.streamingMinhashPairs` (keyed state).
  *
  * `<data>/feed/NNNNN.parquet` hold the documents, one file per generator
  * tick, listed in `<data>/feed/schedule.csv` as `file,due_s,docs`. One
  * generator thread moves each file into the watched directory when it
  * is due, whatever the queries are doing. A document's latency runs from
  * its file's due time to the end of the first micro-batch, in every one
  * of the three queries, that read it. `<data>/warm/` holds a short feed
  * for the warm-up.
  */
final class StreamWorkload(rates: Seq[Double], segmentS: Double) extends Workload {
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("ingest_ts", TimestampType)))
  private val Budget = 512L
  private val SeqsPerShard = 8L

  /** Sink-side totals per query: the multiset hash of the scrub rows and
    * the pairs NearDup emitted. */
  private val scrub = new java.util.concurrent.atomic.AtomicReference((0L, 0L))
  private val pairs = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()

  private final case class Feed(files: Seq[(String, Double, Int)])
  private def schedule(dir: String): Feed = {
    val src = scala.io.Source.fromFile(s"$dir/schedule.csv")
    try Feed(src.getLines().drop(1).map(_.split(",")).map(r => (r(0), r(1).toDouble, r(2).toInt)).toSeq)
    finally src.close()
  }

  private def startAll(spark: SparkSession, watched: File, store: File): Seq[StreamingQuery] = {
    watched.mkdirs()
    def feed: DataFrame = spark.readStream.schema(schema).parquet(watched.getAbsolutePath)
    val q1 = SelfDedup.start(feed.select(col("doc_id"), col("text")), (df, _) => {
      val h = RowHash.of(df)
      scrub.getAndUpdate(t => (t._1 + h._1, t._2 + h._2))
    })
    val q2 = ShardAppend.start(feed.select(col("doc_id"), col("text")), store.getAbsolutePath,
      Budget, SeqsPerShard, (report, _) => { RowHash.of(report); () })
    val q3 = NearDup.streamingMinhashPairs(feed).writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[NearDup.CandPair], _: Long) =>
        df.collect().foreach(p => pairs.add((p.doc_a, p.doc_b)))
      }.start()
    Seq(q1, q2, q3)
  }

  /** Documents every completed micro-batch of `q` has read so far. */
  private def docsThrough(q: StreamingQuery, ckpts: File, perFile: Map[String, Int]): Long =
    fileBatches(q, ckpts, perFile).map(_._3.toLong).sum

  /** Move every file of `feed` into `watched` on its schedule, measured
    * from `t0` (nanoTime), appending how late each move was to `lags`. */
  private def generator(feedDir: String, feed: Feed, watched: File, t0: Long,
                        lags: mutable.ArrayBuffer[Double]): Thread = {
    val t = new Thread(() => feed.files.foreach { case (f, due, _) =>
      val wait = t0 + (due * 1e9).toLong - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      Files.move(new File(feedDir, f).toPath, new File(watched, f).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      lags.synchronized(lags += (System.nanoTime() - t0) / 1e9 - due)
    }, "perfbench-feed")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Per micro-batch of `q` that read documents: (start and end on the
    * epoch-ms clock, documents read). Which files a batch read comes from the
    * query's file-source log in its checkpoint (`numInputRows` counts a
    * row once per action the sink runs on the batch, so it overcounts). */
  private def fileBatches(q: StreamingQuery, ckpts: File,
                          perFile: Map[String, Int]): Seq[(Double, Double, Int)] = {
    // the query writes its logs while this reads them: a file may vanish
    // between listing and reading (temp files are renamed into place)
    def read(f: File) =
      try new String(Files.readAllBytes(f.toPath), "UTF-8")
      catch { case _: java.io.IOException => "" }
    val root = Option(ckpts.listFiles).toSeq.flatten.find { d =>
      val m = new File(d, "metadata")
      m.exists && read(m).contains(q.id.toString)
    }
    if (root.isEmpty) return Nil
    val Entry = "\"path\":\"([^\"]*)\".*\"batchId\":(\\d+)".r.unanchored
    val docsPerLog = Option(new File(root.get, "sources/0").listFiles).toSeq.flatten
      .filter(_.getName.matches("\\d+(\\.compact)?"))
      .flatMap(f => read(f).split("\n").toSeq)
      .collect { case Entry(path, b) => b.toLong -> perFile(path.split("/").last) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val LogOffset = "\"?logOffset\"?\\s*:\\s*(\\d+)".r.unanchored
    def offset(json: String): Long = json match {
      case LogOffset(n) => n.toLong
      case _ => -1L
    }
    q.recentProgress.toSeq.flatMap { p =>
      val src = p.sources.head
      val docs = (offset(src.startOffset) + 1 to offset(src.endOffset))
        .map(b => docsPerLog.getOrElse(b, 0)).sum
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      if (docs == 0) None
      else Some((start, start + p.durationMs.get("triggerExecution").longValue(), docs))
    }
  }

  private def awaitDocs(qs: Seq[StreamingQuery], ckpts: File, feed: Feed,
                        timeoutS: Double): Boolean = {
    val perFile = feed.files.map(f => f._1 -> f._3).toMap
    val n = feed.files.map(_._3).sum
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (System.nanoTime() < end) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      if (qs.forall(docsThrough(_, ckpts, perFile) >= n)) return true
      Thread.sleep(20)
    }
    false
  }

  /** `<set-up root>/checkpoints` (see [[Session.start]]). */
  private def checkpoints(spark: SparkSession) =
    new File(spark.conf.get("spark.sql.streaming.checkpointLocation"))

  def warmUp(spark: SparkSession, dataDir: String, verify: Boolean): Double = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val warm = s"$dataDir/warm"
    val feed = schedule(warm)
    val root = checkpoints(spark).getParentFile
    val watched = new File(root, "warm_watched")
    val qs = startAll(spark, watched, new File(root, "warm_store"))
    generator(warm, feed, watched, System.nanoTime(), mutable.ArrayBuffer.empty).join()
    val ok = awaitDocs(qs, checkpoints(spark), feed, 120)
    qs.foreach(_.stop())
    require(ok, "warm-up feed was not consumed")
    scrub.set((0L, 0L))
    pairs.clear()
    0.0
  }

  private var store: File = _
  private var fedDocs: String = _
  private var expectedDocs = 0L
  private var missing = 0L

  def timed(spark: SparkSession, dataDir: String, deadline: Long,
            tracer: Option[Tracer], report: Report, gc: GcWatch): Unit = {
    tracer.foreach(_.attach(true))
    val feedDir = s"$dataDir/feed"
    val feed = schedule(feedDir)
    val root = checkpoints(spark).getParentFile
    val watched = new File(root, "watched")
    store = new File(root, "stores/stream_shards")
    fedDocs = s"$dataDir/fed.parquet"
    expectedDocs = feed.files.map(_._3).sum.toLong
    val qs = startAll(spark, watched, store)
    val ckpts = checkpoints(spark)
    val perFile = feed.files.map(f => f._1 -> f._3).toMap
    val lags = mutable.ArrayBuffer.empty[Double]
    val span = Span.open("pass", 0, tracer.isDefined)
    val t0 = System.nanoTime()
    val t0Ms = Span.nowMs()
    // backlog: documents due but not yet through every query, sampled
    val backlog = mutable.ArrayBuffer.empty[(Double, Long)]
    val gen = generator(feedDir, feed, watched, t0, lags)
    val dueAt = feed.files.scanLeft(0)(_ + _._3).tail.zip(feed.files.map(_._2))
    val drainLimit = feed.files.last._2 + 120.0
    var done = false
    while (!done && (System.nanoTime() - t0) / 1e9 < drainLimit) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      val now = (System.nanoTime() - t0) / 1e9
      val due = dueAt.takeWhile(_._2 <= now).lastOption.map(_._1).getOrElse(0)
      val through = qs.map(docsThrough(_, ckpts, perFile)).min
      backlog += ((now, due - through))
      done = !gen.isAlive && through >= expectedDocs
      Thread.sleep(50)
    }
    span.close()
    gen.join()
    // no-data batches (NearDup's watermark) may still run: let them end
    val idleBy = System.nanoTime() + 5000000000L
    while (qs.exists(_.status.isTriggerActive) && System.nanoTime() < idleBy) Thread.sleep(20)
    gc.sample()
    val batches = qs.map(q => fileBatches(q, ckpts, perFile))
    qs.foreach(_.stop())
    tracer.foreach(_.attach(false))
    report.putRaw("stream", Report.obj(Seq(
      "t0_ms" -> t0Ms.toString,
      "rates" -> Report.value(rates),
      "segment_s" -> segmentS.toString,
      "files" -> Report.value(feed.files.map(f => Seq(f._2, f._3.toDouble))),
      "batches" -> Report.value(batches.map(_.map(b => Seq(b._2, b._3.toDouble, b._1)))),
      "backlog" -> Report.value(backlog.map(b => Seq(b._1, b._2.toDouble))),
      "generator_lag_s" -> Report.value(lags.toSeq),
      "drained" -> done.toString,
      "pass_traced" -> tracer.isDefined.toString)))
    if (!done) missing = expectedDocs - batches.map(_.map(_._3.toLong).sum).min
  }

  /** The union of the sink outputs against the batch operators over the
    * fed documents: scrub rows must equal `repeatedGramScrubFor` over
    * them, and the shard store must hold every fed document exactly once.
    * Every document missing or duplicated counts as failed. */
  override def finish(spark: SparkSession, report: Report): Unit = {
    val all = spark.read.parquet(fedDocs)
    val want = RowHash.of(graft.operators.TextOps.repeatedGramScrubFor(
      all.select(col("doc_id"), col("text")), 3))
    val scrubOk = scrub.get == want
    val stored = spark.read.parquet(store.getAbsolutePath).groupBy("doc_id").count()
    val fed = all.select("doc_id").distinct()
    val lost = fed.join(stored, Seq("doc_id"), "left_anti").count()
    val dups = stored.filter(col("count") > 1).count()
    val strays = stored.join(fed, Seq("doc_id"), "left_anti").count()
    val idsOk = pairs.stream().allMatch(p => p._1 < p._2)
    if (!scrubOk) System.err.println(s"[perfbench] scrub output ${scrub.get} != batch $want")
    val failed = missing + lost + dups + strays +
      (if (scrubOk && idsOk) 0L else expectedDocs)
    report.put("attempted", expectedDocs)
    report.put("failed", math.min(failed, expectedDocs))
    report.put("near_dup_pairs", pairs.size)
    report.put("stored_docs", stored.count())
  }
}
