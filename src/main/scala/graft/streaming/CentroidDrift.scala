package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming counterpart of q66's per-label centroid
  * ([[graft.operators.Similarity.centroidAudit]]): per-WINDOW label
  * centroids over a continuous stream of labeled embeddings — the
  * training-data telemetry a live ingest pipeline watches for
  * distribution drift ("did this hour's crawl move domain X's centroid?").
  *
  * Shape: posexplode to (label, dim, v), then a watermarked windowed
  * sum/count per (window, label, dim) in APPEND mode — a plain streaming
  * aggregation, no custom state. The shuffle carries partial sums (map-
  * side combined), never vectors; state is open-windows × |labels| × dim
  * rows of (sum, count) — independent of stream length. Emitted rows are
  * sums, not means, so downstream can merge windows or compute exact
  * means without re-streaming.
  *
  * Drift itself ([[driftBetweenWindows]]) is batch post-processing of
  * the emitted frame: cosine between consecutive windows' centroids per
  * label — tiny data (windows × labels rows), runs anywhere.
  */
object CentroidDrift {

  /** Watermarked per-(window, label, dim) running sums over a streaming
    * (label, embedding, ingest_ts) frame. Append mode: a row set for a
    * window emits once the watermark closes it. */
  def windowedCentroidSums(vecs: DataFrame,
                           windowLen: String = "1 hour",
                           watermark: String = "30 minutes"): DataFrame =
    vecs.withWatermark("ingest_ts", watermark)
      .select(col("label"), col("ingest_ts"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(window(col("ingest_ts"), windowLen), col("label"), col("pos"))
      .agg(sum(col("v").cast("double")).as("s"), count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("label"),
        col("pos"), col("s"), col("n"))

  /** Assemble emitted sums into one centroid ARRAY row per
    * (win_start, label) — dims ordered by `pos`. */
  def assemble(sums: DataFrame): DataFrame =
    sums.groupBy(col("win_start"), col("label"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), (col("s") / col("n")).as("c")))),
          x => x.getField("c")).as("centroid"),
        // max, not first: first() over the per-dim rows is an arbitrary
        // pick when a ragged/short vector makes n differ by pos; max = the
        // count of vectors contributing to SOME dimension, deterministic
        max(col("n")).as("n_vecs"))

  /** Per-label cosine between consecutive windows' centroids — the drift
    * signal. Input = [[assemble]] output; result is windows × labels
    * rows, small by construction. */
  def driftBetweenWindows(centroids: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("win_start"))
    def dot(a: Column, b: Column) = aggregate(
      zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def norm(a: Column) = sqrt(aggregate(
      transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))
    centroids
      .withColumn("_prev", lag(col("centroid"), 1).over(w))
      .filter(col("_prev").isNotNull)
      .select(col("label"), col("win_start"),
        (dot(col("centroid"), col("_prev")) /
          greatest(norm(col("centroid")) * norm(col("_prev")), lit(1e-30)))
          .as("cos_to_prev"))
  }

  /** One alerting step, pure frames so the logic is batch-testable:
    * `newCentroids` = [[assemble]]d centroids of freshly CLOSED windows
    * (any number per label — late-opening labels, multi-window
    * micro-batches); `state` = one (label, win_start, centroid) row per
    * label, the last window already seen. Returns
    * (alerts, nextState):
    *  - alerts = every consecutive-window cosine that falls below
    *    `minCos`, CHAINED across the state boundary (state→w1, w1→w2, …
    *    — the first new window compares against the remembered one, so
    *    a spike is never missed at a micro-batch edge);
    *  - nextState = per label, the newest window of state ∪ new.
    * Every pair [[driftBetweenWindows]] forms over the union involves a
    * new window (the state holds a single row per label), so alerts are
    * exactly the fresh ones — nothing re-fires. */
  def alertsAndState(newCentroids: DataFrame, state: DataFrame,
                     minCos: Double): (DataFrame, DataFrame) = {
    val cols = Seq(col("label"), col("win_start"), col("centroid"))
    val all = state.select(cols: _*).unionByName(newCentroids.select(cols: _*))
    val alerts = driftBetweenWindows(all).filter(col("cos_to_prev") < minCos)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("win_start").desc)
    val next = all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    (alerts, next)
  }

  /** Wire the telemetry to a pager: consume a STREAMING
    * [[windowedCentroidSums]] frame (append mode — rows arrive when the
    * watermark closes their window) and hand each micro-batch's alert
    * rows — (label, win_start, cos_to_prev < `minCos`) — to `sink`.
    *
    * State story: the remembered frame is ONE row per label (the last
    * closed window's centroid), held as collected driver rows — bounded
    * by |labels| × dim doubles BY CONSTRUCTION, the same cardinality the
    * windowed aggregate itself keeps per open window. Collecting it each
    * batch also cuts the lineage chain a cached-frame formulation would
    * grow without bound across micro-batches.
    *
    * DURABILITY: with `stateDir = None` the chaining state lives only in
    * this driver — on query RESTART it resets to empty, so a drift spike
    * whose window pair spans the restart is silently never alerted (the
    * first post-restart window has nothing to chain against). Pass a
    * `stateDir` to close that gap: after each micro-batch the (tiny)
    * per-label state is persisted as `state_<batchId>.parquet`, and a
    * restarted query reloads the newest state snapshot STRICTLY OLDER
    * than the batch it replays — so a batch re-run after a mid-commit
    * crash chains against the same pre-batch state it saw the first time
    * (idempotent by construction, like the checkpointed sums feeding
    * it). Snapshots are pruned after every successful save (latest two
    * kept) and again on load, so the stateDir stays O(1) however long
    * the query runs. */
  def startAlerts(sums: DataFrame, minCos: Double,
                  sink: (DataFrame, Long) => Unit,
                  stateDir: Option[String] = None): StreamingQuery = {
    var stateRows: Option[Array[Row]] = None // None = not yet loaded
    var stateSchema: StructType = null
    sums.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val cents = assemble(batch)
          .select(col("label"), col("win_start"), col("centroid"))
        if (stateSchema == null) stateSchema = cents.schema
        if (stateRows.isEmpty)
          stateRows = Some(stateDir
            .map(d => loadState(spark, d, beforeBatchId = batchId, stateSchema))
            .getOrElse(Array.empty[Row]))
        val stateDF = spark.createDataFrame(
          java.util.Arrays.asList(stateRows.get: _*), stateSchema)
        val (alerts, next) = alertsAndState(cents, stateDF, minCos)
        sink(alerts, batchId)
        val nextRows = next.collect()
        stateDir.foreach(d => saveState(spark, d, batchId, nextRows, stateSchema))
        stateRows = Some(nextRows)
      }
      .start()
  }

  private def statePath(dir: String, batchId: Long) =
    s"$dir/state_$batchId.parquet"

  /** List existing snapshot (batchId, path) pairs, ascending by id.
    * Listing goes through the Hadoop FileSystem API (the same layer the
    * writes go through), so the durability path works on HDFS/S3A, not
    * just the local filesystem. */
  private def listSnapshots(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Array[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("state_") && n.endsWith(".parquet"))
        n.stripPrefix("state_").stripSuffix(".parquet").toLongOption
          .map(id => (id, st.getPath))
      else None
    }.sortBy(_._1)
  }

  /** Persist one batch's chaining state, then prune: a long-running
    * query otherwise writes one snapshot per micro-batch and (pruning
    * only on restart, as the first cut did) grows the stateDir without
    * bound. Keeps this snapshot plus the newest strictly-older one —
    * exactly what a replay of the NEXT batch after a mid-commit crash
    * could still need. Overwrite mode: a replayed batch rewrites the
    * same deterministic snapshot. */
  private[graft] def saveState(spark: org.apache.spark.sql.SparkSession,
                               dir: String, batchId: Long,
                               rows: Array[Row], schema: StructType): Unit = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(statePath(dir, batchId))
    val keep = listSnapshots(spark, dir).map(_._1)
      .filter(_ != batchId).sorted.lastOption.toSet + batchId
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    listSnapshots(spark, dir).collect {
      case (id, path) if !keep.contains(id) => fs.delete(path, true)
    }
  }

  /** Load the newest persisted state with batchId < `beforeBatchId`
    * (empty when none exists) and prune older snapshots — only the
    * snapshot a replay could still need is kept. */
  private[graft] def loadState(spark: org.apache.spark.sql.SparkSession,
                               dir: String, beforeBatchId: Long,
                               schema: StructType): Array[Row] = {
    val snaps = listSnapshots(spark, dir).filter(_._1 < beforeBatchId)
    if (snaps.isEmpty) Array.empty
    else {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      snaps.dropRight(1).foreach { case (_, p) => fs.delete(p, true) }
      // read under the schema the snapshot was written with: no
      // footer inference, columns in the caller's order
      spark.read.schema(schema).parquet(snaps.last._2.toString).collect()
    }
  }
}
