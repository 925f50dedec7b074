package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{Store, Tables}

/** Sequence packing for LLM training pipelines: concatenate documents in
  * a deterministic pseudo-random order and cut the stream into
  * fixed-token-budget training sequences. The audit (q52) reports how
  * documents fill sequences — the report a pretraining data pipeline
  * runs before writing packed shards.
  *
  * The core primitive is a DISTRIBUTED global prefix sum: a naive
  * `Window.orderBy(...)` with no partitioning collapses the whole
  * dataset into ONE task (Spark warns exactly this), which is a
  * non-starter at corpus scale. [[runningTotal]] instead range-partitions
  * on the order key, computes running sums within partitions, and adds
  * per-partition offsets folded on the driver into a literal expression
  * (`parts` scalars) — the classic two-pass parallel scan.
  * The result depends only on the global order, not on partition
  * boundaries (spec: partition-count invariance).
  *
  * Scale shape: the scan is the corpus-scale path. [[packAssignments]]
  * first probes its input with one bounded collect and, when the
  * `(doc_id, order key, count)` rows fit under the shared 2²⁰-row
  * driver cap, sorts and folds them on the driver instead — the same
  * order and the same long sums, without the scan's sample, shuffle and
  * totals jobs.
  */
object Packing {

  /** Inclusive global running total of `value` in `order` order (the
    * order columns must be a total order — include a unique tiebreak).
    * Adds `_cum` to the frame. Two-pass scan: O(rows/partitions) memory
    * per task, one range shuffle + one tiny (partition-count-row)
    * driver fold. */
  def runningTotal(df: DataFrame, order: Seq[Column], value: Column,
                   parts: Int = 32): DataFrame = {
    // MUST be materialized once: the within-partition branch and the
    // offsets branch both read the pid assignment, and RangePartitioner
    // boundaries are sample-based — two independent executions of the
    // exchange could disagree on boundaries and join wrong offsets.
    // The cache pins ONE boundary draw for both consumers.
    val ranged = Caches.track(
      df.repartitionByRange(parts, order: _*)
        .withColumn("_pid", spark_partition_id()))
    val wIn = Window.partitionBy(col("_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = ranged.withColumn("_cum_in", sum(value).over(wIn))
    // per-partition totals: `parts` rows BY CONSTRUCTION — folded on the
    // driver into a literal per-pid offset expression (the same place AQE
    // keeps per-partition stats). This is deliberately NOT a window: an
    // unpartitioned Window over the totals fires WindowExec's
    // "No Partition Defined" warning (and a constant partition key gets
    // optimized away to the same plan), and that log noise would mask a
    // REAL data-sized global window ever sneaking into the engine. The
    // collect also eagerly pins ONE RangePartitioner boundary draw before
    // the big second pass reads the cache. Exclusive prefix accumulation
    // runs in pid order — the identical left fold the window form did, so
    // results are bit-equal for long AND double values.
    // (≤ `parts` rows with unique pids: sorted on the driver, since a
    // Spark orderBy would add a range-sampling job for nothing)
    val totals = ranged.groupBy(col("_pid")).agg(sum(value).as("_ptot"))
      .collect().sortBy(_.getInt(0))
    val cumType = within.schema("_cum_in").dataType
    var accL = 0L
    var accD = 0.0
    var accB = java.math.BigDecimal.ZERO
    val offs: Array[(Int, Column)] = totals.map { r =>
      val pid = r.getInt(0)
      val off = r.get(1) match {
        case l: java.lang.Long => val o = lit(accL); accL += l; o
        case d: java.lang.Double => val o = lit(accD); accD += d; o
        case b: java.math.BigDecimal => val o = lit(accB); accB = accB.add(b); o
        case null => lit(accL) // all-null partition contributes nothing
        case other => throw new IllegalArgumentException(
          s"runningTotal supports long/double/decimal sums, got ${other.getClass}")
      }
      pid -> off.cast(cumType)
    }
    val offExpr = offs.foldLeft(lit(null).cast(cumType)) {
      case (acc, (pid, off)) => when(col("_pid") === pid, off).otherwise(acc)
    }
    within
      .withColumn("_cum", col("_cum_in") + offExpr)
      .drop("_pid", "_cum_in") // internal columns must not leak
  }

  /** q52 — sequence-packing audit: documents ordered by md5(doc_id) (a
    * deterministic shuffle any engine reproduces), token counts
    * accumulated with the distributed scan, and each document assigned
    * to the sequence where it STARTS (`(cum_before) div budget`). One
    * row per packed sequence with its document count and token mass —
    * straddling documents count toward their start sequence, so
    * `seq_tokens` can exceed the budget by at most one document. */
  def packSequences(s: SparkSession, dir: String,
                    budget: Long = 2048): DataFrame =
    packSequencesFor(Tables(s, dir, "documents"), budget)

  /** [[packSequences]] over ANY (doc_id, text) frame — the composed
    * pipeline packs its dedup survivors, not the raw table. */
  def packSequencesFor(documents: DataFrame,
                       budget: Long = 2048): DataFrame =
    packSequencesCounts(
      documents.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("_nt")),
      budget)

  /** q81 — chunk packing: [[TextOps.docChunks]]'s sliding-window chunks
    * fed through the SAME packer as q52 — the composed chunk→pack path
    * a pretraining pipeline actually runs (documents are first cut to
    * model-sized windows, then windows are packed into fixed-budget
    * training sequences; with budget = 2·maxLen each sequence holds ~2
    * full windows plus tails). Chunks enter keyed by "doc:idx" strings
    * so [[packSequencesCounts]] is reused VERBATIM — an ordering or
    * accumulation fix lands in q52 and q81 at once. Scale shape is the
    * packer's: a driver fold under its cap (string keys sort in
    * UTF8String byte order there, as in Spark), else one range shuffle
    * + the partition-count driver fold; the chunker adds no shuffle of
    * its own. */
  def packChunks(s: SparkSession, dir: String, maxLen: Int = 32,
                 stride: Int = 24, budget: Long = 64): DataFrame =
    packSequencesCounts(
      TextOps.docChunksRaw(TextOps.docsHeavy(s, dir), maxLen, stride)
        .select(concat_ws(":", col("doc_id"), col("chunk_idx")).as("doc_id"),
          col("n_tokens").as("_nt")),
      budget)
      .withColumnRenamed("n_docs", "n_chunks")

  /** q106 — TOKENIZER-budget packing: the q52 packer with the budget
    * column counted in BPE SUBWORDS instead of whitespace words.
    * Production shards are sized by what the model consumes — a
    * 2048-token training sequence is 2048 tokenizer tokens — so the
    * packer's `_nt` comes from [[Bpe.subwordCountsFor]] under the q90
    * merge table (re-learned via [[Bpe.trainedMerges]]: same train
    * split, same sequential trainer, so the oracle's unrolled train
    * chain replays it exactly). Scale shape: the q90 histogram pass +
    * 10 histogram-sized merge iterations, ONE distinct-word
    * segmentation joined back to the occurrence stream (q91's shape —
    * the token stream never re-segments), then the packer's two-pass
    * range scan; budgets count the same rows either way, so the packing
    * tail is q52's verbatim. */
  def packSequencesBpe(s: SparkSession, dir: String, budget: Long = 2048,
                       iters: Int = 10): DataFrame = {
    // r16: (a) the train and the segmentation's merge-free branch (corpus
    // scan → distinct words) run OVERLAPPED (§2.6 — the train is a driver
    // loop of histogram-sized jobs; Bpe.subwordCountsTrained); (b) the
    // narrow (doc_id, _nt) counts are PINNED before the packer — its
    // range partitioner samples its input before shuffling it, so an
    // unpinned counts subtree pays the corpus-scale segmentation pass
    // twice (the same measurement that shaped q109, Packing.scala r15;
    // q62 pins its counts for the identical reason since r10).
    val (_, counts) = Bpe.subwordCountsTrained(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      Bpe.trainedMerges(s, dir, iters))
    packSequencesCounts(Caches.register(counts.localCheckpoint()), budget)
  }

  /** [[packSequencesBpe]]'s core over ANY (doc_id, text) frame and any
    * frozen merge table — BpeSpec pins both degenerate ends (empty
    * table = chars+1 per word; saturating table ≡ whitespace packing). */
  def packSequencesSubwordFor(documents: DataFrame, merges: Seq[Bpe.Merge],
                              budget: Long): DataFrame =
    packSequencesCounts(Bpe.subwordCountsFor(documents, merges), budget)

  /** [[packSequencesFor]] when the caller already has token counts —
    * expects (doc_id, _nt). The composed pipeline's cached survivor
    * frame carries token arrays, so its counts are a `size()` away and
    * the texts are never re-split here. */
  def packSequencesCounts(docCounts: DataFrame,
                          budget: Long = 2048): DataFrame =
    packAssignments(docCounts, budget)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("seq_tokens"))
      .orderBy(col("seq_id"))

  /** The per-document pack assignment under q52's deterministic order:
    * (doc_id, _ok = md5(doc_id) order key, _nt, _cum, seq_id). The
    * shared head of the packing audit and the shard writer — extracting
    * it means the artifact q103 writes and the report q52 publishes can
    * never disagree on which sequence a document landed in.
    *
    * Scale shape — decided from MEASURED size: one bounded probe
    * collects at most [[Sized.DriverRows]] + 1 `(doc_id, _ok, _nt)`
    * rows; when they all fit, the order, the running total and the
    * sequence ids are folded on the driver ([[packAssignmentsLocal]])
    * and returned as a local relation — one job instead of the two-pass
    * scan's range sample, range shuffle, totals and final pass. Above
    * the cap, and for a budget ≤ 0, a non-long `_nt` or a doc id that is
    * neither long nor string, [[packAssignmentsDistributed]] runs. */
  private[graft] def packAssignments(docCounts: DataFrame, budget: Long,
                                     cap: Int = Sized.DriverRows): DataFrame =
    packAssignmentsProbed(docCounts, budget, cap)._1

  /** [[packAssignments]], with whether its input is empty when the probe
    * ran and told (None when no probe ran). */
  private def packAssignmentsProbed(docCounts: DataFrame, budget: Long,
                                    cap: Int): (DataFrame, Option[Boolean]) = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val d = orderKeyed(docCounts)
    val keyType = d.schema("doc_id").dataType
    val probe =
      if (budget <= 0 || cap <= 0 || d.schema("_nt").dataType != LongType ||
          (keyType != LongType && keyType != StringType)) None
      else Some(Sized.rowsAtMost(d, cap))
    val assigned = probe.flatten.flatMap(packAssignmentsLocal(_, d, budget))
      .getOrElse(packAssignmentsDistributed(docCounts, budget))
    (assigned, probe.map(_.exists(_.isEmpty)))
  }

  /** The `(doc_id, _ok, _nt)` rows both assignment paths order. */
  private def orderKeyed(docCounts: DataFrame): DataFrame =
    docCounts.select(col("doc_id"),
      md5(col("doc_id").cast("string")).as("_ok"),
      col("_nt"))

  /** [[packAssignments]] solved on the driver from the probe rows of
    * its keyed frame `d`, or None when it must run distributed: a null
    * key or count, or a running total that overflows a long. Spark
    * computes the md5 key in the probe's projection; the rows are sorted
    * by (_ok, doc_id) under Spark's ordering — UTF8String byte order for
    * strings, signed order for longs — and the inclusive long running
    * total and `seq_id = (_cum - _nt) div budget` are folded in that
    * order, so the rows equal the distributed output as a multiset. */
  private def packAssignmentsLocal(probe: Array[org.apache.spark.sql.Row], d: DataFrame,
                                   budget: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val keyType = d.schema("doc_id").dataType
    if (probe.exists(r => r.anyNull)) return None
    // sort keys built once per row: md5 hex, then the doc id as a long
    // or as its UTF-8 bytes (Spark's binary string order)
    val keyed = probe.map(r => (UTF8String.fromString(r.getString(1)),
      if (keyType == StringType) UTF8String.fromString(r.getString(0)) else null, r))
    val byKey: Ordering[(UTF8String, UTF8String, org.apache.spark.sql.Row)] =
      (x, y) => {
        val c = x._1.compareTo(y._1)
        if (c != 0) c
        else if (keyType == LongType) java.lang.Long.compare(x._3.getLong(0), y._3.getLong(0))
        else x._2.compareTo(y._2)
      }
    var cum = 0L
    val rows = try keyed.sorted(byKey).map { case (_, _, r) =>
      val (nt, before) = (r.getLong(2), cum)
      cum = Math.addExact(cum, nt)
      org.apache.spark.sql.Row(r.get(0), r.getString(1), nt, cum, before / budget)
    } catch { case _: ArithmeticException => return None }
    // the distributed frame's columns: runningTotal's `_cum` (a sum plus
    // an offset, nullable) and the integral division's `seq_id`
    val schema = d.schema
      .add("_cum", LongType, nullable = true)
      .add("seq_id", LongType, nullable = true)
    Some(d.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.toIndexedSeq: _*), schema))
  }

  /** [[packAssignments]] as the distributed two-pass scan — the
    * corpus-scale path and the reference its driver-solved form is
    * specced against. */
  private[graft] def packAssignmentsDistributed(docCounts: DataFrame,
                                                budget: Long): DataFrame =
    runningTotal(orderKeyed(docCounts), Seq(col("_ok"), col("doc_id")), col("_nt"))
      .withColumn("seq_id", expr(s"(_cum - _nt) div ${budget}L"))

  // q103 — CLEANED-SHARD WRITER: the physical artifact a pretraining
  // run actually ships. q52/q81 pin the LOGICAL packing; this op
  // WRITES the packed corpus as deterministic parquet shards and then
  // reports — from the files READ BACK, never from the frame it wrote —
  // per-shard sequence/doc/token mass plus a content hash over the
  // (seq_id, doc_id, md5(text)) stream in pack order. The DuckDB oracle
  // replays the LOGICAL definition, so a green row certifies that what
  // landed on disk is the packing the audit describes: a dropped row, a
  // doc in the wrong shard, or corrupted text payload all break the
  // hash.
  def writeShards(s: SparkSession, dir: String, budget: Long = 512,
                  seqsPerShard: Long = 8): DataFrame =
    writeShardsFor(Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      budget, seqsPerShard, defaultShardPath(dir))

  /** Deterministic per-corpus, PER-PROCESS output location (overwritten
    * each run — the artifact is a pure function of its inputs, so
    * rewriting is idempotent by construction and the oracle-checked hash
    * proves it). The pid suffix (r13 ADVICE) keeps two concurrent
    * processes over the same corpus dir — e.g. a bench rep and a Verify
    * run — from racing one shard store: one side's mode=overwrite delete
    * could land mid-read of the other's read-back report. Within one
    * process the path is stable, which is all q103/q104's write→read-back
    * and the day-1-immutability spec rely on. Being per-process, the
    * stores die with the process: a JVM shutdown hook removes every
    * path handed out here, with the suffixed stores built beside it. */
  def defaultShardPath(dir: String): String = {
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_shards_p" + ProcessHandle.current().pid() + "_" +
        dir.replaceAll("[^A-Za-z0-9]+", "_")).getAbsoluteFile
    handedOut.add(store)
    store.getPath
  }

  private val handedOut = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  sys.addShutdownHook(handedOut.forEach { store =>
    Option(store.getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(store.getName))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  })

  /** Core of q103 over any (doc_id, text) frame.
    *
    * Shard layout: `shard_id = seq_id div seqsPerShard` — a FIXED RANGE
    * partitioning of the sequence space, so shard membership is a pure
    * function of the pack assignment (stable under cluster layout,
    * executor count, and AQE decisions), and shard COUNT grows linearly
    * with corpus token mass — the soak's 10× axis. Rows are written
    * `partitionBy(shard_id)` with an explicit repartition on shard_id +
    * sortWithinPartitions(ok, doc_id): one writer task per shard hash
    * bucket, each shard's file(s) internally in pack order — the
    * sorted-within-shard contract a training loader relies on for
    * sequential reads. At 100 TB the only corpus-scale stages are the
    * range shuffle the packer already pays, the equi-join that brings
    * text to its assignment, and the write's one shard_id shuffle; the
    * read-back report aggregates with a per-shard sorted-collect
    * bounded by one shard (seqsPerShard × budget tokens by
    * construction — the operator's own knobs bound its heaviest task).
    *
    * The report is computed from the files read back ([[readShards]])
    * — the written files are the thing under test, not an in-memory
    * proxy. */
  def writeShardsFor(documents: DataFrame, budget: Long, seqsPerShard: Long,
                     path: String): DataFrame = {
    require(budget > 0 && seqsPerShard > 0,
      s"need budget > 0 and seqsPerShard > 0, got $budget / $seqsPerShard")
    val schema = writeShardRows(documents, budget, seqsPerShard, seqBase = 0L,
      path = path, mode = "overwrite")
    shardReport(readShards(documents.sparkSession, path, schema))
  }

  /** Read a shard store back under the schema its writer just wrote:
    * no footer inference, so the read-back launches no schema-merge job
    * (partition discovery still lists the `shard_id=N` directories). */
  private def readShards(s: SparkSession, path: String,
                         schema: StructType): DataFrame =
    s.read.schema(schema).parquet(path)

  /** Shared write path of q103/q104: pack `documents` (sequence ids
    * offset by `seqBase`), derive the shard range partition, and write
    * sorted one-file-per-shard parquet under `path` with the given
    * save mode. Returns the written schema. */
  private def writeShardRows(documents: DataFrame, budget: Long,
                             seqsPerShard: Long, seqBase: Long,
                             path: String, mode: String): StructType =
    writeShardRowsCounts(documents, tokenCounts(documents),
      budget, seqsPerShard, seqBase, path, mode)

  /** The whitespace-budget (doc_id, _nt) projection — single-sourced so
    * q104's overlapped delta assignment can never drift from the counts
    * every other writer path packs by. */
  private def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("_nt"))

  /** [[writeShardRows]] with the BUDGET COLUMN injected: `counts` is any
    * (doc_id, _nt) frame — whitespace token counts for q103/q104/q105,
    * BPE subword counts for q109. The shard layout, sort contract, and
    * write shape are byte-identical either way; only what a "token"
    * means changes, which is exactly the tokenizer-budget seam. */
  private def writeShardRowsCounts(documents: DataFrame, counts: DataFrame,
                                   budget: Long, seqsPerShard: Long,
                                   seqBase: Long, path: String,
                                   mode: String): StructType =
    writeAssignedRows(documents, packAssignments(counts, budget),
      seqsPerShard, seqBase, path, mode)

  /** The write tail of [[writeShardRowsCounts]] over an ALREADY-packed
    * assignment frame — split out so q104 can compute the delta's
    * assignments concurrently with the day-1 store write (the seqBase
    * offset attaches here, after the probe, so the assignments need no
    * knowledge of the store they will extend). */
  private def writeAssignedRows(documents: DataFrame, assigned: DataFrame,
                                seqsPerShard: Long, seqBase: Long,
                                path: String, mode: String): StructType = {
    val rows = assigned
      .withColumn("seq_id", col("seq_id") + lit(seqBase))
      .withColumn("shard_id", expr(s"seq_id div ${seqsPerShard}L"))
      .join(documents, Seq("doc_id"))
      .select(col("shard_id"), col("seq_id"), col("_ok").as("ok"),
        col("doc_id"), col("_nt").as("n_tokens"), col("text"))
    // EXPLICIT partition count on the write shuffle (r16, measured):
    // a bare repartition(col) is AQE-coalescible, and on a
    // partitionBy write AQE's advisory coalescing collapses the
    // modest-byte shuffle into ONE task — which then opens/closes every
    // shard's parquet file SEQUENTIALLY, serializing the per-file
    // constant the dynamic writer pays per partition directory
    // (OPTIMIZATION_r16.md: 4.9 s one-task vs 1.2 s at the session's
    // shuffle width for the same 28-shard write; §2.2/§6 — a write job wants
    // its file-open constants parallelized, not its partitions fewer).
    // The count is the session's configured shuffle width — the same
    // scale-adaptive value the bare form would use before coalescing
    // (cpus on the local bench, thousands on a cluster) — and hash on
    // shard_id keeps every shard's rows in exactly one task, so the
    // one-sorted-file-per-shard layout contract is unchanged
    // (spec-pinned); a RANGE partition here would re-SAMPLE the text
    // join per write, the double-evaluation §2.3 warns about.
    val width = documents.sparkSession.sessionState.conf.numShufflePartitions
    rows.repartition(width, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("ok"), col("doc_id"))
      .write.mode(mode).partitionBy("shard_id").parquet(path)
    rows.schema
  }

  // q105 — the CLEANED-shard artifact, gated END-TO-END: q103 shards
  // the RAW corpus, but the file a pretraining run actually ships is
  // the cleaned one — the composed pipeline's survivors (q62's staged
  // quality→exact-dedup→near-dedup chain, the same frames q97 audits)
  // fed through the SAME writer, reported from the files READ BACK.
  // This was the last ungated seam: the funnel and the packer were each
  // oracle-gated separately, but nothing certified their COMPOSITION
  // all the way to disk. The DuckDB oracle replays q62's staged CTE
  // chain composed with q103's packing replay, so a green row breaks if
  // ANY pipeline stage hands over the wrong survivor set OR the write
  // drops, misplaces, or corrupts a row. Scale shape: the pipeline's
  // own stages (one scan, one hash shuffle, the capped pair subgraph)
  // plus the writer's range shuffle + text join + one shard_id shuffle
  // — nothing new beyond the two composed operators.
  def writeCleanShards(s: SparkSession, dir: String, budget: Long = 512,
                       seqsPerShard: Long = 8): DataFrame =
    // LAZY survivor frame, counts from the funnel's own token arrays
    // (r15 stage-profile measurement): the funnel caches its exact-dedup
    // stage and solves the pair subgraph into a local relation at plan
    // time, so the writer's extra evaluations re-run only a cache-fed
    // anti-join (~0.3 s) — while the r15-interim eager localCheckpoint
    // of the survivor text cost ~2 s to materialize AND left lingering
    // checkpoint blocks that slowed neighboring queries. Measured: 4.9 s
    // un-pinned vs 6.1 s pinned at sf0.1. `_nt` rides from the funnel's
    // `_t` (size(tokens)), so the cleaned corpus is never re-split.
    writeCountedShards(Compose.survivorsCounted(s, dir),
      budget, seqsPerShard, defaultShardPath(dir) + "_clean")

  /** Shard-write a (doc_id, text, _nt) frame — the counted-survivor
    * entry shared by q105/q111/q113. */
  private def writeCountedShards(surv: DataFrame, budget: Long,
                                 seqsPerShard: Long, path: String): DataFrame =
    writeShardsCounts(surv.select(col("doc_id"), col("text")),
      surv.select(col("doc_id"), col("_nt")),
      budget, seqsPerShard, path)

  // q111 — the MODEL-GATED cleaned-shard artifact: q105 with stage 1
  // swapped from the heuristic stats gate to the frozen classifier's
  // margin ([[Compose.marginSurvivors]] — the CCNet-shaped pipeline a
  // curation run ships once it has a trained quality model: model gate
  // → exact dedup → near dedup → shards on disk). Same writer, same
  // oracle technique: the DuckDB replay's FIRST CTE predicate is the
  // q108 literal margin fold thresholded at the checked-in MarginTau,
  // so a green row certifies the model gate's survivor set through to
  // the physical artifact.
  def writeMarginShards(s: SparkSession, dir: String, budget: Long = 512,
                        seqsPerShard: Long = 8): DataFrame =
    // same lazy-counted shape as q105 (see writeCleanShards): the margin
    // gate sits INSIDE the funnel's cached exact-dedup stage, so it
    // evaluates once per rep no matter how many passes the writer makes
    // — and it is the native one-pass quality_margin expression (r15)
    writeCountedShards(Compose.marginSurvivorsCounted(s, dir),
      budget, seqsPerShard, defaultShardPath(dir) + "_cleanmargin")

  // q109 — the LAST composition seam, closed: q105 ships CLEANED shards
  // at whitespace budget; q106 packs the raw corpus by TOKENIZER
  // budget; the artifact a pretraining run actually ships is both at
  // once — the cleaning funnel's survivors, packed by what the MODEL
  // will consume (BPE subwords under the frozen q90 merge table), on
  // disk, reported from the files read back. One survivor frame feeds
  // both the segmentation branch and the write's text join (a single
  // plan tree, so the funnel's cached exact-dedup stage materializes
  // once and serves both); the tokenizer-budget column rides in through
  // [[writeShardRowsCounts]]'s injected-counts seam, so the shard
  // layout/sort/write contract is q103's verbatim. The DuckDB oracle
  // replays q105's staged survivor chain composed with q106's
  // train+apply chain re-aimed at the survivors — a wrong survivor from
  // ANY cleaning stage, a mis-segmented word, a wrong subword sum, or a
  // dropped/corrupted row on disk all break the per-shard content hash.
  // Scale shape: the funnel's stages + the q91-shaped
  // segment-distinct-words-once join + the writer's three exchanges —
  // nothing new beyond the two composed operators; the merge table
  // re-learns from the q90 histogram exactly as q106 does (a deployment
  // loads its frozen tokenizer artifact instead).
  def writeCleanShardsBpe(s: SparkSession, dir: String, budget: Long = 512,
                          seqsPerShard: Long = 8, iters: Int = 10): DataFrame = {
    // Plan, from stage-profile measurement (r15, r16) and the
    // size-decided near-dup stage:
    //  - the survivor frame stays LAZY (see writeCleanShards — the
    //    funnel's internal caches make re-evaluation a cache-fed
    //    anti-join, while eagerly checkpointing the text cost ~2 s and
    //    its lingering blocks taxed neighboring queries);
    //  - building it is EAGER all the same: the capped-pair probe and its
    //    driver solve (Dedup.ngramJaccardPairsCappedTokRaw) run at
    //    composition time and warm the funnel's exact-dedup cache. That
    //    work shares no data with the tokenizer training (guide §2.6 —
    //    the train is a driver loop of histogram-sized jobs that leaves
    //    the cluster idle between them), so the two run joined: training
    //    on this thread, the funnel on a worker. The merges reach the
    //    segmentation already learned; its distinct-word cache fill then
    //    hands the join-back its broadcast-vs-shuffle decision;
    //  - the BPE COUNTS frame is checkpointed instead of the text: over
    //    the packer's cap its range partitioner SAMPLES its input before
    //    shuffling it, so an expensive counts subtree evaluates twice
    //    un-pinned (measured 6.7 s vs 3.2 s for the same write over cheap
    //    counts) — pinning the narrow (doc_id, _nt) rows is ~100× fewer
    //    bytes than pinning the text.
    val (merges, surv) = Par.join2(Bpe.trainedMerges(s, dir, iters))(
      Compose.survivors(s, dir))
    val (_, counts0) = Bpe.subwordCountsTrained(surv, merges)
    val counts = Caches.register(counts0.localCheckpoint())
    writeShardsCounts(surv, counts, budget, seqsPerShard,
      defaultShardPath(dir) + "_cleanbpe")
  }

  /** [[writeShardsFor]] with an injected (doc_id, _nt) budget frame —
    * the q109 entry point over any (documents, counts) pair. */
  def writeShardsCounts(documents: DataFrame, counts: DataFrame,
                        budget: Long, seqsPerShard: Long,
                        path: String): DataFrame = {
    require(budget > 0 && seqsPerShard > 0,
      s"need budget > 0 and seqsPerShard > 0, got $budget / $seqsPerShard")
    val schema = writeShardRowsCounts(documents, counts, budget, seqsPerShard,
      seqBase = 0L, path = path, mode = "overwrite")
    shardReport(readShards(documents.sparkSession, path, schema))
  }

  // q113 — q105's STEADY STATE (the q89/q92 split applied to the
  // cleaned artifact): q105 re-cleans and rewrites per call BY
  // DECLARATION — the build-inclusive audit, and the r14 board's top
  // line at 5.43 s. A deployment builds the clean store once and
  // publishes REPORTS from it; this query is that serve path — the
  // build is a [[Store]] keyed on the `documents` file set and the
  // packing knobs, built once per process at its own store location,
  // and every later call, bench reps included, pays the read-back
  // aggregation alone. Oracle = q105's replay VERBATIM: the report is a
  // pure function of the store and the store of the corpus, so
  // steady-state serving must reproduce the build-inclusive rows
  // exactly — a divergence means the stored artifact drifted from what
  // a fresh build writes.
  def cleanShardsReport(s: SparkSession, dir: String, budget: Long = 512,
                        seqsPerShard: Long = 8): DataFrame = {
    val path = defaultShardPath(dir) + "_cleanss"
    val id = Store.identity(s"clean b$budget s$seqsPerShard",
      Tables(s, dir, "documents"))
    Store.ensure(path, id) { tmp =>
      val surv = Compose.survivorsCounted(s, dir)
      writeShardRowsCounts(surv.select(col("doc_id"), col("text")),
        surv.select(col("doc_id"), col("_nt")),
        budget, seqsPerShard, seqBase = 0L, path = tmp, mode = "overwrite")
    }
    shardReport(Tables.parquet(s, path))
  }

  // q104 — INCREMENTAL shard append: the day-2 shape of q103 (the
  // q89/q92 steady-state pattern applied to the written artifact). A
  // corpus refresh must not rewrite the shards a training run already
  // consumed: the delta packs into FRESH sequences starting at the next
  // whole-shard boundary, so new shards append and every existing shard
  // stays byte-for-byte untouched (spec-asserted) — the immutability
  // that makes checkpoint-resume and data-lineage audits possible.
  // Declared as the two-day split the incremental dedup family uses
  // (md5 buckets 0–7 = day 1 store, 8–9 = day 2 delta); the report is
  // the full-store read-back, so the oracle — which replays BOTH days'
  // logical packing with the integer shard-base offset — certifies old
  // and new shards alike.
  def appendShards(s: SparkSession, dir: String, budget: Long = 512,
                   seqsPerShard: Long = 8): DataFrame = {
    require(budget > 0 && seqsPerShard > 0,
      s"need budget > 0 and seqsPerShard > 0, got $budget / $seqsPerShard")
    val all = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val bucket = Sampling.hashBucket(col("doc_id"), 10)
    val path = defaultShardPath(dir) + "_incr"
    val day1 = all.filter(bucket < 8)
    val delta = all.filter(bucket >= 8)
    // r16, §2.6 overlap: the delta's pack assignment (its own tokenize
    // pass + the packer's range shuffle + driver fold) shares NOTHING
    // with the day-1 store write — only the seqBase OFFSET depends on
    // the store, and that attaches in writeAssignedRows after the
    // probe. Running the two concurrently back-fills the day-1 write's
    // straggler tail with the delta's jobs; rows are unchanged
    // (disjoint inputs, disjoint outputs, the identical offset applied
    // in the identical place — the oracle's two-day replay re-certifies).
    val (_, assigned) = Par.join2 {
      writeShardRows(day1, budget, seqsPerShard, seqBase = 0L,
        path = path, mode = "overwrite")
    } {
      packAssignments(tokenCounts(delta), budget)
    }
    val seqBase = (probeMaxShard(s, path) + 1L) * seqsPerShard
    val schema =
      writeAssignedRows(delta, assigned, seqsPerShard, seqBase, path, "append")
    shardReport(readShards(s, path, schema))
  }

  /** Max shard_id already in the store, from the directory names alone
    * ([[storedMaxShard]]). Fails loudly on a missing or empty store. */
  private def probeMaxShard(s: SparkSession, path: String): Long = {
    val max = storedMaxShard(s, path)
    require(max.isDefined,
      s"$path holds no shards — write the initial store with writeShardsFor " +
        "before appending")
    max.get
  }

  /** Max shard_id of the store at `path`, or None when the path is
    * missing or holds no shard. One driver-side listing through the
    * Hadoop FileSystem, no Spark job: a `shard_id=N` directory counts
    * only when it holds a data file (a name not starting with `_` or
    * `.`), as Spark's partition discovery counts it — so `_temporary`,
    * hidden and emptied shard directories never move the boundary. */
  private[graft] def storedMaxShard(s: SparkSession, path: String): Option[Long] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(path)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    def list(p: Path): Seq[FileStatus] =
      try fs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    def isData(f: FileStatus): Boolean = f.isFile && {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    list(root).collect {
      case d if d.isDirectory && ShardDir.matches(d.getPath.getName) &&
          list(d.getPath).exists(isData) =>
        d.getPath.getName.stripPrefix("shard_id=").toLong
    }.maxOption
  }

  private val ShardDir = "shard_id=\\d+".r

  /** Append a delta (doc_id, text) frame to an existing shard store.
    *
    * Scale shape — day-2 WRITE cost is DELTA-proportional: the only
    * touch of the existing store before the write is the max-shard-id
    * lookup, a driver-side listing of the partition directories
    * ([[storedMaxShard]], no Spark job, zero parquet row groups). The
    * delta then pays its own packer range shuffle + text join + one
    * shard_id shuffle, and lands in fresh shard directories
    * (`mode=append` can never collide: seqBase starts at the next
    * whole-shard boundary). The read-back report re-reads the whole
    * store because the REPORT certifies the whole store — a deployment
    * publishing per-day reports would aim [[shardReport]] at the new
    * shard range only. */
  def appendShardsFor(delta: DataFrame, budget: Long, seqsPerShard: Long,
                      path: String): DataFrame = {
    require(budget > 0 && seqsPerShard > 0,
      s"need budget > 0 and seqsPerShard > 0, got $budget / $seqsPerShard")
    val seqBase = (probeMaxShard(delta.sparkSession, path) + 1L) * seqsPerShard
    val schema = writeShardRows(delta, budget, seqsPerShard, seqBase, path, "append")
    shardReport(readShards(delta.sparkSession, path, schema))
  }

  /** The streaming twin's trigger: `batch` packed and written as the
    * store's first shards ([[writeShardsFor]]) when the store holds none,
    * else appended from the next whole-shard boundary
    * ([[appendShardsFor]]); one listing decides which. Returns the
    * store's read-back report, or None, with nothing written, when the
    * pack's own probe saw no document — so an empty batch costs that
    * probe and no emptiness job. */
  private[graft] def ingestShards(batch: DataFrame, budget: Long,
                                  seqsPerShard: Long, path: String): Option[DataFrame] = {
    require(budget > 0 && seqsPerShard > 0,
      s"need budget > 0 and seqsPerShard > 0, got $budget / $seqsPerShard")
    val s = batch.sparkSession
    val (assigned, empty) = packAssignmentsProbed(tokenCounts(batch), budget, Sized.DriverRows)
    if (empty.getOrElse(batch.isEmpty)) None
    else {
      val (seqBase, mode) = storedMaxShard(s, path) match {
        case Some(max) => ((max + 1L) * seqsPerShard, "append")
        case None      => (0L, "overwrite")
      }
      val schema = writeAssignedRows(batch, assigned, seqsPerShard, seqBase, path, mode)
      Some(shardReport(readShards(s, path, schema)))
    }
  }

  /** Per-shard audit of a written shard set: sequence/doc/token mass
    * and the pack-order content hash (elements `seq:doc:md5(text)`,
    * ordered by the pack key — seq_id is monotone in (ok, doc_id) by
    * construction, so this IS global pack order). Split out so a spec
    * can aim it at any path.
    *
    * ONE aggregation: `n_seqs` counts the distinct non-null seq_ids of
    * the per-shard list the content hash already collects, so there is
    * no `countDistinct` (whose Expand rewrite adds a second
    * aggregation and its exchanges). */
  def shardReport(shards: DataFrame): DataFrame =
    shards
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(
        collect_list(struct(col("ok"), col("doc_id"), col("seq_id"),
          md5(col("text")).as("_th"))).as("_rows"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"))
      .select(col("shard_id"),
        size(array_distinct(filter(
          transform(col("_rows"), x => x.getField("seq_id")),
          _.isNotNull))).cast("long").as("n_seqs"),
        col("n_docs"), col("shard_tokens"),
        md5(concat_ws(" ", transform(sort_array(col("_rows")),
          x => concat(x.getField("seq_id"), lit(":"), x.getField("doc_id"),
            lit(":"), x.getField("_th"))))).as("content_hash"))
      .orderBy(col("shard_id"))
}
