package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PRE-BUCKETED dedup-index storage — the 100-TB day-over-day shape of
  * the incremental classifiers (q74/q79 build and probe, q89/q92 append
  * and probe).
  *
  * The in-memory classifier ([[Dedup.classify]]) projects the corpus into
  * its index form on every run. A production deployment computes that
  * projection ONCE and stores it; each day's batch then PROBES the stored
  * index. This object is that storage layer: one bucketed table per
  * [[Modality.Stored]] entry of the modality table, each bucketed (and
  * bucket-sorted) ON ITS PROBE KEY —
  *
  *   - `{prefix}_exact` (doc_id, _h)                      bucketed by `_h`
  *   - `{prefix}_band`  (doc_id, band, key, sig)          by (band, key)
  *   - `{prefix}_emb`   (doc_id, band, key, embedding, _norm)
  *   - `{prefix}_img` / `_afp` / `_vid` (doc_id, band, key, hash)
  *
  * so every tier join reads the index side WITHOUT an exchange: the
  * bucketed scan already satisfies the join's clustering, Spark shuffles
  * only the (small) batch side into the bucket layout, and the corpus —
  * the 100-TB operand — never moves. [[graft.DedupIndexSpec]] asserts
  * exactly that on the physical plan (zero ShuffleExchange whose subtree
  * is only index scans) and that the verdicts equal [[Dedup.classify]]
  * row for row.
  *
  * The band tables DENORMALIZE the verify payload (minhash signature,
  * embedding + norm, perceptual hash) onto the banded rows, so candidate
  * generation AND rescoring are ONE probe join. Cost: `bands`× payload
  * duplication in the stored table — 4×24 B for 12 minhashes,
  * 8×(4·dim) B for vectors; at corpus scale that trade (storage for zero
  * shuffle per ingest run) is the point. Bucket counts size to
  * ~128-256 MB per bucket file in production; refresh appends the day's
  * `new` survivors with the same bucketing ([[append]]) — no rebuild.
  */
object DedupIndex {

  /** The index tables of `mods` under `prefix`, in precedence order. */
  def tables(prefix: String, mods: Seq[Modality]): Seq[String] =
    Modality.ordered(mods).flatMap(_.stored.map(prefix + _.suffix))

  /** Drop a managed index table AND any leftover warehouse location: a
    * fresh session's in-memory catalog doesn't know about a previous
    * JVM's managed-table directory, so `DROP TABLE IF EXISTS` no-ops
    * and the next CTAS fails with LOCATION_ALREADY_EXISTS. Every
    * rebuild path (the declared queries, the specs) drops through
    * here. */
  def dropTable(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Write every stored table of the corpus `sides` (overwriting) — the
    * projection a deployment pays once per corpus. The sides are pure
    * per-row projections, so the only data movement is the bucketing
    * write shuffle. */
  def save(sides: Map[Modality, DataFrame], prefix: String,
           buckets: Int = 8): Unit =
    write(sides, prefix, buckets, SaveMode.Overwrite)

  /** Day-over-day DURABLE refresh — [[Dedup.refreshed]] persisted:
    * append the `new` survivors of a classified batch to every stored
    * table of its sides. Matched docs are already represented by their
    * corpus copy; the writes use [[save]]'s bucket spec, so appended
    * files land per bucket and every later classify still probes
    * without an index-side shuffle. Cost is |new|-proportional.
    *
    * The `new` ids are MATERIALIZED before the first write, not lazy:
    * `verdicts` usually READS these same tables (it is the classify
    * output), so re-evaluating it after one append would classify a
    * just-appended doc as a match of ITSELF and silently skip its rows
    * in the other tables. One localCheckpoint pins the pre-append
    * verdicts for every write. */
  def append(batch: Map[Modality, DataFrame], verdicts: DataFrame,
             prefix: String, buckets: Int = 8): Unit = {
    val newIds = verdicts.filter(col("status") === "new").select("doc_id")
      .localCheckpoint()
    write(batch.map { case (m, side) => m -> side.join(newIds, Seq("doc_id")) },
      prefix, buckets, SaveMode.Append)
  }

  /** The one bucketed write path. The table writes are INDEPENDENT
    * (disjoint tables) — overlapped from driver threads (guide §2.6) so
    * each job's task tail back-fills with the next job's work instead of
    * idling the cluster. A side feeding several tables (Text: exact and
    * band) is persisted across them so its per-row projection runs ONCE
    * (concurrent first-fill of a persisted frame is safe — block-level
    * cache registration is synchronized, worst case one partition
    * computes twice). */
  private def write(sides: Map[Modality, DataFrame], prefix: String,
                    buckets: Int, mode: SaveMode): Unit = {
    val shared = sides.collect { case (m, side) if m.stored.size > 1 => m -> side.persist() }
    try Par.run(for {
      (m, side) <- (sides ++ shared).toSeq
      t <- m.stored
    } yield () =>
      t.rows(side).repartition(buckets, t.key.map(col): _*)
        .write.bucketBy(buckets, t.key.head, t.key.tail: _*)
        .sortBy(t.key.head, t.key.tail: _*)
        .mode(mode).saveAsTable(prefix + t.suffix))
    finally shared.values.foreach(_.unpersist(blocking = false))
  }

  /** Classify the `batch` sides against the STORED index: the verdicts of
    * [[Dedup.classify]] (the same [[Dedup.verdictTiers]] fold in the same
    * precedence), but every tier probes its bucketed table on the bucket
    * key, so the index side of every join plans with ZERO exchange. A
    * side probed by several tables (Text) is cached for the run — the
    * batch is the SMALL side; the corpus-sized tables are never cached,
    * they stream from their buckets. The streaming image/audio/video
    * classifiers are this over one perceptual side, each micro-batch
    * decoded with [[Multimodal.payloadHashes]]: zero keyed state, so
    * trigger latency scales with feed rate, not corpus size. */
  def classify(batch: Map[Modality, DataFrame], prefix: String): DataFrame = {
    val mods = Modality.ordered(batch.keys)
    val s = batch(mods.head).sparkSession
    Dedup.verdictTiers(batch(mods.head).select(col("doc_id")), mods.flatMap { m =>
      val side = if (m.stored.size > 1) Caches.track(batch(m)) else batch(m)
      m.stored.map(t => t.probe(side, s.table(prefix + t.suffix)))
    })
  }

  /** q74/q79 — the PRODUCTION deployment shape of q68/q78, oracle-gated
    * end to end: [[save]] the corpus split of `mods` (the write a real
    * deployment pays once), then [[classify]] the SAME batch split
    * against the store. Verdicts are row-identical to
    * [[Dedup.incrementalDedup]] over the same list (spec-proven), so the
    * oracle IS the in-memory query's SQL — the oracle gates the
    * stored-index code path, not just the suite. The 100-TB property
    * rides INSIDE the query: [[assertIndexNeverShuffled]] lints the
    * probe plan before the frame returns, so an oracle-green run
    * certifies both the verdicts and the zero-index-side-exchange
    * physical shape. The media sides filter ids to slot AND split
    * BEFORE decoding. */
  def incrementalDedupIndexed(s: SparkSession, dir: String, prefix: String,
                              mods: Seq[Modality], buckets: Int = 8): DataFrame = {
    val batch = Modality.splitBucket === 4
    tables(prefix, mods).foreach(dropTable(s, _))
    save(Modality.sides(s, dir, mods, !batch), prefix, buckets)
    def run() = classify(Modality.sides(s, dir, mods, batch), prefix)
    assertIndexNeverShuffledOnce(s, prefix, buckets)(run())
    run()
  }

  /** q89's dir-derived table prefix — shared with DedupIndexSpec so a
    * sanitization change can't silently desynchronize the spec's table
    * cleanup from the query's tables. */
  def q89PrefixFor(dir: String, prefixBase: String = "graft_q89"): String =
    prefixBase + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** q89/q92 — the STEADY-STATE shape q74/q79 deliberately don't
    * measure: those queries pay the index CTAS build inside the declared
    * frame (~⅔ of q79's bench cost), which at 100 TB is a once-per-corpus
    * job, not the daily op. This query gates the DAILY op alone:
    *   day 1 — classify a batch against the stored index and [[append]]
    *           its `new` survivors to every table;
    *   day 2 — classify the NEXT batch against the GROWN index,
    *           probe-only.
    * The returned frame is day 2's verdicts: a day-2 doc whose only
    * duplicate is a day-1 `new` survivor — in any modality — must
    * resolve against the APPENDED rows, so an oracle-green run certifies
    * every append landed, bucketed so the probe still plans with zero
    * index-side exchange (the lint runs in-query, as in q74).
    *
    * Build-once idempotence: the grown state is constructed only when
    * the session-scoped `_ready` marker table is absent, so within one
    * benchmark JVM the warmup rep pays the build and every timed rep
    * measures the probe alone. The marker is created LAST, after every
    * append committed, so a failed build can't leave a half-grown index
    * that later calls would trust. The prefix embeds the data dir, so
    * sessions touching several SFs (the spec suite) never probe another
    * scale's index. Splits: [[Modality.splitBucket]] 0-2 = corpus,
    * 3 = day 1, 4 = day 2. */
  def indexAppendProbe(s: SparkSession, dir: String, prefixBase: String,
                       mods: Seq[Modality], buckets: Int = 8): DataFrame = {
    val prefix = q89PrefixFor(dir, prefixBase)
    val bk = Modality.splitBucket
    val ready = s"${prefix}_ready"
    if (!s.catalog.tableExists(ready)) {
      (tables(prefix, mods) :+ ready).foreach(dropTable(s, _))
      save(Modality.sides(s, dir, mods, bk < 3), prefix, buckets)
      val day1 = Modality.sides(s, dir, mods, bk === 3)
      append(day1, classify(day1, prefix), prefix, buckets)
      s.sql(s"CREATE TABLE $ready AS SELECT 1 AS ok")
    }
    def probe() = classify(Modality.sides(s, dir, mods, bk === 4), prefix)
    assertIndexNeverShuffledOnce(s, prefix, buckets)(probe())
    probe()
  }

  /** The zero-shuffle claim as an executable lint (shared by
    * DedupIndexSpec and the declared queries): collect every
    * ShuffleExchange whose ENTIRE leaf set is index-table scans — the
    * corpus-sized operand moving when it never should. An exchange above
    * a join legitimately contains batch leaves too, so those don't
    * count. */
  def indexShuffleOffenders(plan: org.apache.spark.sql.execution.SparkPlan,
                            prefix: String): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def isIndexScan(f: FileSourceScanExec): Boolean =
      f.relation.location.rootPaths.exists(_.toString.contains(prefix))
    plan.collect {
      case e: ShuffleExchangeExec =>
        val leaves = e.collectLeaves()
        val scans = leaves.collect { case f: FileSourceScanExec => f }
        (e, leaves.size, scans)
    }.collect { case (e, nLeaves, scans)
        if nLeaves > 0 && scans.size == nLeaves && scans.forall(isIndexScan) =>
      e.toString.take(500)
    }
  }

  /** Prefixes (+ bucket counts) already lint-checked, per live session:
    * the lint is a PLAN-SHAPE assertion over (code, bucketed-table DDL),
    * both fixed for a given (session, prefix, buckets), so re-planning
    * the probe under disabled-broadcast confs on every call re-proves a
    * theorem that cannot have changed — and that planning pass alone
    * measured ~1.0 s of q79's wall (stage profile). First call per
    * (session, prefix, buckets) still runs the full lint, so any code
    * change is caught by every fresh session (each Verify/Bench/test
    * JVM). WEAK-keyed on the session object itself (r11 ADVICE): an
    * identityHashCode key could be reused by a fresh session after the
    * old one is GC'd — silently skipping its first lint — and entries
    * never evicted; weak keys make reuse impossible and let dead
    * sessions' entries go with them. The bucket count rides in the
    * value key so a same-prefix rebuild with different DDL re-lints. */
  private val lintedPrefixes =
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]()

  /** [[assertIndexNeverShuffled]] memoized per (session, prefix,
    * buckets) — the form the DECLARED queries use. Specs exercising the
    * lint itself call the un-memoized variant. */
  def assertIndexNeverShuffledOnce(s: SparkSession, prefix: String,
                                   buckets: Int = 8)
                                  (mkFrame: => DataFrame): Unit = {
    val seen = lintedPrefixes.synchronized {
      var set = lintedPrefixes.get(s)
      if (set == null) {
        set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        lintedPrefixes.put(s, set)
      }
      set
    }
    val key = prefix + ":" + buckets
    if (!seen.contains(key)) {
      assertIndexNeverShuffled(s, prefix)(mkFrame)
      seen.add(key)
    }
  }

  /** Build `mkFrame`'s physical plan under broadcast-disabled,
    * non-adaptive confs (broadcasting the batch side would trivially
    * satisfy the lint; AQE hides exchanges until runtime) and require
    * zero index-side shuffles. Plan-only — nothing executes. Confs are
    * restored before returning. */
  def assertIndexNeverShuffled(s: SparkSession, prefix: String)
                              (mkFrame: => DataFrame): Unit = {
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (c, _) => c -> s.conf.getOption(c) }
    confs.foreach { case (c, v) => s.conf.set(c, v) }
    try {
      val offending = indexShuffleOffenders(
        mkFrame.queryExecution.executedPlan, prefix)
      require(offending.isEmpty,
        s"the stored index is shuffled before ${offending.size} join(s):\n" +
          offending.mkString("\n---\n"))
    } finally prev.foreach {
      case (c, Some(v)) => s.conf.set(c, v)
      case (c, None)    => s.conf.unset(c)
    }
  }
}
