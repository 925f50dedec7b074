package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.plans.FloatVectorExprs
import graft.sources.{Store, Tables}

/** Similarity search over the `embeddings` table (`array<float>` vectors)
  * — approximate-nearest-neighbor for training-data curation
  * (near-dup detection in embedding space, retrieval eval).
  *
  * One pipeline: the top-k queries differ only in where a query's
  * candidates come from. Each takes the vectors `vec_id < nQueries` as
  * its queries, scores their candidates with the 4dp cosine, and ends
  * in the one ranking tail ([[topK]]):
  *  - `bruteForceTopK` (q29): every vector, the query side broadcast.
  *    Exact; the correctness baseline and the recall reference.
  *  - `lshTopK` (q31): vectors sharing a hyperplane-sketch band with the
  *    query — [[Modality.Stored.queryPairs]] of a 16-bit
  *    [[Modality.Embedding]] entry, the banding and score q43 uses.
  *  - `ivfTopK` (q38) and the stored q107/q110: vectors in the query's
  *    `nProbe` nearest cells ([[probes]]) under the one cell assignment
  *    ([[ivfStoreRows]]), in memory or from the cell-partitioned store.
  */
object Similarity {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  // q29 — exact brute-force cosine top-5 for query vectors vec_id < 10.
  // cross join against a broadcast query side; ranks on cosine rounded to
  // 4dp (absorbs summation-order noise) with vec_id tiebreak so the
  // oracle ranks identically.
  def bruteForceTopK(s: SparkSession, dir: String,
                     k: Int = 5, nQueries: Int = 10): DataFrame =
    bruteForceTopKFor(s, emb(s, dir).select(col("vec_id"), col("embedding")),
      k, nQueries)

  /** [[bruteForceTopK]] over a caller (vec_id, embedding float array)
    * frame — the SoakScale recall gate's ground-truth side at 1× and
    * 10× corpus. Queries are `vec_id < nQueries`, same as the dir
    * entry. */
  def bruteForceTopKFor(s: SparkSession, e0: DataFrame,
                        k: Int = 5, nQueries: Int = 10): DataFrame = {
    graft.GraftExtensions.install(s)
    val e = e0.withColumn("norm", norm)
    topK(rescore(e.crossJoin(broadcast(queries(e, nQueries)))), k)
  }

  /** sqrt(dot(v, v)) of the `embedding` column: computed once per vector,
    * not per pair — the same input gives the same double, so the cosine
    * stays bit-identical to the per-pair formulation (and to the oracle)
    * while rescoring does one dot per pair instead of three. */
  private def norm: Column = sqrt(dotNative(col("embedding"), col("embedding")))

  /** The query side of the brute-force and IVF top-k: `vec_id <
    * nQueries` of a (vec_id, embedding) frame as (query_id, qv, _qnorm).
    * (q31's queries are the same rows of its banded side.) */
  private def queries(e: DataFrame, nQueries: Int): DataFrame =
    e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), norm.as("_qnorm"))

  /** (query_id, vec_id, cosine) of candidate rows carrying both sides —
    * corpus (vec_id, embedding, norm), query (query_id, qv, _qnorm) —
    * a query never its own candidate; cosine at 4dp absorbs
    * summation-order noise. */
  private def rescore(cand: DataFrame): DataFrame =
    cand.filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dotNative(col("embedding"), col("qv")) /
          (col("norm") * col("_qnorm")), 4).as("cosine"))

  /** THE top-k tail: (query_id, vec_id, cosine) rows ranked by cosine
    * desc with a vec_id tiebreak, so the oracle ranks identically; the
    * first `k` per query, ordered. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hyperplane coefficient plane_j[d] ∈ [-1,1), derived from md5 of
    * (seed, plane, dim) — deterministic, data-independent, no RNG state.
    * Public so the DuckDB oracle can embed the SAME family as literals
    * (the q27-minhash technique applied to real-valued planes). */
  def planeCoef(seed: Int, j: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$j:$d".getBytes("UTF-8"))
    val v = java.nio.ByteBuffer.wrap(h).getLong(0)
    v.toDouble / Long.MaxValue.toDouble
  }

  /** Random-hyperplane sketch: `bits` sign bits from fixed pseudo-random
    * hyperplanes (deterministic seeded doubles via md5 of (plane, dim) —
    * no RNG state, reproducible on any cluster). Returns (vec_id, sketch)
    * where sketch packs the sign bits of ⟨v, plane_j⟩ into a long.
    * Computed by the native codegen'd `hyperplane_sketch` expression
    * (graft.plans.HyperplaneSketch) — bit-identical to the interpreted
    * HOF formulation kept in [[hyperplaneSketchHof]] (parity spec). */
  def hyperplaneSketch(df: DataFrame, vecCol: String, bits: Int, dim: Int,
                       seed: Int = 42): DataFrame = {
    graft.GraftExtensions.install(df.sparkSession)
    df.withColumn("sketch",
      call_function("hyperplane_sketch", col(vecCol),
        lit(bits), lit(dim), lit(seed)))
  }

  /** The original higher-order-function sketch (planes as a nested array
    * literal; interpreted) — retained as the readable reference
    * implementation and the spec baseline proving the native expression
    * is bit-identical. */
  def hyperplaneSketchHof(df: DataFrame, vecCol: String, bits: Int, dim: Int,
                          seed: Int = 42): DataFrame = {
    def coef(j: Int, d: Int): Double = planeCoef(seed, j, d)
    val planes = (0 until bits).map { j =>
      (0 until dim).map(d => s"${coef(j, d)}D").mkString("array(", ",", ")")
    }.mkString("array(", ",", ")")
    val sketch = expr(s"""
      aggregate(
        zip_with($planes, sequence(0, ${bits - 1}), (p, j) ->
          CASE WHEN aggregate(zip_with(p, $vecCol, (c, x) -> c * cast(x AS double)),
                              0D, (acc, v) -> acc + v) > 0D
               THEN shiftleft(1L, cast(j AS int)) ELSE 0L END),
        0L, (acc, b) -> acc | b)""")
    df.withColumn("sketch", sketch)
  }

  // LSH-bucketed ANN: band the sketch, join queries and corpus on
  // (band, key), exact-rescore candidates, top-k per query. Same output
  // schema as bruteForceTopK; recall < 1 by construction (rows-only /
  // spec-tested against the brute-force baseline).
  // Defaults tuned on the testdata: 8 bands × 2 bits → recall 1.0 vs the
  // brute-force baseline at sf0.01 (4 bands × 4 bits drops to 0.38 — the
  // synthetic embeddings have weak cluster structure, so banding must be
  // permissive). On a real 100-TB corpus with stronger structure, raise
  // bits-per-band to shrink candidate sets; for genuinely unstructured
  // vectors the right scale path is an IVF coarse quantizer instead.
  def lshTopK(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10,
              bits: Int = 16, bands: Int = 8, dim: Int = 64): DataFrame =
    lshTopKFor(s, emb(s, dir).select(col("vec_id"), col("embedding")),
      k, nQueries, bits, bands, dim)

  /** [[lshTopK]] over a caller (vec_id, embedding) frame — the recall
    * gate measures THIS path against [[bruteForceTopKFor]] on the same
    * frame at 1× and 10×, so banding-parameter drift that silently
    * loses neighbors fails a soak instead of shipping. */
  def lshTopKFor(s: SparkSession, e0: DataFrame, k: Int = 5,
                 nQueries: Int = 10, bits: Int = 16, bands: Int = 8,
                 dim: Int = 64): DataFrame = {
    val entry = Modality.Embedding(bits, dim, bands)
    // cached: the sketched side feeds BOTH sides of the bucket join —
    // without this the sketch and norms compute twice; released via
    // Caches.release()
    val side = Caches.track(entry.project(e0.select(col("vec_id").as("doc_id"), col("embedding"))))
    topK(entry.band.queryPairs(side.filter(col("doc_id") < nQueries), side,
      "query_id", "vec_id"), k)
  }

  /** In-JVM quantizer memo: bench reps and composed queries in one
    * process never reload the same quantizer artifact. */
  private val quantizers =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.ml.clustering.KMeansModel]

  /** Fit-once IVF coarse quantizer. At 100 TB the quantizer is an
    * ARTIFACT — fit on a bounded sample once, saved, and reused by every
    * probe query — not a per-query step. Fitting is deterministic
    * (seed 42, 20k sample cap), so a loaded model and a refit model
    * assign identical cells. Persisted under
    * `$SPARK_GRAFT_QUANTIZER_DIR` (default /tmp/graft_quantizers) as a
    * [[Store]] whose identity is nCells plus the corpus' file set: a
    * regenerated or edited corpus at the same path is refit, and so is a
    * directory a killed save left without its marker. */
  def ivfQuantizer(s: SparkSession, dir: String, nCells: Int)
      : org.apache.spark.ml.clustering.KMeansModel = {
    val id = Store.identity(s"c$nCells", emb(s, dir))
    Option(quantizers.get(id)).getOrElse {
      val path = quantizerPath(dir, nCells)
      Store.ensure(path, id) { tmp =>
        import org.apache.spark.ml.functions.array_to_vector
        // quantizer fits on a bounded sample (standard IVF practice —
        // the coarse centroids don't need the full corpus; at 100 TB
        // this is the difference between a minute and a day of
        // training). Small corpora fit on everything — subsampling them
        // just starves the centroids.
        val e = Caches.track(emb(s, dir).select(col("embedding"))
          .withColumn("features", array_to_vector(col("embedding"))))
        val corpusSize = e.count()
        require(corpusSize > 0, s"ivfQuantizer: no embeddings found under $dir")
        val sampleCap = 20000L
        val sample = if (corpusSize <= sampleCap) e
                     else e.sample(withReplacement = false,
                       sampleCap.toDouble / corpusSize, 42L)
        new org.apache.spark.ml.clustering.KMeans()
          .setK(nCells).setSeed(42L).setFeaturesCol("features")
          .fit(sample).write.save(tmp)
      }
      val model = org.apache.spark.ml.clustering.KMeansModel.load(path)
      quantizers.put(id, model)
      model
    }
  }

  private[graft] def quantizerPath(dir: String, nCells: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_QUANTIZER_DIR", "/tmp/graft_quantizers") +
      "/ivf_" + dir.replaceAll("[^A-Za-z0-9]+", "_") + s"_c$nCells"

  /** Spec/maintenance surface: drop the in-JVM quantizer memo. */
  def clearQuantizerMemo(): Unit = quantizers.clear()

  // IVF ANN — the scale path for weakly-structured vectors: a coarse
  // quantizer partitions the corpus into nCells inverted lists; each
  // query probes its nProbe nearest cells and exact-rescoring runs only
  // inside them. At 100 TB the corpus is written partitioned by cell id,
  // so a probe reads nProbe/nCells of the data (partition pruning), and
  // the candidate join shuffles on the cell key only.
  //
  // The quantizer is the checked-in [[IvfCentroids]] ARTIFACT (KMeans
  // seed 42 fit via [[ivfQuantizer]]; graft.tools.FitIvfCentroids
  // regenerates it) — centroids are a versioned partition function, not
  // a query step. Cell assignment is a PURE EXPRESSION over the literal
  // centroids: argmax_j of dot(v,c_j) − ½‖c_j‖² (equivalent to nearest-
  // by-L2 since ‖v‖² is constant per row), evaluated with the codegen'd
  // float_dot. The DuckDB oracle embeds the identical literals, so both
  // engines make bit-identical cell, probe, and ranking decisions — the
  // recall<1 of probing nProbe/nCells lists is operator semantics, not
  // oracle slack (the q43 banding argument).
  def ivfTopK(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10,
              nProbe: Int = DefaultNProbe): DataFrame =
    ivfTopKFor(s, emb(s, dir).select(col("vec_id"), col("embedding")),
      k, nQueries, nProbe)

  /** Default probe width, chosen from the MEASURED recall/cost curve
    * (graft.tools.RecallCurve at sf0.1, r13) rather than assumed:
    *
    * {{{
    * nProbe  frac_read  recall@1x  recall@10x
    *      1      0.063      0.220       0.900
    *      2      0.125      0.340       0.900
    *      4      0.250      0.580       1.000
    *      8      0.500      0.760       1.000
    *     12      0.750      0.900       1.000
    *     16      1.000      1.000       1.000
    * }}}
    *
    * 12-of-16 is the smallest width with @1× recall ≥ 0.9 on this
    * corpus — its synthetic embeddings are weakly clustered, so true
    * neighbors spread across many cells and recall grows ~linearly in
    * probed fraction. The 0.75 read fraction is a property of the
    * 16-cell artifact at THIS corpus size, not of the operator: a
    * production store sizes nCells ~ √N, where the same recall target
    * needs a roughly constant nProbe and the probed FRACTION shrinks
    * toward zero as the corpus grows. Deployments with a different
    * recall/cost point calibrate with [[probeForRecall]]. */
  val DefaultNProbe = 12

  /** [[ivfTopK]] over a caller (vec_id, embedding) frame — same literal
    * [[IvfCentroids]] partition function (a 100-TB deployment reuses
    * its fitted quantizer across corpus growth exactly like this; the
    * recall gate measures how the FIXED centroids hold up at 10×). */
  def ivfTopKFor(s: SparkSession, e0: DataFrame, k: Int = 5,
                 nQueries: Int = 10, nProbe: Int = DefaultNProbe): DataFrame = {
    val assigned = Caches.track(ivfStoreRows(e0))
    inProbedCells(assigned, probes(queries(assigned, nQueries), nProbe), k)
  }

  /** Probe selection: (query_id, qv, _qnorm, cell) for each query's
    * `nProbe` nearest cells — cosine of the query against each literal
    * centroid (posexplode of an nCells array — no centroid table, no
    * join), cell tiebreak. */
  private def probes(q: DataFrame, nProbe: Int): DataFrame = {
    val cents = IvfCentroids.cells
    val cnorm = cents.map(c => math.sqrt(IvfCentroids.sqNorm(c)))
    val sims = array(cents.indices.map(j =>
      dotNative(col("qv"), typedlit(cents(j).toSeq)) /
        (col("_qnorm") * lit(cnorm(j)))): _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("_sim"), col("cell"))
    q
      .select(col("query_id"), col("qv"), col("_qnorm"),
        posexplode(sims).as(Seq("_c0", "_sim")))
      .withColumn("cell", (col("_c0") + 1).cast("long"))
      .withColumn("_pr", row_number().over(w))
      .filter(col("_pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("_qnorm"), col("cell"))
  }

  /** The top-k of each probe's query among the (cell, vec_id, embedding,
    * norm) rows of its probed cells: the cell-keyed candidate join. */
  private def inProbedCells(cells: DataFrame, probes: DataFrame, k: Int): DataFrame =
    topK(rescore(cells.join(probes, Seq("cell"))), k)

  /** Deterministic CROSS-PROCESS location of the persisted IVF store
    * (r14 VERDICT #2 — the r13/r14 shape was pid-suffixed tmp, which
    * amortized the build within one JVM only): the path is keyed on the
    * quantizer artifact's content version ([[IvfCentroids.version]]) and
    * the corpus directory, so every process over the same corpus shares
    * one store and a regenerated centroid fit lands at a DIFFERENT path.
    * Whether the directory there may be reused is [[Store]]'s decision
    * ([[ensureIvfStore]]). `suffix` separates store LIFECYCLES (q107's
    * whole-corpus build vs q110's day-1 + ingest). */
  def ivfStorePath(dir: String, suffix: String = ""): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ivf_" + IvfCentroids.version + "_" +
        dir.replaceAll("[^A-Za-z0-9]+", "_") + suffix).getAbsolutePath

  /** The IVF store's [[Store]] identity: the centroid version plus the
    * corpus' file set, so a corpus rewritten at the same path is another
    * store. */
  private def ivfStoreId(s: SparkSession, dir: String): String =
    Store.identity(IvfCentroids.version, emb(s, dir))

  /** Ensure a valid store for `dir` exists at `path`, building from
    * `mkCorpus` only when no valid store is present ([[Store.ensure]]):
    * once per process, a valid store another process published is
    * adopted as-is (day 2 in a new JVM pays a marker read, not a
    * rebuild), and an invalid directory is removed and rebuilt. */
  def ensureIvfStore(s: SparkSession, dir: String, path: String)
                    (mkCorpus: => DataFrame): Unit =
    Store.ensure(path, ivfStoreId(s, dir))(writeIvfStore(mkCorpus, _))

  /** Write the IVF store: every vector cell-assigned by the literal
    * [[IvfCentroids]] partition function and written
    * `partitionBy(cell)` — 16 directories whose NAMES carry the cell
    * id, so a probe's cell predicate prunes at the file listing, before
    * any parquet row group is touched. The norm is precomputed into the
    * store (one multiply-add pass at write time buys every future probe
    * its rescore denominator). At 100 TB this is the vector-store
    * layout SCALE.md's scans section describes: nCells ~ √N directories,
    * each internally splittable parquet. */
  def writeIvfStore(e0: DataFrame, path: String): Unit =
    // explicit partition count (r16): a bare repartition(col) is
    // AQE-coalescible, and on a partitionBy write the coalesce
    // serializes the per-cell file-open constants into one task —
    // the measured 3-4× writer slowdown Packing.writeAssignedRows
    // documents. The session's shuffle width is the same
    // scale-adaptive value the bare form targets before coalescing.
    ivfStoreRows(e0)
      .repartition(e0.sparkSession.sessionState.conf.numShufflePartitions,
        col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** THE cell assignment — by the literal quantizer, plus the
    * precomputed norm — shared by q38's in-query pass, the initial store
    * build and the incremental ingest, so no two paths can assign a
    * vector differently. Nearest-centroid scores as one array; cell =
    * 1-based first argmax (array_position and DuckDB's list_position
    * agree on both counts). */
  private def ivfStoreRows(e0: DataFrame): DataFrame = {
    graft.GraftExtensions.install(e0.sparkSession)
    val cents = IvfCentroids.cells
    val halfSq = cents.map(c => 0.5 * IvfCentroids.sqNorm(c))
    val scores = array(cents.indices.map(j =>
      dotNative(col("embedding"), typedlit(cents(j).toSeq)) - lit(halfSq(j))): _*)
    e0.withColumn("_scores", scores)
      .withColumn("cell", expr("array_position(_scores, array_max(_scores))"))
      .withColumn("norm", norm)
      .select(col("cell"), col("vec_id"), col("embedding"), col("norm"))
  }

  /** Incrementally ingest a (vec_id, embedding) delta into an existing
    * valid store — the q104 append pattern applied to vectors: each
    * delta vector cell-assigns through the SAME literal quantizer
    * ([[ivfStoreRows]]) and lands as NEW files inside its cell
    * partition directories (`mode=append` under `partitionBy(cell)`
    * never rewrites existing files — day-1 immutability is spec'd
    * byte-for-byte), so ingest cost is delta-proportional and a probe
    * of the grown store stays one partition-pruned scan. Idempotent
    * under re-runs via a per-batch marker in the store (the
    * ShardAppend pattern): a crash-and-retry of the same `batchKey`
    * skips the append instead of duplicating vectors; the marker
    * commits atomically ([[Store.mark]]) AFTER the rows land. */
  def ingestVectors(delta: DataFrame, dir: String, path: String,
                    batchKey: String): Unit = {
    require(Store.holds(path, ivfStoreId(delta.sparkSession, dir)),
      s"cannot ingest into $path: no valid store for $dir there — " +
        "build it with ensureIvfStore first")
    val marker = s"_graft_ingest_$batchKey"
    if (Store.marked(path, marker).isEmpty) {
      ivfStoreRows(delta)
        .repartition( // explicit width — see writeIvfStore's note
          delta.sparkSession.sessionState.conf.numShufflePartitions,
          col("cell"))
        .write.mode("append").partitionBy("cell").parquet(path)
      Store.mark(path, marker, "done")
    }
  }

  /** q107 — the persisted-index STEADY STATE of q38: q38 re-assigns
    * every vector to its cell in-query (the right shape for a one-shot
    * audit); a production ANN service assigns once at ingest, writes the
    * store partitioned by cell, and every query after that touches only
    * its probed cells. This query IS that deployment shape, driver-gated:
    * build the store once per process ([[writeIvfStore]]), then answer
    * from the STORED files with the probe's cell set pushed down as a
    * PARTITION filter — [[assertIvfProbePruned]] lints, in-query, that
    * the store scan carries a partition predicate on `cell` (the q74
    * in-query-lint technique), so an oracle-green q107 certifies both
    * the verdicts (identical to q38's — same literal centroids, same
    * probe selection, same rescore) and the pruned physical shape.
    * Scale: the probe reads nProbe/nCells of the store by construction;
    * the query side is a pushed `vec_id < nQueries` scan of the raw
    * table; the candidate join shuffles only the probed slice. */
  def ivfIndexedTopK(s: SparkSession, dir: String, k: Int = 5,
                     nQueries: Int = 10,
                     nProbe: Int = DefaultNProbe): DataFrame = {
    val path = ivfStorePath(dir)
    ensureIvfStore(s, dir, path)(
      emb(s, dir).select(col("vec_id"), col("embedding")))
    // the lint returns the frame it linted (r14 ADVICE): constructing the
    // probe twice doubled the bounded probed-cell driver collect and its
    // tracked cache on the first call per path
    assertIvfProbePruned(s, path)(ivfProbeStore(s, path,
      emb(s, dir).select(col("vec_id"), col("embedding")), k, nQueries, nProbe))
  }

  /** q110 — INCREMENTAL vector ingest, end-to-end (r14 VERDICT #2's
    * second half): the deployment day-2 shape of q107. Day 1 (md5
    * buckets 0–7 of vec_id, the q104 split convention) builds the
    * versioned store; day 2 (buckets 8–9) ingests as an APPEND into the
    * existing cell partitions ([[ingestVectors]] — delta-proportional,
    * day-1 files byte-untouched, marker-idempotent); the probe then
    * answers from the GROWN store with the same literal-cell pushdown,
    * linted pruned. The store after ingest holds exactly the full
    * corpus with identical cell assignments (the quantizer is a pure
    * function), so the oracle is q38's SQL VERBATIM — a green row
    * certifies that growing the store by append is invisible to every
    * verdict, which is the property that makes incremental ingest safe
    * to ship. Steady state across processes: a fresh JVM re-validates
    * the store's marker, sees the ingest marker, and pays probe cost
    * only. */
  def ivfIngestTopK(s: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = 10,
                    nProbe: Int = DefaultNProbe): DataFrame = {
    val path = ivfStorePath(dir, "_incr")
    val all = emb(s, dir).select(col("vec_id"), col("embedding"))
    val bucket = Sampling.hashBucket(col("vec_id"), 10)
    ensureIvfStore(s, dir, path)(all.filter(bucket < 8))
    ingestVectors(all.filter(bucket >= 8), dir, path, "day2")
    assertIvfProbePruned(s, path)(
      ivfProbeStore(s, path, all, k, nQueries, nProbe))
  }

  /** The probe-only query against a written IVF store: probe cells are
    * [[ivfTopKFor]]'s ([[probes]]), their union collected — a
    * ≤ nQueries×nProbe-row driver fetch, the bounded-collect shape the
    * indexed-dedup family established — and pushed at the store as a
    * LITERAL `cell IN (…)` partition predicate.
    * The per-query cell join then restricts each query to its own
    * probed cells, so results are row-identical to q38's. */
  def ivfProbeStore(s: SparkSession, path: String, queries0: DataFrame,
                    k: Int, nQueries: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.install(s)
    val probed = Caches.track(probes(queries(queries0, nQueries), nProbe))
    val probedCells = probed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val store = Tables.parquet(s, path)
      .select(col("cell").cast("long").as("cell"), col("vec_id"),
        col("embedding"), col("norm"))
      .filter(col("cell").isin(probedCells.map(Long.box): _*))
    inProbedCells(store, probed, k)
  }

  /** Store scans of `prefix` that DON'T carry a partition filter on
    * `cell` — the pruning claim as an executable lint (the q74
    * technique: collect the offenders, not a boolean, so the failure
    * message shows the unpruned scan). */
  def ivfUnprunedStoreScans(plan: org.apache.spark.sql.execution.SparkPlan,
                            prefix: String): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    plan.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(prefix)) &&
            !f.partitionFilters.exists(_.references.exists(_.name == "cell")) =>
        f.toString.take(400)
    }
  }

  /** Require every scan of the store under `mkFrame`'s plan to carry a
    * `cell` partition filter; memoized per (session, path) ([[Lints]]).
    * Returns the frame it linted (r14 ADVICE: the caller would
    * otherwise construct the probe a second time, re-running the bounded
    * probed-cells driver collect and registering a second tracked
    * cache), so the frame is built exactly once per call whether or not
    * the lint runs.
    * On the lint pass the frame is CONSTRUCTED and planned under
    * non-adaptive conf (the DedupIndex lint's reason: AQE wraps the
    * physical plan in an AdaptiveSparkPlanExec whose children are
    * hidden from `collect`, which would make the lint vacuously green)
    * — its memoized QueryExecution then executes that same non-adaptive
    * plan, which is exactly the shape the lint certified; confs are
    * restored before returning. Already-linted paths get the normally
    * (AQE-) planned frame untouched. */
  def assertIvfProbePruned(s: SparkSession, path: String)
                          (mkFrame: => DataFrame): DataFrame =
    Lints.once(s, "ivf:" + path)({
      val conf = "spark.sql.adaptive.enabled"
      val prev = s.conf.getOption(conf)
      s.conf.set(conf, "false")
      try {
        val f = mkFrame
        val plan = f.queryExecution.executedPlan
        val scanned = plan.collect {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec
              if sc.relation.location.rootPaths
                .exists(_.toString.contains(path)) => sc
        }
        require(scanned.nonEmpty,
          s"lint is vacuous: no scan of $path found in the probe plan")
        val offending = ivfUnprunedStoreScans(plan, path)
        require(offending.isEmpty,
          s"IVF store scanned WITHOUT cell partition pruning " +
            s"(${offending.size} scan(s)):\n" + offending.mkString("\n---\n"))
        f
      } finally prev match {
        case Some(v) => s.conf.set(conf, v)
        case None    => s.conf.unset(conf)
      }
    })(mkFrame)

  /** CALIBRATE nProbe for a recall target by MEASUREMENT (the q98
    * pattern applied to IVF): compute the brute-force top-k for the
    * query sample once, measure set recall at each candidate width, and
    * return the smallest width meeting `targetRecall` (falling back to
    * the largest candidate — i.e. exhaustive probing — when none does)
    * plus the full measured curve for the caller's records.
    *
    * Cost model: one brute-force pass over the corpus for the query
    * SAMPLE (nQueries × corpus dot products — the broadcast-query scan
    * [[bruteForceTopKFor]] already bounds) plus one probe run per
    * candidate. Run once per quantizer version, like the centroid fit
    * itself — never per query. Deterministic end to end (literal
    * centroids, no RNG), so the chosen width is stable. */
  def probeForRecall(s: SparkSession, e0: DataFrame, targetRecall: Double,
                     k: Int = 5, nQueries: Int = 10,
                     candidates: Seq[Int] = Seq(1, 2, 4, 6, 8, 12, 16))
      : (Int, Seq[(Int, Double)]) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"need 0 < targetRecall <= 1, got $targetRecall")
    require(candidates.nonEmpty, "need at least one candidate width")
    val recall = recallAgainst(bruteForceTopKFor(s, e0, k, nQueries))
    val curve = candidates.distinct.sorted.map { p =>
      p -> recall(ivfTopKFor(s, e0, k, nQueries, p))
    }
    val chosen = curve.collectFirst {
      case (p, r) if r >= targetRecall => p
    }.getOrElse(curve.last._1)
    (chosen, curve)
  }

  /** Top-k SET RECALL against `truth`: the share of its (query_id,
    * vec_id) pairs a top-k frame also returns. `truth` is collected once
    * (k × nQueries rows), so one reference serves every frame measured
    * against it. The one measure of [[probeForRecall]] and of the recall
    * tools (graft.tools.RecallCurve, the SoakScale recall gate). */
  private[graft] def recallAgainst(truth: DataFrame): DataFrame => Double = {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t = pairs(truth)
    val denom = math.max(t.size, 1)
    got => pairs(got).intersect(t).size.toDouble / denom
  }

  /** q60 — int8 quantization audit: symmetric per-vector scaling
    * (scale = max|x| / 127), the compression step a 100-TB vector store
    * runs before serving (4× smaller than float32, dot products stay in
    * integer domain). Reports per vector the scale, the worst
    * dequantization error (bounded by scale/2) and the cosine between
    * the original and dequantized vector — the fidelity numbers that
    * decide whether int8 is safe for a corpus.
    *
    * All per-row HOF arithmetic, shuffle-free. Rounding to the integer
    * grid is `floor(v/scale + 0.5)` — NOT `round()` — deliberately:
    * both engines evaluate that formula bit-identically, while
    * `round()`'s tie handling is engine-defined. Ties quantize one step
    * differently than sklearn would, which is irrelevant to fidelity
    * and keeps the oracle exact. */
  def quantizationAudit(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("_x", expr("transform(embedding, v -> cast(v as double))"))
      .withColumn("scale", expr(
        "greatest(array_max(transform(_x, v -> abs(v))) / 127.0, 1e-30d)"))
      .withColumn("_dq", expr(
        "transform(_x, v -> floor(v / scale + 0.5d) * scale)"))
      .select(col("vec_id"),
        size(col("_x")).cast("long").as("n_dims"),
        col("scale"),
        round(expr(
          "array_max(zip_with(_x, _dq, (a, b) -> abs(a - b)))"), 6)
          .as("max_abs_err"),
        round(
          expr("aggregate(zip_with(_x, _dq, (a, b) -> a * b), 0d, (acc, v) -> acc + v)") /
            // greatest(…, 1e-30): an all-zero embedding would make this
            // 0/0 — NaN in Spark, engine-defined in DuckDB; the guard
            // (mirrored in the q60 oracle) pins 0.0 in both
            greatest(
              sqrt(expr("aggregate(_x, 0d, (acc, v) -> acc + v * v)")) *
                sqrt(expr("aggregate(_dq, 0d, (acc, v) -> acc + v * v)")),
              lit(1e-30)), 6)
          .as("cos_sim"))
      .orderBy(col("vec_id"))

  /** q66 — per-label centroid + cohesion audit: the embedding-space
    * diversity report a curation pipeline runs per domain/cluster —
    * "how tight is each label's cluster, and which labels have stray
    * members?" (mean/min cosine of members to their label centroid).
    *
    * Scale shape: the centroid is a DISTRIBUTED vector mean —
    * posexplode to (label, pos, v) with map-side partial aggregation,
    * so the shuffle carries only |labels|×dim partial sums, never
    * vectors; the per-row cosine is a map-side fold against the
    * broadcast |labels|-row centroid table. No vector ever shuffles.
    *
    * Determinism contract: centroid components round to 6dp (avg is
    * sum-order-noisy across engines) and the per-row cosine is then
    * left-folded in array order from those ROUNDED centroids. The fold
    * itself is bit-identical across engines, but a true mean landing
    * within ~1e-16 of a 0.5e-6 rounding boundary can still flip a
    * centroid component between engines — so BOTH shipped aggregates
    * (`mean_cos` and `min_cos`) round to 6dp, confining a boundary flip
    * to a sub-rounding perturbation instead of failing the query hash. */
  def centroidAudit(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cen = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("c"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("_cen"))
    val dot = expr(
      "aggregate(zip_with(embedding, _cen, (x, y) -> cast(x as double) * y), 0d, (a, b) -> a + b)")
    val normE = sqrt(expr(
      "aggregate(embedding, 0d, (a, x) -> a + cast(x as double) * cast(x as double))"))
    val normC = sqrt(expr(
      "aggregate(_cen, 0d, (a, y) -> a + y * y)"))
    e.join(broadcast(cen), Seq("label"))
      .withColumn("_cos", dot / greatest(normE * normC, lit(1e-30)))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("_cos")), 6).as("mean_cos"),
        round(min(col("_cos")), 6).as("min_cos"))
      .orderBy(col("label"))
  }

  /** q67 — cross-modal consistency audit: every LEXICAL near-dup pair
    * (q26's capped shingle pipeline, reused verbatim) scored again in
    * EMBEDDING space. The curation diagnostic that catches the two
    * failure modes of single-modality dedup: text near-dups with low
    * embedding cosine (template pages with swapped content — lexical
    * false positives) and the gap's inverse when run the other way
    * round. Per-pair output keeps both raw scores so the threshold
    * stays a downstream decision.
    *
    * Scale shape: the pair set is the banded q26 candidate output
    * (corpus-sublinear), and the two embedding joins are id-keyed
    * lookups against it — the embedding table is never self-joined and
    * no vector shuffles except the |pairs| lookups. Cosines are raw
    * left-folds in array order — bit-identical across engines (no
    * rounding needed; same contract q66's min_cos proved). */
  def crossModalAudit(s: SparkSession, dir: String,
                      threshold: Double = 0.5,
                      maxDocFreq: Long = 100): DataFrame = {
    val pairs = graft.operators.Dedup
      .ngramJaccardPairsCappedRaw(s, dir, threshold, maxDocFreq)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val dot = expr(
      "aggregate(zip_with(ea, eb, (x, y) -> cast(x as double) * cast(y as double)), 0d, (a, b) -> a + b)")
    def norm(c: String) = sqrt(expr(
      s"aggregate($c, 0d, (a, x) -> a + cast(x as double) * cast(x as double))"))
    pairs
      .join(e.select(col("vec_id").as("doc_a"), col("embedding").as("ea")), Seq("doc_a"))
      .join(e.select(col("vec_id").as("doc_b"), col("embedding").as("eb")), Seq("doc_b"))
      .withColumn("emb_cos", dot / greatest(norm("ea") * norm("eb"), lit(1e-30)))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("emb_cos"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
