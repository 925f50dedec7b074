package graft

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the training-data pipeline operators (dedup, similarity,
  * text analysis) — the rows-only queries get their semantic checks here
  * since they have no DuckDB oracle. */
class PipelineOpsSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import graft.sources.Store

  test("exact dedup: copies partition the corpus") {
    val d = operators.Dedup.exactDedup(spark, sf)
    val total = d.agg(org.apache.spark.sql.functions.sum("n_copies"))
      .head.getLong(0)
    val docs = graft.sources.Tables(spark, sf, "documents").count()
    assert(total == docs)
  }

  test("minhash LSH finds every exact-jaccard>=0.5 near-dup pair") {
    val exact = operators.Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.Dedup.minhashLshPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    // banding: pairs at jaccard >= 0.5 with 4 bands of 3 rows are found
    // w.h.p.; on the planted (≥0.8) dups this must be exhaustive
    assert((exact -- lsh).isEmpty,
      s"minhash missed ${(exact -- lsh).size} of ${exact.size} exact pairs")
  }

  test("per-row minhash signature: single evaluation, equals the groupBy formulation") {
    import org.apache.spark.sql.functions._
    val k = 12
    // a cached signature frame from an earlier test would cache-substitute
    // into this plan as an InMemoryRelation whose string embeds the cached
    // physical plan (aggregate printed in BOTH its Initial and Final plan)
    // — the count below must see the raw plan, not the cache hit
    operators.Caches.release()
    spark.catalog.clearCache()
    val sig = operators.Dedup.minhashSignatures(spark, sf, k)
    // the band rows q27 and the q65–q92 Text tiers read: 4 bands × 3
    // element_at references to the same signature
    val banded = operators.Modality.Text.banded(operators.Dedup.hashSigProjection(
      graft.sources.Tables(spark, sf, "documents")))
    // the row-local array aggregate must survive as ONE expression: if
    // CollapseProject ever inlined it into the k mh_i extractions (or the
    // band keys) the signature would evaluate k times per row (k× md5
    // per gram); a filter on `sig` pushed below the projection computing
    // it (Text.banded's old null filter) evaluates it twice
    Seq("minhashSignatures" -> sig, "Text.banded" -> banded).foreach { case (name, df) =>
      val planStr = df.queryExecution.optimizedPlan.toString
      val evals = "aggregate\\(".r.findAllIn(planStr).size
      assert(evals == 1,
        s"$name: signature aggregate must appear once in the plan, found $evals")
    }
    // value parity with the explode + groupBy formulation it replaced
    // (same md5 base hash + affine family, min over the same gram set)
    import graft.functions.TextFunctions._
    val g = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingles(col("t"), 3)).as("gram"))
      .withColumn("_h", conv(substring(md5(col("gram")), 1, 7), 16, 10).cast("long"))
    val aggs = (0 until k).map { i =>
      val (a, b) = operators.Dedup.minhashAB(i)
      min((col("_h") * lit(a) + lit(b)) % lit(operators.Dedup.MinhashM)).as(s"mh_$i")
    }
    val old = g.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    assert(sig.exceptAll(old).isEmpty && old.exceptAll(sig).isEmpty,
      "per-row signatures must equal the groupBy formulation row-for-row")
  }

  test("capped n-gram dedup keeps every planted pair with fewer candidates") {
    val exact = operators.Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = operators.Dedup.ngramJaccardPairsCapped(spark, sf, maxDocFreq = 20)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty)
    // recall: every exact pair survives capping, with the IDENTICAL score
    exact.foreach { case (pair, j) =>
      assert(capped.contains(pair), s"capping lost pair $pair")
      assert(math.abs(capped(pair) - j) < 1e-12, s"score drift on $pair")
    }
    assert(capped.keySet == exact.keySet) // and nothing spurious
  }

  test("banded embedding dedup: subset of exact, identical scores, useful recall") {
    val exact = operators.Dedup.embeddingNearDupPairsExact(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = operators.Dedup.embeddingNearDupPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision 1.0: every banded pair is a true >=threshold pair with the
    // exact-rescored cosine (banding only prunes candidates, never scores)
    banded.foreach { case (pair, c) =>
      assert(exact.contains(pair), s"banded emitted non-dup pair $pair")
      assert(exact(pair) == c, s"score drift on $pair")
    }
    // recall floor: the synthetic dups sit at cosine 0.40-0.60 where
    // sign-bit agreement is weak (~0.63/plane) — at a realistic 0.9+
    // near-dup threshold the same banding is near-exhaustive
    if (exact.nonEmpty) {
      val recall = banded.size.toDouble / exact.size
      assert(recall >= 0.5, s"banded recall $recall < 0.5 (${banded.size}/${exact.size})")
    }
  }

  test("composed pipeline (q62): stage invariants hold on the surviving corpus") {
    import org.apache.spark.sql.functions._
    val sdf = operators.Compose.survivors(spark, sf).cache()
    try {
      val n = sdf.count()
      assert(n > 0, "pipeline must keep some documents")
      // 1. every survivor passes the quality gate — predicate re-derived
      // here from raw expressions, not the operator, so a gate that
      // silently loosened in TextOps would fail this check
      val tk = size(split(col("text"), " "))
      val uniqRatio = size(array_distinct(split(col("text"), " "))).cast("double") / tk
      val meanTokLen = (length(col("text")) - (tk - lit(1))).cast("double") / tk
      val passesGate =
        tk.between(5, 500) && uniqRatio > 0.2 && meanTokLen.between(2.0, 12.0)
      assert(sdf.filter(!passesGate).count() == 0,
        "a survivor violates the quality gate")
      // 2. exact-dedup property: no two survivors share content bytes
      assert(sdf.groupBy(md5(col("text"))).count()
        .filter(col("count") > 1).count() == 0,
        "two survivors share identical text")
      // 3. near-dup property: cluster keepers span distinct components, so
      // re-running the pair finder over the survivors finds nothing. (The
      // cap is df>100 docs/shingle; at this corpus size no shingle is hot,
      // so the reduced-corpus candidate set can't exceed the original's.)
      assert(operators.Dedup.ngramJaccardPairsCappedFor(sdf).count() == 0,
        "two survivors are still near-duplicates")
      // 4. the packing audit conserves documents and tokens exactly
      val packed = operators.Compose.qualityDedupPack(spark, sf)
      val agg = packed.agg(sum("n_docs"), sum("seq_tokens")).head
      val toks = sdf.agg(sum(tk.cast("long"))).head.getLong(0)
      assert(agg.getLong(0) == n, "packed n_docs != survivor count")
      assert(agg.getLong(1) == toks, "packed seq_tokens != survivor tokens")
    } finally {
      sdf.unpersist()
      operators.Caches.release()
    }
  }

  test("operator caches are tracked and released (library caching contract)") {
    spark.catalog.clearCache()
    operators.Caches.release()
    // compose several caching operators and materialize their results
    operators.Dedup.minhashLshPairs(spark, sf).count()
    operators.Dedup.embeddingNearDupPairs(spark, sf).count()
    operators.Similarity.lshTopK(spark, sf).count()
    assert(operators.Caches.trackedCount > 0, "operators should track their caches")
    operators.Caches.release()
    assert(operators.Caches.trackedCount == 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "Caches.release() must leave no cached plan behind")
  }

  test("cache scopes: concurrent compositions release independently") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.storage.StorageLevel
    spark.catalog.clearCache()
    operators.Caches.release()
    // two compositions on two threads, each in its own scope — the
    // one-composition-at-a-time hazard the global registry documents
    val fA = Future(operators.Caches.scope {
      val df = operators.Dedup.minhashLshPairs(spark, sf)
      df.count(); df
    })
    val fB = Future(operators.Caches.scope {
      val df = operators.Similarity.lshTopK(spark, sf)
      df.count(); df
    })
    val (dfA, scopeA) = Await.result(fA, 120.seconds)
    val (dfB, scopeB) = Await.result(fB, 120.seconds)
    assert(scopeA.trackedCount > 0 && scopeB.trackedCount > 0,
      "each composition must track into ITS scope")
    assert(operators.Caches.trackedCount == 0,
      "scoped tracking must not leak into the global registry")
    val bCachedBefore = scopeB // handle alive
    scopeA.release()
    assert(scopeA.trackedCount == 0)
    assert(bCachedBefore.trackedCount > 0,
      "scope A's release must leave scope B's registry intact")
    // B's result is still computable and its caches still live (the
    // cacheManager holds B's plans until B releases)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "scope B's caches must survive scope A's release")
    dfB.count()
    scopeB.release()
    assert(spark.sharedState.cacheManager.isEmpty,
      "after both scopes release, no cached plan remains")
    // outside any scope, tracking falls back to the global registry
    val g = operators.Caches.track(spark.range(10).toDF("x"))
    g.count()
    assert(operators.Caches.trackedCount == 1)
    operators.Caches.release()
    assert(operators.Caches.trackedCount == 0 &&
      g.storageLevel == StorageLevel.NONE)
    // a throwing body must not leak its tracked caches: no handle ever
    // reaches the caller, so scope() releases them on the way out
    intercept[RuntimeException] {
      operators.Caches.scope {
        val df = operators.Caches.track(spark.range(5).toDF("y"))
        df.count()
        throw new RuntimeException("boom")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed scoped composition must leave no cached plan behind")
  }

  test("simhash pairs include the planted near-dups at small hamming") {
    val exact = operators.Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = operators.Dedup.simhashPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (exact & sim).size
    assert(exact.isEmpty || found >= exact.size / 2,
      s"simhash found only $found of ${exact.size} planted pairs")
  }

  test("LSH ANN matches brute-force top-k at default params") {
    val bf = operators.Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.Similarity.lshTopK(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.size == 50)
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9")
  }

  test("IVF ANN recall scales with nProbe") {
    val bf = operators.Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbe: Int): Double = {
      val ivf = operators.Similarity.ivfTopK(spark, sf, nProbe = nProbe)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (ivf & bf).size.toDouble / bf.size
    }
    // measured on the weakly-clustered testdata with the CHECKED-IN
    // sf0.01-trained IvfCentroids artifact scoring this sf0.001 corpus:
    // ~0.48 @ 4/16 cells, ~0.66 @ 8/16 — a quantizer trained on the
    // distribution (not this exact corpus) costs a few recall points,
    // which is the artifact trade every production IVF makes. Recall must
    // stay non-trivial and improve with probes.
    val r4 = recall(4)
    val r8 = recall(8)
    assert(r4 >= 0.4, s"recall@4=$r4")
    assert(r8 >= r4 + 0.05, s"recall@8=$r8 not meaningfully above recall@4=$r4")
  }

  test("persisted IVF store: probe-only answers ≡ q38, pruned scan linted (q107)") {
    import org.apache.spark.sql.functions._
    // row-identical verdicts through the STORED cell-partitioned index
    val viaStore = operators.Similarity.ivfIndexedTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    operators.Caches.release()
    val inQuery = operators.Similarity.ivfTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    operators.Caches.release()
    assert(viaStore === inQuery && viaStore.size == 50)
    // the lint is NOT vacuous: an unpruned scan of the same store is
    // detected (plan built non-adaptive, same as the in-query lint)
    val path = operators.Similarity.ivfStorePath(sf)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val unpruned = spark.read.parquet(path)
        .filter(col("vec_id") < 10) // data filter, no cell predicate
      assert(operators.Similarity.ivfUnprunedStoreScans(
        unpruned.queryExecution.executedPlan, path).nonEmpty,
        "lint failed to flag an unpruned store scan")
      val pruned = spark.read.parquet(path)
        .filter(col("cell").cast("long").isin(1L, 3L))
      assert(operators.Similarity.ivfUnprunedStoreScans(
        pruned.queryExecution.executedPlan, path).isEmpty,
        "lint flagged a correctly-pruned scan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // and the in-query lint entry actually rejects an unpruned probe
    // (memo cleared so the assertion runs; a FAILED lint never
    // memoizes, so later real queries still re-prove the clean shape)
    operators.Lints.clearLintMemo()
    val err = intercept[IllegalArgumentException] {
      operators.Similarity.assertIvfProbePruned(spark, path)(
        spark.read.parquet(path).filter(col("vec_id") < 10))
    }
    assert(err.getMessage.contains("partition pruning"), err.getMessage)
  }

  test("IVF ingest: day-1 bytes untouched, replay no-op, meta gates the store, verdicts ≡ full corpus (q110)") {
    import org.apache.spark.sql.functions._
    val S = operators.Similarity
    val path = S.ivfStorePath(sf, "_incr")
    // fresh lifecycle: remove any store a previous process left and
    // forget the memos, so build → validate → ingest all really run
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    Store.forget(); operators.Lints.clearLintMemo()
    val all = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val id = Store.identity(operators.IvfCentroids.version,
      graft.sources.Tables(spark, sf, "embeddings"))
    val bucket = operators.Sampling.hashBucket(col("vec_id"), 10)
    assert(all.filter(bucket >= 8).count() > 0, "day-2 delta must be non-empty")
    // day 1: versioned build publishes store + meta atomically
    S.ensureIvfStore(spark, sf, path)(all.filter(bucket < 8))
    assert(Store.holds(path, id), "fresh store must carry a valid meta")
    def partFiles(): Map[String, (Long, String)] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("cell="))
        .flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
        .map { f =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
          f.getAbsolutePath -> ((f.length(), h))
        }.toMap
    val day1Files = partFiles()
    // day 2: append-only ingest — every day-1 file byte-identical,
    // new files present, total row mass = the full corpus exactly once
    S.ingestVectors(all.filter(bucket >= 8), sf, path, "day2")
    val grown = partFiles()
    day1Files.foreach { case (f, sig) =>
      assert(grown.get(f).contains(sig), s"day-1 file changed by ingest: $f")
    }
    assert(grown.size > day1Files.size, "ingest added no files")
    // replay of the SAME batch key (crash-and-retry): marker skips it
    S.ingestVectors(all.filter(bucket >= 8), sf, path, "day2")
    assert(partFiles() === grown, "replayed ingest mutated the store")
    val stored = spark.read.parquet(path).select(col("vec_id"))
    assert(stored.count() === all.count(), "row mass after ingest+replay")
    assert(stored.distinct().count() === all.count(), "duplicated vec_ids")
    // cross-process steady state: a fresh JVM (memo cleared) re-opens
    // the store via the meta check — no rebuild, files untouched
    Store.forget()
    S.ensureIvfStore(spark, sf, path)(
      sys.error("steady-state open must not rebuild"): org.apache.spark.sql.DataFrame)
    assert(partFiles() === grown, "steady-state open rewrote the store")
    // a corrupted meta fails validation and forces a rebuild
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_graft_store"), "stale-version /elsewhere\n")
    assert(!Store.holds(path, id), "corrupt meta must not validate")
    Store.forget()
    S.ensureIvfStore(spark, sf, path)(all.filter(bucket < 8))
    assert(Store.holds(path, id), "rebuild must restore a valid meta")
    // rebuilt day-1-only store lost the delta (as it must: the rebuild
    // corpus was day 1) — re-ingest lands it again, then the declared
    // query's verdicts equal the in-query full-corpus form
    operators.Lints.clearLintMemo()
    val viaIngest = S.ivfIngestTopK(spark, sf).collect().map(_.toSeq).toSeq
    operators.Caches.release()
    val inQuery = S.ivfTopKFor(spark, all).collect().map(_.toSeq).toSeq
    operators.Caches.release()
    assert(viaIngest === inQuery && viaIngest.nonEmpty,
      "grown-store verdicts drifted from the in-query full-corpus form")
  }

  test("dedup clusters: valid connected-components labeling of the pair graph") {
    import org.apache.spark.sql.functions._
    val pairs = operators.Dedup.ngramJaccardPairsCapped(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val lab = operators.Dedup.dedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nDocs = graft.sources.Tables(spark, sf, "documents").count()
    assert(lab.size == nDocs, "every document must receive a cluster label")
    // keeper is the component minimum: never above the member id
    lab.foreach { case (doc, (keeper, _)) => assert(keeper <= doc) }
    // every near-dup edge joins two docs in the SAME cluster (this is
    // what pairwise dedup alone cannot give you: transitivity)
    pairs.foreach { case (a, b) =>
      assert(lab(a)._1 == lab(b)._1, s"pair ($a,$b) split across clusters")
    }
    // cluster sizes are consistent with the labeling
    val byKeeper = lab.values.groupBy(_._1)
    byKeeper.foreach { case (keeper, members) =>
      assert(members.forall(_._2 == members.size),
        s"cluster $keeper sizes inconsistent")
    }
    // and docs in no pair are singletons labeled by themselves
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    lab.foreach { case (doc, (keeper, size)) =>
      if (!inPairs.contains(doc)) assert(keeper == doc && size >= 1)
    }
  }

  test("probeForRecall: measured curve is monotone, chosen width is minimal for the target") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (chosenFull, curve) = operators.Similarity.probeForRecall(
      spark, e, targetRecall = 1.0)
    operators.Caches.release()
    // probe sets nest (top-p cells ⊂ top-(p+1) cells), so candidate
    // sets nest and measured recall must be non-decreasing in width
    curve.sliding(2).foreach {
      case Seq((p1, r1), (p2, r2)) =>
        assert(r2 >= r1, s"recall fell from $r1@$p1 to $r2@$p2: $curve")
      case _ =>
    }
    // probing every cell IS brute force: recall exactly 1.0, and a
    // target of 1.0 must land on the smallest width achieving it
    assert(curve.last._1 === 16 && curve.last._2 === 1.0, curve.toString)
    assert(curve.filter(_._1 < chosenFull).forall(_._2 < 1.0),
      s"chosen $chosenFull not minimal for 1.0: $curve")
    // targets compose: an easier target never needs a wider probe
    val (chosenHalf, _) = operators.Similarity.probeForRecall(
      spark, e, targetRecall = 0.5)
    operators.Caches.release()
    assert(chosenHalf <= chosenFull)
  }

  test("connected components converge on a 64-node chain (pointer jumping beats O(diameter))", Soak) {
    import spark.implicits._
    // a 64-link chain has diameter 63 — plain min-label propagation
    // needs 63 rounds and the round-3 engine hard-aborted at 20; with
    // pointer jumping it must converge inside the default maxIter=50
    // (in ~log2(64) label-halving rounds), plus a triangle component and
    // an isolated pair to prove components don't bleed into each other
    val chain = (1L until 64L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))
    val edges = (chain ++ extra).toDF("doc_a", "doc_b")
    // cap = 0 forces the DISTRIBUTED loop — the subject under test here;
    // the small-subgraph union-find path is compared against it below
    val lab = operators.Dedup.connectedComponentsCounted(edges, cap = 0)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    operators.Caches.release()
    (1L to 64L).foreach(i => assert(lab(i) == 1L, s"chain node $i -> ${lab(i)}"))
    Seq(100L, 101L, 102L).foreach(i => assert(lab(i) == 100L))
    Seq(200L, 201L).foreach(i => assert(lab(i) == 200L))
    assert(lab.size == 64 + 3 + 2)
    // the driver union-find shortcut must produce the identical labeling
    val local = operators.Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    operators.Caches.release()
    assert(local == lab, "local union-find diverged from the distributed loop")
  }

  test("IVF quantizer is a fit-once artifact: disk reload gives identical centroids") {
    val first = operators.Similarity.ivfQuantizer(spark, sf, 16)
    val c1 = first.clusterCenters.map(_.toArray.toSeq).toSeq
    // drop the in-JVM memo: the next call must come from the persisted
    // artifact, not a refit — at corpus scale the quantizer is state,
    // not a query step
    operators.Similarity.clearQuantizerMemo()
    val second = operators.Similarity.ivfQuantizer(spark, sf, 16)
    val c2 = second.clusterCenters.map(_.toArray.toSeq).toSeq
    assert(c1 == c2, "persisted quantizer must reload bit-identical centroids")
    // a directory a killed save left behind (no Store marker) is refit,
    // not handed to KMeansModel.load
    val qPath = operators.Similarity.quantizerPath(sf, 16)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(qPath))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(qPath, "metadata"))
    operators.Similarity.clearQuantizerMemo(); Store.forget()
    val refit = operators.Similarity.ivfQuantizer(spark, sf, 16)
    assert(refit.clusterCenters.map(_.toArray.toSeq).toSeq == c1,
      "a partial quantizer directory must be refit to the same centroids")
    // and the probe query still works end-to-end on the loaded model
    assert(operators.Similarity.ivfTopK(spark, sf).count() == 50)
  }

  test("distributed prefix sum: partition-count invariant and equal to the global window") {
    import org.apache.spark.sql.functions._
    val d = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("ok"),
        size(split(col("text"), " ")).cast("long").as("nt"))
    // ground truth: the single-task global window (fine at spec scale,
    // the exact thing runningTotal exists to avoid at corpus scale)
    val w = org.apache.spark.sql.expressions.Window.orderBy("ok", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val truth = d.withColumn("cum", sum(col("nt")).over(w))
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(3, 7, 32).foreach { parts =>
      val got = operators.Packing.runningTotal(
        d, Seq(col("ok"), col("doc_id")), col("nt"), parts)
        .select(col("doc_id"), col("_cum")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth, s"two-pass scan diverged at parts=$parts")
    }
  }

  test("shard writer: one sorted file per shard, layout-invariant content (q103)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "d e"), (3L, "f"), (4L, "g h i j"),
      (5L, "k"), (6L, "l m"), (7L, "n o p"), (8L, "q")
    ).toDF("doc_id", "text")
    val base = tempDir("graft_shards_spec")
    val p1 = base.resolve("w1").toString
    val rep1 = operators.Packing.writeShardsFor(docs, budget = 4,
      seqsPerShard = 2, p1).collect()
    operators.Caches.release()
    // conservation: every doc and every token lands in exactly one shard
    assert(rep1.map(_.getLong(2)).sum === 8L)
    assert(rep1.map(_.getLong(3)).sum === 17L) // 3+2+1+4+1+2+3+1
    // shard ids are the contiguous range partition of the seq space
    assert(rep1.map(_.getLong(0)).toSeq === (0L until rep1.length).toSeq)
    // physical layout: exactly ONE part file per shard dir (the
    // repartition-on-shard_id writer contract), rows inside it in pack
    // order (ok, doc_id) — the sequential-read contract a loader uses
    val shardDirs = new java.io.File(p1).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.length === rep1.length)
    shardDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length === 1, s"${d.getName}: ${parts.length} part files")
      val rows = spark.read.parquet(parts.head.getAbsolutePath)
        .select(col("ok"), col("doc_id")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows === rows.sorted, s"${d.getName} not in pack order")
    }
    // layout invariance: a differently-partitioned input writes the
    // IDENTICAL report (assignment is a pure function of content; the
    // range scan is partition-count-invariant by the spec above)
    val p2 = base.resolve("w2").toString
    val rep2 = operators.Packing.writeShardsFor(docs.repartition(7),
      budget = 4, seqsPerShard = 2, p2).collect()
    operators.Caches.release()
    assert(rep1.map(_.toSeq).toSeq === rep2.map(_.toSeq).toSeq)
  }

  test("margin pipeline: model gate is selective and distinct from the heuristic, funnel consistent (q111/q112)") {
    import org.apache.spark.sql.functions._
    val f = operators.Compose.marginFunnel(spark, sf).collect()
    operators.Caches.release()
    assert(f.map(_.getString(1)).toSeq ===
      Seq("raw", "margin_gate", "exact_dedup", "near_dedup"))
    val docs = f.map(_.getLong(2))
    val toks = f.map(_.getLong(3))
    // cumulative stages only ever shrink the corpus
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a }, docs.toSeq)
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a }, toks.toSeq)
    // the model gate is a real decision boundary: keeps some, drops some
    assert(docs(1) > 0 && docs(1) < docs(0),
      s"margin gate degenerate: ${docs(1)} of ${docs(0)}")
    // and it is NOT the heuristic gate wearing a new name (on this
    // corpus the q24 heuristic keeps everything; the model does not)
    val h = operators.Compose.pipelineFunnel(spark, sf).collect()
    operators.Caches.release()
    assert(docs(1) !== h(1).getLong(2),
      "margin stage equals the heuristic stage — vacuous swap")
    // every shipped survivor really clears the checked-in threshold
    val surv = operators.Compose.marginSurvivors(spark, sf)
    val below = surv.filter(operators.Sampling.modelMargin(col("text")) <=
      operators.QualityCoefficients.MarginTau).count()
    operators.Caches.release()
    assert(below === 0L, s"$below survivors at or below MarginTau")
    // the funnel's last stage counts exactly the survivor corpus
    val ns = operators.Compose.marginSurvivors(spark, sf).count()
    operators.Caches.release()
    assert(ns === docs(3))
  }

  test("clean BPE shards: subword budget drives the disk layout, ends pin to whitespace (q109)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{Bpe, Packing}
    val docs = Seq((1L, "ab cd ab"), (2L, "ef ab"), (3L, "cd cd gh"))
      .toDF("doc_id", "text")
    val base = tempDir("graft_shards_bpe")
    // SATURATING merge table (every corpus word fully merged): subword
    // counts ≡ whitespace counts, so the written artifact must be
    // report-identical to the whitespace shard writer's — the BpeSpec
    // degenerate-end argument lifted to the files on disk
    val sat = Seq(
      Bpe.Merge(1, "a", "b", 0), Bpe.Merge(2, "c", "d", 0),
      Bpe.Merge(3, "e", "f", 0), Bpe.Merge(4, "g", "h", 0),
      Bpe.Merge(5, "ab", Bpe.EndMark, 0), Bpe.Merge(6, "cd", Bpe.EndMark, 0),
      Bpe.Merge(7, "ef", Bpe.EndMark, 0), Bpe.Merge(8, "gh", Bpe.EndMark, 0))
    val pSat = base.resolve("sat").toString
    val repSat = Packing.writeShardsCounts(docs,
      Bpe.subwordCountsFor(docs, sat), budget = 4, seqsPerShard = 2, pSat)
      .collect().map(_.toSeq).toSeq
    operators.Caches.release()
    val pWs = base.resolve("ws").toString
    val repWs = Packing.writeShardsFor(docs, budget = 4, seqsPerShard = 2, pWs)
      .collect().map(_.toSeq).toSeq
    operators.Caches.release()
    assert(repSat === repWs && repSat.nonEmpty)
    // EMPTY table (maximally-fragmented tokenizer): every word costs
    // chars+1 — the budget column REALLY repacks the disk layout
    val pEmpty = base.resolve("empty").toString
    val repEmpty = Packing.writeShardsCounts(docs,
      Bpe.subwordCountsFor(docs, Nil), budget = 4, seqsPerShard = 2, pEmpty)
      .collect().map(_.toSeq).toSeq
    operators.Caches.release()
    // conservation in SUBWORD units (9 + 6 + 9), every doc present once
    assert(repEmpty.map(_(3).asInstanceOf[Long]).sum === 24L)
    assert(repEmpty.map(_(2).asInstanceOf[Long]).sum === 3L)
    assert(repEmpty !== repWs)
    // the rows on disk carry the INJECTED budget units: n_tokens is the
    // subword count, not the whitespace count — what a training loader
    // reading these shards will budget against
    val onDisk = spark.read.parquet(pEmpty)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(onDisk === Map(1L -> 9L, 2L -> 6L, 3L -> 9L))
  }

  test("clean-shard steady state: serve-only reps reproduce the build-inclusive rows, files untouched (q113)") {
    // the build-inclusive q105 rows are the ground truth the memoized
    // steady-state path must keep serving
    val want = operators.Packing.writeCleanShards(spark, sf)
      .collect().map(_.toSeq).toSeq
    operators.Caches.release()
    Store.forget()
    val first = operators.Packing.cleanShardsReport(spark, sf)
      .collect().map(_.toSeq).toSeq
    operators.Caches.release()
    assert(first === want, "steady-state build drifted from q105's artifact")
    // the second call is a pure serve: same rows, zero writes
    val path = operators.Packing.defaultShardPath(sf) + "_cleanss"
    def fileSig(): Map[String, Long] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("shard_id="))
        .flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    val before = fileSig()
    val second = operators.Packing.cleanShardsReport(spark, sf)
      .collect().map(_.toSeq).toSeq
    operators.Caches.release()
    assert(second === want)
    assert(fileSig() === before, "serve-only rep rewrote the clean store")
  }

  test("shard append: day-1 files byte-untouched, delta in fresh shards, metadata-only max probe (q104)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val day1 = Seq(
      (1L, "a b c"), (2L, "d e"), (3L, "f"), (4L, "g h i j"),
      (5L, "k"), (6L, "l m"), (7L, "n o p"), (8L, "q")
    ).toDF("doc_id", "text")
    val day2 = Seq(
      (11L, "r s t"), (12L, "u v"), (13L, "w x y z")
    ).toDF("doc_id", "text")
    val p = tempDir("graft_shards_incr")
      .resolve("store").toString
    val rep1 = operators.Packing.writeShardsFor(day1, budget = 4,
      seqsPerShard = 2, p).collect()
    operators.Caches.release()
    def partFiles(): Map[String, (Long, String)] =
      new java.io.File(p).listFiles().filter(_.getName.startsWith("shard_id="))
        .flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val h = java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
          f.getAbsolutePath -> ((f.length(), h))
        }.toMap
    val before = partFiles()
    // the existing-store probe must read DIRECTORY METADATA only: the
    // partition column comes from the path, so the scan's ReadSchema is
    // empty — day-2 cost never includes re-reading day-1 data
    val probePlan = spark.read.parquet(p)
      .agg(max(col("shard_id").cast("long")))
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("ReadSchema: struct<>"),
      s"max-shard probe reads data columns:\n$probePlan")
    val rep2 = operators.Packing.appendShardsFor(day2, budget = 4,
      seqsPerShard = 2, p).collect()
    operators.Caches.release()
    // every day-1 part file is BYTE-identical after the append — the
    // immutability that makes checkpoint-resume and lineage audits work
    val after = partFiles()
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"day-1 file changed: $f")
    }
    // the full-store report extends the day-1 report without rewriting
    // it: day-1 shard rows identical, delta rows only in fresh shards
    val r1 = rep1.map(r => r.getLong(0) -> r.toSeq).toMap
    val r2 = rep2.map(r => r.getLong(0) -> r.toSeq).toMap
    r1.foreach { case (id, row) =>
      assert(r2(id) === row, s"day-1 shard $id report changed: ${r2(id)} vs $row")
    }
    val maxDay1 = r1.keys.max
    val fresh = r2.keys.toSet -- r1.keys.toSet
    assert(fresh.nonEmpty && fresh.forall(_ > maxDay1),
      s"delta landed in old shards: fresh=$fresh")
    // conservation across the store: all 11 docs, all 17+9 tokens
    assert(rep2.map(_.getLong(2)).sum === 11L)
    assert(rep2.map(_.getLong(3)).sum === 26L)
  }

  test("contamination audit agrees with a brute-force fingerprint check") {
    import org.apache.spark.sql.functions._
    val audit = operators.Sampling.contaminationAudit(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit.keySet == Set("val", "test"))
    // brute force in memory
    import graft.functions.TextFunctions.{minShingleFingerprint, tokens}
    val f = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), minShingleFingerprint(col("t"), 8).as("fp"),
        operators.Sampling.assignSplit(col("doc_id")).as("split"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val trainFps = f.collect { case (_, fp, "train") => fp }.toSet
    Seq("val", "test").foreach { sp =>
      val docs = f.filter(_._3 == sp)
      val contaminated = docs.count(d => trainFps.contains(d._2))
      assert(audit(sp) == (docs.size.toLong, contaminated.toLong), s"split $sp")
    }
  }

  test("hash-mod splitting is stable, complete and roughly proportioned") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, sf, "documents")
    val s1 = docs.withColumn("split", operators.Sampling.assignSplit(col("doc_id")))
    // complete partition: every doc in exactly one split
    assert(s1.count() == docs.count())
    val byS = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(byS("train") / n > 0.7 && byS("train") / n < 0.9, byS.toString)
    // stability: re-running assigns identical splits (pure hash function)
    val s2 = docs.withColumn("split", operators.Sampling.assignSplit(col("doc_id")))
    assert(s1.exceptAll(s2).count() == 0)
    // growth-stability: a doc keeps its split when the corpus is filtered
    val subset = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("split", operators.Sampling.assignSplit(col("doc_id")))
    assert(subset.exceptAll(s1.filter(col("doc_id") % 3 === 0)).count() == 0)
    // deterministic stratified sample hits requested per-stratum rates
    val strat = operators.Sampling.stratifiedSample(docs, "lang",
      col("doc_id"), Map("en" -> 0.5, "es" -> 1.0, "de" -> 0.0,
        "fr" -> 0.25, "zh" -> 0.25))
    val got = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("de"))
    assert(math.abs(got("en").toDouble / base("en") - 0.5) < 0.15, got.toString)
  }

  test("corpus mixing: fractional upsampling and zero rates") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, sf, "documents")
    val n = docs.count().toDouble
    val mixed = operators.Sampling.mixCorpora(Seq(
      (docs, col("doc_id"), 2.5),
      (docs, col("doc_id"), 0.0)))
    val ratio = mixed.count() / n
    // 2 full copies + ~0.5 sample + zero-rate source contributes nothing
    assert(ratio > 2.4 && ratio < 2.6, s"mix ratio $ratio")
    // deterministic: identical on re-run
    val again = operators.Sampling.mixCorpora(Seq(
      (docs, col("doc_id"), 2.5), (docs, col("doc_id"), 0.0)))
    assert(mixed.exceptAll(again).count() == 0)
  }

  test("PII scrubbing redacts planted emails/urls/numbers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // drive the SHIPPED expressions (TextFunctions.piiRedact/piiCount —
    // the exact columns q47 uses), not a private regex copy
    import graft.functions.TextFunctions
    val dirty = Seq(
      (1L, "contact me at alice@example.com or https://evil.example/x?id=1 ref 123456789"),
      (2L, "clean text with short 12345 number")).toDF("doc_id", "text")
    val out = dirty.select(col("doc_id"),
      TextFunctions.piiRedact(col("text")).as("r"),
      TextFunctions.piiCount(col("text"), TextFunctions.PiiEmail).as("ne"),
      TextFunctions.piiCount(col("text"), TextFunctions.PiiDigits).as("nd"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("contact me at <EMAIL> or <URL> ref <NUM>", 1L, 1L)))
    assert(out(2L) == (("clean text with short 12345 number", 0L, 0L))) // 5 digits kept
  }

  test("repetition score flags planted repetitive docs, not diverse ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted docs flow through the SAME code path q48 uses
    val planted = Seq(
      (1L, Seq.fill(50)("buy now click here").mkString(" ")), // boilerplate
      (2L, (1 to 200).map(i => s"w$i").mkString(" ")))        // all-distinct
      .toDF("doc_id", "text")
    val scored = operators.TextOps.repetitionScoreFor(planted)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("repetition"), r.getAs[Int]("repetitive")))).toMap
    assert(scored(1L)._2 == 1, s"boilerplate not flagged: ${scored(1L)}")
    assert(scored(2L)._2 == 0, s"diverse doc flagged: ${scored(2L)}")
    assert(scored(1L)._1 > scored(2L)._1)
    // bounds on real corpus via the q48 entry point
    val real = operators.TextOps.repetitionScore(spark, sf)
    assert(real.filter(col("repetition") > 1.0 || col("repetition") <= 0.0).count() == 0)
    assert(real.filter(col("top_gram_n") > col("n_grams")).count() == 0)
  }

  test("language ID predicts a language for every doc") {
    val l = operators.TextOps.langId(spark, sf)
    assert(l.filter(l("pred_lang").isNull).count() == 0)
  }

  test("int8 quantization audit: error bounded by scale/2, levels fit int8 (q60)") {
    import org.apache.spark.sql.functions._
    val a = operators.Similarity.quantizationAudit(spark, sf).cache()
    // the defining bound of grid quantization (max_abs_err is rounded to
    // 6dp, so allow the half-ulp of that rounding), near-lossless cosine
    assert(a.filter(col("max_abs_err") > col("scale") / 2 + 5e-7).count() == 0)
    assert(a.filter(col("cos_sim") < 0.999).count() == 0)
    // every quantized level must be representable in a signed byte
    val levels = graft.sources.Tables(spark, sf, "embeddings")
      .withColumn("_x", expr("transform(embedding, v -> cast(v as double))"))
      .withColumn("scale", expr(
        "greatest(array_max(transform(_x, v -> abs(v))) / 127.0, 1e-30d)"))
      .select(expr(
        "array_max(transform(_x, v -> abs(floor(v / scale + 0.5d))))").as("m"))
      .agg(max(col("m"))).head.getLong(0) // Spark floor(double) → long
    assert(levels <= 127L, s"quantized level $levels exceeds int8")
    a.unpersist()
  }

  test("incremental dedup: exact tier matches brute force, near tier is signature-justified") {
    import org.apache.spark.sql.functions._
    val inc = operators.Dedup.incrementalDedup(spark, sf, Seq(operators.Modality.Text))
    val docs = graft.sources.Tables(spark, sf, "documents")
      .withColumn("_new", operators.Modality.splitBucket === 4)
    val rows = inc.collect()
    val batchIds = docs.filter(col("_new")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val corpusIds = docs.filter(!col("_new")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // one verdict per batch doc, none for corpus docs
    assert(rows.map(_.getLong(0)).toSet == batchIds)
    // match ids point INTO the corpus, never at another batch doc
    val matched = rows.filter(!_.isNullAt(2))
    assert(matched.forall(r => corpusIds.contains(r.getLong(2))))
    assert(rows.forall(r => Set("exact", "near", "new")(r.getString(1))))
    // exact tier ≡ brute-force text equality across the split boundary
    val brute = docs.filter(col("_new")).as("b")
      .join(docs.filter(!col("_new")).as("c"), col("b.text") === col("c.text"))
      .groupBy(col("b.doc_id").as("doc_id"))
      .agg(min(col("c.doc_id")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactTier = rows.filter(_.getString(1) == "exact")
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exactTier == brute,
      s"exact tier drifted from brute force: got $exactTier want $brute")
    // near tier: the matched pair's signatures must agree on >= 6 of 12
    val sig = operators.Dedup.minhashSignatures(spark, sf)
    val agree = (0 until 12).map(i =>
      when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0)).reduce(_ + _)
    val nearPairs = rows.filter(_.getString(1) == "near")
      .map(r => (r.getLong(0), r.getLong(2)))
    if (nearPairs.nonEmpty) {
      val np = spark.createDataFrame(nearPairs.toSeq).toDF("x", "y")
      val bad = np.join(sig.as("a"), col("x") === col("a.doc_id"))
        .join(sig.as("b"), col("y") === col("b.doc_id"))
        .filter(agree < 6).count()
      assert(bad == 0, s"$bad near matches below the 6/12 agreement floor")
    }
    operators.Caches.release()
  }

  test("centroid audit: cosines bounded, counts partition the table, self-consistent") {
    import org.apache.spark.sql.functions._
    val a = operators.Similarity.centroidAudit(spark, sf).collect()
    val total = graft.sources.Tables(spark, sf, "embeddings").count()
    assert(a.map(_.getLong(1)).sum == total, "per-label counts must partition the table")
    a.foreach { r =>
      val (mean, mn) = (r.getDouble(2), r.getDouble(3))
      assert(mn >= -1.0 - 1e-9 && mean <= 1.0 + 1e-9, s"cosine out of range: $r")
      assert(mean >= mn, s"mean below min: $r")
    }
    // a label's own centroid must score higher against its members than
    // a random other label's centroid does (cluster structure exists)
    assert(a.map(_.getDouble(2)).min > 0.0,
      "mean member-to-own-centroid cosine should be positive for every label")
  }

  test("incrementalDedupFor: planted exact and near dups classify correctly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "totally unrelated corpus text about something else entirely")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),          // exact of 1
      (11L, "one two three four five six seven eight nine eleven"),    // near of 2
      (12L, "completely fresh document with brand new words only")     // new
    ).toDF("doc_id", "text")
    import operators.Modality
    val got = operators.Dedup.classify(Modality.project(Modality.Text -> batch),
        Modality.project(Modality.Text -> corpus)).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(10L) == ("exact", Some(1L)), s"got ${got(10L)}")
    assert(got(11L) == ("near", Some(2L)), s"got ${got(11L)}")
    assert(got(12L) == ("new", None), s"got ${got(12L)}")
    operators.Caches.release()
  }

  test("incrementalDedupFor3: embedding tier catches semantic dups, loses precedence to lexical tiers") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Float): Array[Float] = Array.tabulate(64)(f)
    // corpus doc 3's direction; batch doc 13 is a lexically-unrelated
    // near-copy of it in embedding space (scaled ⇒ cosine 1.0)
    val e3 = vec(d => if (d < 8) (d + 1).toFloat else 0f)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "the quick brown fox jumps over the lazy dog today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),        // exact of 1
      (11L, "one two three four five six seven eight nine eleven"),  // near of 2
      (13L, "completely different words describing the same idea"),  // semantic dup of 3
      (12L, "totally fresh document with brand new vocabulary only") // new
    ).toDF("doc_id", "text")
    val corpusEmb = Seq(
      (1L, vec(d => if (d >= 10 && d < 14) 1f else 0f)),
      (2L, vec(d => if (d >= 20 && d < 24) 1f else 0f)),
      (3L, e3)
    ).toDF("doc_id", "embedding")
    val batchEmb = Seq(
      (10L, vec(d => if (d >= 10 && d < 14) 1f else 0f)), // = e1: precedence test
      (11L, vec(d => if (d >= 30 && d < 34) 1f else 0f)), // orthogonal to all
      (13L, e3.map(_ * 1.01f)),                           // cosine 1.0 with e3
      (12L, vec(d => if (d >= 50 && d < 54) 1f else 0f))  // orthogonal to all
    ).toDF("doc_id", "embedding")
    import operators.Modality.{Embedding, Text, project}
    val got = operators.Dedup.classify(project(Text -> batch, Embedding() -> batchEmb),
        project(Text -> corpus, Embedding() -> corpusEmb)).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // 10 ALSO matches 1 in embedding space — exact must win precedence
    assert(got(10L) == ("exact", Some(1L)), s"got ${got(10L)}")
    assert(got(11L) == ("near", Some(2L)), s"got ${got(11L)}")
    assert(got(13L) == ("near_embedding", Some(3L)), s"got ${got(13L)}")
    assert(got(12L) == ("new", None), s"got ${got(12L)}")
    operators.Caches.release()
  }

  test("cross-modal audit: one row per lexical pair, bounded cosines, thresholded jaccard") {
    import org.apache.spark.sql.functions._
    val a = operators.Similarity.crossModalAudit(spark, sf)
    val pairs = operators.Dedup.ngramJaccardPairsCapped(spark, sf).count()
    assert(a.count() == pairs,
      "every lexical near-dup pair must get an embedding verdict")
    assert(a.filter(col("emb_cos") < -1.0 - 1e-9 || col("emb_cos") > 1.0 + 1e-9).count() == 0)
    assert(a.filter(col("jaccard") < 0.5).count() == 0)
    operators.Caches.release()
  }

  test("doc chunking (q80): snapped sliding windows tile every document exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hand-checkable fixture: n=5 tokens, maxLen=3, stride=2 →
    // nc = ceil((5−3)/2)+1 = 2 chunks, starts 0 and SNAPPED 5−3=2
    // (NOT 1·2=2 — here they coincide; n=6 would snap 3 vs ride 2·2=4)
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val tiny = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "p q r s t u v"))
      .toDF("doc_id", "text")
    val ch = operators.TextOps.docChunksFor(tiny, maxLen = 3, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(ch == Set(
      (1L, 0L, 0L, 3L, m("a b c")), (1L, 1L, 2L, 3L, m("c d e")),
      (2L, 0L, 0L, 2L, m("x y")),
      // n=7: nc = ceil(4/2)+1 = 3; starts 0, 2, snapped 7−3=4
      (3L, 0L, 0L, 3L, m("p q r")), (3L, 1L, 2L, 3L, m("r s t")),
      (3L, 2L, 4L, 3L, m("t u v"))),
      s"unexpected chunk set: $ch")
    // testdata invariants at the declared (32, 24) params: per doc the
    // windows start at 0, end exactly at n, are all exactly min(32, n)
    // tokens, and the chunk count matches the integer formula
    val d = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
    val g = operators.TextOps.docChunks(spark, sf)
      .groupBy("doc_id").agg(
        count(lit(1)).as("nc"),
        min(col("start_tok")).as("s0"),
        max(col("start_tok") + col("n_tokens")).as("end"),
        min(col("n_tokens")).as("minTok"),
        max(col("n_tokens")).as("maxTok"))
    val bad = g.join(d, "doc_id").filter(
      col("s0") =!= 0L || col("end") =!= col("n") ||
        col("minTok") =!= least(lit(32L), col("n")) ||
        col("maxTok") =!= least(lit(32L), col("n")) ||
        col("nc") =!= when(col("n") <= 32, lit(1L))
          .otherwise(expr("(n - 32 + 23) div 24") + lit(1L)))
    assert(bad.count() == 0, "a document's chunk tiling broke an invariant")
    // the gate must see real multi-chunk docs, not the identity case
    assert(g.filter(col("nc") >= 3).count() > 0,
      "testdata should produce >=3-chunk documents at (32, 24)")
  }

  test("vocab/OOV audit (q82): equals a driver-side reference, monotone in vocab size") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // tiny token universe so vocabulary cuts and OOV are hand-countable
    val docs = (0L until 200L).map(id => (id, s"src${id % 3}",
      (0 to (id % 7).toInt).map(k => s"t${(id + k) % 13}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    // discover the split through the SAME assignment the operator uses
    val rows = docs.withColumn("_s", operators.Sampling.assignSplit(col("doc_id")))
      .collect()
    val train = rows.filter(_.getString(3) == "train")
    val test = rows.filter(_.getString(3) == "test")
    assert(train.nonEmpty && test.nonEmpty, "fixture must populate both splits")
    def refCounts(v: Int): Map[String, (Long, Long)] = {
      val counts = train.flatMap(_.getString(2).split(" "))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      val vocab = counts.sortBy { case (t, n) => (-n, t) }.take(v).map(_._1).toSet
      test.groupBy(_.getString(1)).view.mapValues { rs =>
        val toks = rs.flatMap(_.getString(2).split(" ")).toSeq
        (toks.size.toLong, toks.count(t => !vocab.contains(t)).toLong)
      }.toMap
    }
    val got5 = operators.TextOps.vocabOovFor(docs, vocabSize = 5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got5 == refCounts(5), s"v=5 mismatch: $got5 vs ${refCounts(5)}")
    val got13 = operators.TextOps.vocabOovFor(docs, vocabSize = 13).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got13.forall { case (s, o) => o <= got5(s)._2 },
      "growing the vocab increased an OOV count")
    // declared-query shape on testdata: rates well-formed
    val q = operators.TextOps.vocabOov(spark, sf).collect()
    assert(q.nonEmpty && q.forall(r =>
      r.getLong(1) > 0 && r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1) &&
        r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("chunk packing (q81): conservation, contiguous ids, fill floor") {
    import org.apache.spark.sql.functions._
    val p = operators.Packing.packChunks(spark, sf).collect()
    val ids = p.map(_.getLong(0)).toSeq
    assert(ids == (0L until ids.length).toList.map(_.toLong),
      s"seq ids must be contiguous from 0, got head/tail ${ids.take(3)}..${ids.takeRight(3)}")
    // token mass is conserved: packing reassigns chunks, never drops one
    val total = operators.TextOps.docChunks(spark, sf)
      .agg(sum(col("n_tokens"))).head.getLong(0)
    assert(p.map(_.getLong(2)).sum == total, "chunk token mass conserved")
    // start-sequence assignment means every non-last sequence is filled
    // to at least budget − (maxChunk − 1) = 64 − 31 tokens
    assert(p.dropRight(1).forall(_.getLong(2) >= 33L),
      "a non-last sequence fell below the straddle fill floor")
    assert(p.length >= 3, "testdata should pack into several sequences")
  }

  test("fingerprint is stable under duplicate text") {
    import org.apache.spark.sql.functions._
    // same text ⇒ same fingerprint: join docs on equal text, compare fps
    val f = operators.TextOps.fingerprint(spark, sf)
    val d = graft.sources.Tables(spark, sf, "documents").select("doc_id", "text")
    val j = d.as("x").join(d.as("y"), col("x.text") === col("y.text"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .join(f.as("fx"), col("x.doc_id") === col("fx.doc_id"))
      .join(f.as("fy"), col("y.doc_id") === col("fy.doc_id"))
    assert(j.filter(col("fx.fingerprint") =!= col("fy.fingerprint")).count() == 0)
  }

  test("prefix-filtered similarity join equals the brute exact join, with fewer candidates") {
    import org.apache.spark.sql.functions._
    // the prefix filter's whole claim is EXACTNESS: same rows, same
    // scores as any-shared-gram candidate generation + exact rescore
    val exact = operators.Dedup.ngramJaccardPairs(spark, sf)
    val prefix = operators.Dedup.ngramJaccardPairsPrefix(spark, sf)
    assert(exact.exceptAll(prefix).isEmpty && prefix.exceptAll(exact).isEmpty,
      "prefix join must be lossless vs the brute exact join")
    assert(prefix.count() > 0, "testdata should contain planted near-dups")
    // and at a threshold whose t·|x| products are NOT exactly
    // representable (0.3) — exercises the conservative fp nudges in the
    // prefix-length and size filters
    val exact3 = operators.Dedup.ngramJaccardPairs(spark, sf, threshold = 0.3)
    val prefix3 = operators.Dedup.ngramJaccardPairsPrefix(spark, sf, threshold = 0.3)
    assert(exact3.exceptAll(prefix3).isEmpty && prefix3.exceptAll(exact3).isEmpty,
      "prefix join must stay lossless at a non-representable threshold")
    // the 128-bit pre-prune option (the documented collision-caveat
    // escape hatch) must produce the identical result set
    val wide = operators.Dedup.ngramJaccardPairsPrefix(spark, sf, wideKeys = true)
    assert(wide.exceptAll(exact).isEmpty && exact.exceptAll(wide).isEmpty,
      "wide-key prefix join must equal the brute exact join")
    operators.Caches.release()
    spark.catalog.clearCache()
    // and it must actually prune: prefix-candidate volume strictly below
    // the any-shared-gram candidate volume on the same corpus
    val docs = graft.sources.Tables(spark, sf, "documents").select("doc_id", "text")
    val full = tools.SoakScale.candidatePairCount(docs, maxDocFreq = Long.MaxValue)
    val pruned = tools.SoakScale.prefixCandidatePairCount(docs)
    assert(pruned < full, s"prefix candidates $pruned !< full $full")
    operators.Caches.release()
    spark.catalog.clearCache()
  }

  test("embedding clusters: pairs collapse transitively, singletons keep themselves") {
    import org.apache.spark.sql.functions._
    val pairs = operators.Dedup.embeddingNearDupPairs(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lab = operators.Dedup.embeddingDedupClusters(spark, sf)
    val keeper = lab.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pairs.nonEmpty, "testdata should contain planted embedding near-dups")
    // every near-dup pair lands in one cluster
    pairs.foreach { case (a, b) =>
      assert(keeper(a)._1 == keeper(b)._1, s"pair ($a,$b) split across clusters")
    }
    // keeper is the member minimum; size equals the member count
    keeper.groupBy(_._2._1).foreach { case (k, members) =>
      assert(members.keys.min == k, s"cluster $k keeper isn't its min member")
      members.foreach { case (_, (_, sz)) =>
        assert(sz == members.size, s"cluster $k size drift")
      }
    }
    // vectors in no pair are singletons of themselves
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    keeper.filterNot(kv => inPairs(kv._1)).foreach { case (v, (k, sz)) =>
      assert(k == v && sz == 1L, s"singleton $v mislabeled ($k, $sz)")
    }
    operators.Caches.release()
    spark.catalog.clearCache()
  }

  test("text HOF builders accept computed column arguments") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    // stopwordHits / shingles / minShingleFingerprint used to round-trip
    // their column argument through Column.toString into expr(); that only
    // parsed for simple named columns. The Column-lambda forms must accept
    // arbitrary expressions — and agree with the named-column form when
    // the expression is a no-op rewrite of it.
    val d = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .limit(50)
      .cache()
    val computedText = concat(col("text"), lit("")) // computed, same value
    val computedToks = split(lower(upper(col("text"))), " ") // computed token array
    val named = d.select(
      col("doc_id"),
      stopwordHits(col("text"), "en").as("sw"),
      shingles(split(lower(col("text")), " "), 3).as("sh"),
      minShingleFingerprint(split(lower(col("text")), " ")).as("fp"))
    val computed = d.select(
      col("doc_id"),
      stopwordHits(computedText, "en").as("sw"),
      shingles(computedToks, 3).as("sh"),
      minShingleFingerprint(computedToks).as("fp"))
    assert(named.exceptAll(computed).isEmpty && computed.exceptAll(named).isEmpty,
      "computed-column arguments must evaluate identically to named columns")
    d.unpersist()
  }

  test("decontamination audit: planted gram leakage found, clean docs report zero (q72)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    val spark2 = spark
    import spark2.implicits._
    def toks(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").select(col("doc_id"), tokens(col("text")).as("t"))
    val evalSet = toks(Seq(
      (1L, "what is the capital of france paris obviously everyone knows"),
      (2L, "completely unleaked benchmark question about nothing in corpus")))
    val train = toks(Seq(
      // doc 10 quotes eval doc 1's first 8 tokens inside novel text: the
      // PARTIAL containment q53's whole-doc fingerprints cannot see
      (10L, "some filler words then what is the capital of france paris obviously and more trailing content"),
      (11L, "entirely unrelated training document with its own vocabulary stream"),
      // doc 12 is an exact copy of eval doc 1 (max overlap)
      (12L, "what is the capital of france paris obviously everyone knows")))
    val r = operators.Sampling.decontaminationAuditFor(train, evalSet, k = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // eval 1 has 10 tokens → 3 distinct 8-grams; doc 10 quotes one of
    // them, doc 12 (the full copy) all three → (3 grams, 2 train docs,
    // max overlap 3 = the full gram count)
    assert(r(1L) == ((3L, 2L, 3L)),
      s"eval 1 must be contaminated by exactly docs 10 and 12: ${r(1L)}")
    // eval 2: untouched — explicit zero row, never silently absent
    assert(r(2L)._2 == 0L && r(2L)._3 == 0L, s"clean eval doc must report zeros: ${r(2L)}")
    // fixture sanity for the driver query: the hash split yields a
    // non-empty eval set and the report covers exactly the eval docs
    val q = operators.Sampling.benchmarkDecontamination(spark, sf)
    val n = q.count()
    assert(n > 0)
    assert(q.filter(col("n_eval_grams") <= 0).isEmpty)
    operators.Caches.release()
    spark.catalog.clearCache()
  }

  test("URL normalization: cosmetic variants collapse, real distinctions survive (q71)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.normalizeUrl
    val spark2 = spark
    import spark2.implicits._
    def norm(urls: String*): Seq[String] =
      urls.toDF("url").select(normalizeUrl(col("url"))).as[String].collect().toSeq
    // every cosmetic variation of one resource → ONE canonical form
    val variants = Seq(
      "http://example.com/a/1?a=1&b=2",
      "HTTP://EXAMPLE.com/a/1?a=1&b=2",
      "http://www.example.com/a/1?a=1&b=2",
      "http://WWW.example.com:80/a/1?a=1&b=2",
      "http://example.com/a/1/?b=2&a=1",
      "http://example.com/a/1?utm_source=feed&a=1&b=2",
      "http://example.com/a/1?a=1&b=2#section-3")
    assert(norm(variants: _*).distinct ==
      Seq("http://example.com/a/1?a=1&b=2"))
    // real distinctions must NOT collapse: scheme, non-default port,
    // :80 under https, path case, param values, extra params
    val distinct = Seq(
      "http://example.com/a/1?a=1&b=2",
      "https://example.com/a/1?a=1&b=2",
      "http://example.com:8080/a/1?a=1&b=2",
      "https://example.com:80/a/1?a=1&b=2",
      "http://example.com/A/1?a=1&b=2",
      "http://example.com/a/1?a=2&b=2",
      "http://example.com/a/1?a=1&b=2&c=3")
    assert(norm(distinct: _*).distinct.size == distinct.size,
      "semantically different URLs must stay different")
    // https default port strips; empty path → "/"; idempotence
    assert(norm("HTTPS://Example.com:443?b=2&a=1") ==
      Seq("https://example.com/?a=1&b=2"))
    val once = norm(variants ++ distinct: _*)
    assert(norm(once: _*) == once, "normalization must be idempotent")
    // and the q71 operator: keepers partition the corpus, keeper is the
    // group min, copy counts sum to the doc count
    val r = operators.Dedup.urlNormalizedDedup(spark, sf).cache()
    val docs = graft.sources.Tables(spark, sf, "documents")
    assert(r.agg(sum("n_copies")).head.getLong(0) == docs.count())
    assert(r.filter(col("keeper_id") < 0).isEmpty)
    assert(r.count() < docs.count(),
      "the fixture must contain real URL duplicates to collapse")
    r.unpersist()
  }

  test("verdictTiers: declared order IS precedence, match_id follows it (q78)") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    def tier(c: String, rows: (Long, Long)*) =
      rows.toDF("doc_id", c)
    // doc 1 matches ALL tiers → highest wins; doc 2 only the middle;
    // doc 3 only the lowest; doc 4 none → new with null match_id
    val v = operators.Dedup.verdictTiers(ids, Seq(
      ("exact", "exact_id", tier("exact_id", 1L -> 10L)),
      ("near_audio", "afp_id", tier("afp_id", 1L -> 20L, 2L -> 21L)),
      ("near_video", "vid_id", tier("vid_id", 1L -> 30L, 3L -> 31L))))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(v == Set(
      (1L, "exact", Some(10L)),
      (2L, "near_audio", Some(21L)),
      (3L, "near_video", Some(31L)),
      (4L, "new", None)))
    // and the six-tier classifier exercises every declared status at
    // this SF (the oracle proves values; this pins non-vacuity)
    val statuses = operators.Dedup.incrementalDedup(spark, sf, operators.Modality.all)
      .select("status").distinct().as[String].collect().toSet
    operators.Caches.release()
    spark.catalog.clearCache()
    assert(Set("near", "near_embedding", "near_image", "near_audio",
      "near_video").subsetOf(statuses), s"got $statuses")
  }

  test("line dedup: planted boilerplate stripped, unique lines survive byte-exact (q87)") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // newline-structured corpus through the generic lines entry — the
    // shape a real crawl feeds (doc 1-3 share a cookie-banner line and
    // a footer line; each also has unique content; doc 4 is ALL
    // boilerplate; doc 5 shares nothing)
    val banner = "we use cookies to improve your experience"
    val footer = "copyright example corp all rights reserved"
    val docs = Seq(
      (1L, Seq(banner, "unique alpha content one", footer)),
      (2L, Seq(banner, "unique beta content two", footer)),
      (3L, Seq("unique gamma content three", banner, footer)),
      (4L, Seq(banner, footer)),
      (5L, Seq("entirely original document line", "another original line")))
    val lines = docs.flatMap { case (id, ls) =>
      ls.zipWithIndex.map { case (l, i) => (id, i.toLong, l) }
    }.toDF("doc_id", "line_no", "line")
    val r = operators.TextOps.lineDedupLines(lines, maxDocs = 1)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))).toMap
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // per doc: (n_lines, n_removed, n_kept_tokens, md5 of kept text in
    // line order) — the banner/footer go, the unique lines survive
    // byte-exact, and the all-boilerplate doc reports md5("")
    assert(r(1L) == ((3L, 2L, 4L, md5hex("unique alpha content one"))))
    assert(r(2L) == ((3L, 2L, 4L, md5hex("unique beta content two"))))
    assert(r(3L) == ((3L, 2L, 4L, md5hex("unique gamma content three"))))
    assert(r(4L) == ((2L, 2L, 0L, md5hex(""))))
    assert(r(5L) == ((2L, 0L, 7L,
      md5hex("entirely original document line another original line"))))
    // threshold is > maxDocs, not >=: the banner/footer live in exactly
    // 4 docs, so maxDocs = 4 keeps them (strict inequality) while
    // maxDocs = 3 (the run above would too) strips them
    val loose = operators.TextOps.lineDedupLines(lines, maxDocs = 4)
      .filter(col("n_removed") > 0).count()
    assert(loose == 0L, "no line appears in >4 docs, nothing may be removed")
    // WITHIN-doc repeats are not boilerplate: a line twice in ONE doc
    // counts one distinct doc and survives both times
    val rep = Seq((7L, 0L, "la la la"), (7L, 1L, "la la la"))
      .toDF("doc_id", "line_no", "line")
    val rr = operators.TextOps.lineDedupLines(rep).head
    assert((rr.getLong(1), rr.getLong(2)) == ((2L, 0L)),
      "within-doc repetition must not trigger cross-doc removal")
    // the declared query's fixed segmentation: line count is the exact
    // integer ceil(n_tokens / 10) for every doc
    val seg = operators.TextOps.docLines(
      graft.sources.Tables(spark, sf, "documents"), 10)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .join(graft.sources.Tables(spark, sf, "documents")
        .select(col("doc_id"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt")),
        Seq("doc_id"))
      .filter(col("n") =!= expr("(nt + 9) div 10")).count()
    assert(seg == 0L, "segment count must be ceil(n_tokens/10) exactly")
  }

  test("line dedup newline path: regex view ≡ slice segmentation, multi-line collapse present (q93)") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // the newline view's split('\n') lines must equal docLines' slice
    // segmentation row-for-row at the same segLen — the regex
    // every-7th-space derivation and the posexplode numbering both
    // certified against the integer-slice ground truth
    val nl = operators.TextOps.newlineLines(docs, 7)
    val seg = operators.TextOps.docLines(docs, 7)
    assert(nl.exceptAll(seg).isEmpty && seg.exceptAll(nl).isEmpty,
      "newline-path lines must equal the slice segmentation")
    // end-to-end: the q93 entry equals lineDedupFor at segLen 7
    val viaNewline = operators.TextOps.lineDedupNewline(spark, sf, segLen = 7)
    val viaSlices = operators.TextOps.lineDedupFor(docs, segLen = 7)
    assert(viaNewline.exceptAll(viaSlices).isEmpty
        && viaSlices.exceptAll(viaNewline).isEmpty,
      "q93 newline entry must equal the slice-segmented scrub")
    // the fixture is non-vacuous: at this SF at least one document
    // loses ≥ 2 lines (a MULTI-line boilerplate collapse — genuinely
    // multi-line documents through the newline path, not single-line
    // proxies), and at least one keeps everything
    val collapsed = viaNewline.filter(col("n_removed") >= 2).count()
    assert(collapsed >= 1, "expected a multi-line boilerplate collapse")
    assert(viaNewline.filter(col("n_removed") === 0).count() >= 1)
  }

  test("cluster canonical: quality argmax beats min-id, singletons keep themselves (q94)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted cluster through the REAL pair pipeline: doc 2 is doc 1
    // plus extra tail tokens — shared rare 3-gram shingles keep the
    // capped-jaccard pair (28/31 ≈ 0.90 ≥ 0.5), both pass the quality
    // gate, doc 2 has more tokens — so the canonical MUST be 2 while
    // the min-id cluster label stays 1 (the policy-vs-label split q94
    // exists for). Doc 3 shares no shingles: a singleton.
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " tail1 tail2 tail3"),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = operators.Dedup.clusterCanonicalFor(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out(1L) == ((1L, 2L, 2L, "drop")), s"got ${out(1L)}")
    assert(out(2L) == ((1L, 2L, 2L, "keep")), s"got ${out(2L)}")
    assert(out(3L) == ((3L, 1L, 3L, "keep")), s"got ${out(3L)}")

    // corpus invariants at sf: labels agree with q51, exactly one keep
    // per cluster, every canonical is a member of its own cluster with
    // the argmax (quality_ok, n_tokens, -doc_id) among members
    val real = operators.Dedup.clusterCanonical(spark, sf).localCheckpoint()
    val clusters = operators.Dedup.dedupClusters(spark, sf)
    assert(real.count() == clusters.count())
    assert(real.join(clusters, Seq("doc_id"))
      .filter(col("cluster_id") =!= col("keeper_id")).count() == 0,
      "cluster_id must be q51's keeper label")
    val badKeep = real.groupBy("cluster_id")
      .agg(sum(when(col("action") === "keep", 1L).otherwise(0L)).as("k"))
      .filter(col("k") =!= 1L).count()
    assert(badKeep == 0, "every cluster needs exactly one keep")
    // canonical membership + argmax, brute-forced driver-side
    val q = operators.TextOps.qualityScoreFor(
      graft.sources.Tables(spark, sf, "documents").select(col("doc_id"), col("text")))
      .select("doc_id", "quality_ok", "n_tokens").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val rows = real.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byCluster = rows.groupBy(_._2)
    rows.foreach { case (_, cid, canon) =>
      val members = byCluster(cid).map(_._1)
      assert(members.contains(canon), s"canonical $canon not in cluster $cid")
      val best = members.maxBy(d => (q(d)._1, q(d)._2, -d))
      assert(canon == best, s"cluster $cid: canonical $canon != argmax $best")
    }
  }

  test("repeated-gram scrub: spans merge, first occurrences survive, clean docs pass byte-identical (q95)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      // one repeat of (a b c) at pos 5 covers 5-7; kept "a b c d e"
      (1L, "a b c d a b c e"),
      // repeats at 3 and 4 — overlap merges into ONE span [3,6]; kept "x y z"
      (2L, "x y x y x y z"),
      // (p q r) repeats at 5 and 12, gap > 3 — TWO spans; kept "p q r s t u v w x"
      (3L, "p q r s p q r t u v w p q r x"),
      // no repeats: byte-identical pass-through
      (4L, "m n o p q"),
      // shorter than the gram: no grams, pass-through
      (5L, "u v")
    ).toDF("doc_id", "text")
    val out = operators.TextOps.repeatedGramScrubFor(docs, n = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def h(s: String): String = spark.range(1)
      .select(md5(lit(s))).head.getString(0)
    assert(out(1L) == ((8L, 3L, 1L, h("a b c d e"))), s"got ${out(1L)}")
    assert(out(2L) == ((7L, 4L, 1L, h("x y z"))), s"got ${out(2L)}")
    assert(out(3L) == ((15L, 6L, 2L, h("p q r s t u v w x"))), s"got ${out(3L)}")
    assert(out(4L) == ((5L, 0L, 0L, h("m n o p q"))), s"got ${out(4L)}")
    assert(out(5L) == ((2L, 0L, 0L, h("u v"))), s"got ${out(5L)}")
    // corpus non-vacuity: the declared query finds real intra-doc
    // repetition at this SF (and most docs survive untouched)
    val real = operators.TextOps.repeatedGramScrub(spark, sf)
    assert(real.filter(col("n_removed_tokens") > 0).count() >= 1)
    assert(real.filter(col("n_removed_tokens") === 0).count() >= 1)
  }

  test("temperature mix: small sources upsample toward uniform, draw equals closed form (q96)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // srcA has 4x srcB's token mass at equal doc length ⇒ isqrt weights
    // 63 vs 31, and the realized RATE of the small source must be ~2x
    // the big one (the α=1/2 flattening q96 exists for) — exact plan:
    // targets 335/400 (downsample) and 164/100 (upsample past 1x)
    val docs = ((1L to 400L).map(i => (i, "srcA", 10L)) ++
      (401L to 500L).map(i => (i, "srcB", 10L))).toDF("doc_id", "source", "_nt")
    val plan = operators.Sampling.temperaturePlan(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(plan("srcA") == ((400L, 4000L, 63L, 335L)), s"got ${plan("srcA")}")
    assert(plan("srcB") == ((100L, 1000L, 31L, 164L)), s"got ${plan("srcB")}")
    val mixed = operators.Sampling.temperatureMixedFor(
      docs, operators.Sampling.temperaturePlan(docs))
    val counts = mixed.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per-doc duality: the materialized explode equals the closed-form
    // copy count, checked against an INDEPENDENT JVM md5 (not Spark's)
    def jvmMd5Bucket(id: Long, n: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16) % n
    }
    (1L to 500L).foreach { id =>
      val (n, target) = if (id <= 400L) (400L, 335L) else (100L, 164L)
      val exp = target / n + (if (jvmMd5Bucket(id, n) < target % n) 1L else 0L)
      assert(counts.getOrElse(id, 0L) == exp, s"doc $id: got ${counts.get(id)}, want $exp")
    }
    // upsampling floor: every small-source doc survives; the big source
    // genuinely loses docs
    assert((401L to 500L).forall(counts.getOrElse(_, 0L) >= 1L))
    assert(counts.keys.count(_ <= 400L) < 400)
  }

  test("pipeline funnel: planted attrition at each stage, agrees with the q62 survivors (q97)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one doc per drop reason: 2 is an exact copy of 1 (dies at exact
    // dedup), 3 a near-dup of 1 (dies at near dedup, keeper 1 wins),
    // 4 a one-token doc (dies at the quality gate)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (3L, base + " tail1 tail2 tail3"), (4L, "x")
    ).toDF("doc_id", "text")
    val out = operators.Compose.pipelineFunnelFor(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, "raw", 4L, 94L),
      (1L, "quality", 3L, 93L),
      (2L, "exact_dedup", 2L, 63L),
      (3L, "near_dedup", 1L, 30L)), s"got ${out.toSeq}")
    // corpus consistency: the funnel's last row IS the q62 survivor set
    val funnel = operators.Compose.pipelineFunnel(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val surv = operators.Compose.survivors(spark, sf)
    assert(funnel(3L)._1 == surv.count(), "stage 3 must equal survivors()")
    // monotone attrition
    (1L to 3L).foreach { s =>
      assert(funnel(s)._1 <= funnel(s - 1)._1 && funnel(s)._2 <= funnel(s - 1)._2)
    }
  }

  test("funnel one-scan stage-0/1 aggregate: empty corpus and null-gate rows (q97 r16)") {
    import spark.implicits._
    // the r16 conditional aggregate must mirror the old two-scan shape
    // on its two edge classes: an EMPTY corpus (agg over zero rows,
    // exploded into two zero rows) and a NULL text row (counted in raw
    // n_docs, skipped by the null-sum AND by the gate — count(when)
    // drops a null gate exactly as filter(gate) did)
    val empty = operators.Compose.pipelineFunnelFor(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    operators.Caches.release()
    assert(empty.toSeq == Seq(
      (0L, "raw", 0L, 0L), (1L, "quality", 0L, 0L),
      (2L, "exact_dedup", 0L, 0L), (3L, "near_dedup", 0L, 0L)),
      s"got ${empty.toSeq}")
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val withNull = operators.Compose.pipelineFunnelFor(
      Seq((1L, base), (2L, null: String)).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    operators.Caches.release()
    assert(withNull.toSeq == Seq(
      (0L, "raw", 2L, 30L), (1L, "quality", 1L, 30L),
      (2L, "exact_dedup", 1L, 30L), (3L, "near_dedup", 1L, 30L)),
      s"got ${withNull.toSeq}")
  }

  test("minhash calibration: contingency equals a driver-side recompute from pairs + signatures (q98)") {
    import org.apache.spark.sql.functions._
    // brute-force duality: rebuild every (agree, decile) cell from the
    // collected candidate pairs and the q27 signature table
    val docToks = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
    val pairs = operators.Dedup
      .ngramJaccardPairsCappedTokRaw(docToks, threshold = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val sig = operators.Dedup.minhashSignatures(spark, sf).collect()
      .map(r => r.getLong(0) -> (0 until 12).map(i => r.getLong(i + 1)).toArray)
      .toMap
    val expected = pairs.groupBy { case (a, b, nc, na, nb) =>
      val agree = sig(a).zip(sig(b)).count { case (x, y) => x == y }.toLong
      (agree, (nc * 10L) / (na + nb - nc))
    }.map { case (k, v) => k -> v.size.toLong }
    val got = operators.Dedup.minhashCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.nonEmpty, "calibration fixture needs candidate pairs")
    assert(got == expected,
      s"cells drift: got-only=${got.toSet -- expected.toSet} want-only=${expected.toSet -- got.toSet}")
    // the table is a real calibration surface, not one degenerate cell
    assert(got.keys.map(_._1).toSet.size >= 2, "expected >= 2 agreement levels")
    assert(got.keys.forall { case (a, d) => a >= 0 && a <= 12 && d >= 2 && d <= 10 })
    operators.Caches.release(); spark.catalog.clearCache()
  }

  test("contaminated spans: two separate quotes merge into two maximal spans, not one (q88)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    val spark2 = spark
    import spark2.implicits._
    def toks(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").select(col("doc_id"), tokens(col("text")).as("t"))
    // eval doc 1: 30 tokens w1..w30. Train doc 10 quotes tokens 1-10 AND
    // tokens 21-30 (two disjoint passages); train doc 11 quotes 1-12
    // (one longer passage); train doc 12 shares nothing.
    val evalWords = (1 to 30).map(i => s"w$i")
    val evalSet = toks(Seq((1L, evalWords.mkString(" "))))
    val train = toks(Seq(
      (10L, ("qa qb qc " + evalWords.take(10).mkString(" ") + " qx qy qz " +
        evalWords.drop(20).mkString(" ") + " qfin")),
      (11L, (evalWords.take(12).mkString(" ") + " tail filler words here")),
      (12L, "nothing shared with the benchmark at all in this document stream")))
    val r = operators.Sampling.contaminatedSpansFor(train, evalSet, k = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)) ->
        ((x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6)))).toMap
    // doc 10: tokens 1-10 contain 8-gram starts 1..3 → span [1, 10];
    // tokens 21-30 give starts 21..23 → span [21, 30]. The 17-token gap
    // (> k) must SPLIT the spans; each covers 10 tokens with 3 hits.
    assert(r((1L, 10L, 1L)) == ((1L, 10L, 10L, 3L)), s"got $r")
    assert(r((1L, 10L, 2L)) == ((21L, 30L, 10L, 3L)), s"got $r")
    // doc 11: starts 1..5 → ONE maximal span [1, 12]
    assert(r((1L, 11L, 1L)) == ((1L, 12L, 12L, 5L)), s"got $r")
    // doc 12: no shared grams → no rows at all
    assert(!r.keySet.exists(_._2 == 12L), "clean train doc must emit no span")
    assert(r.size == 3, s"exactly three spans expected: $r")
    // adjacent-window law on the driver data: consecutive hit positions
    // within one span are ≤ k apart by construction — every q72-flagged
    // pair resolves to ≥1 span here (same chain, same split)
    val pairs72 = operators.Sampling.benchmarkDecontamination(spark, sf)
      .filter(col("n_contaminated_train_docs") > 0).count()
    val pairs88 = operators.Sampling.contaminatedSpans(spark, sf)
      .select("eval_id").distinct().count()
    operators.Caches.release()
    spark.catalog.clearCache()
    assert(pairs88 == pairs72,
      s"span report must cover exactly the q72-contaminated eval docs ($pairs72 vs $pairs88)")
  }

  test("cross-doc gram scrub: global first copy survives, later copies cut, whole-doc dup empties (q99)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      // doc 1 owns every gram it has (lowest doc_id): byte-identical pass
      (1L, "a b c d e"),
      // quotes doc 1's (a b c)/(b c d) at pos 3/4 → one span [3,6];
      // kept "x y z"
      (2L, "x y a b c d z"),
      // whole-doc copy of doc 1: every gram is a repeat, span [1,5],
      // NOTHING survives (the q95-impossible case — repeats can start
      // at position 1 on the corpus axis)
      (3L, "a b c d e"),
      // unique content: pass-through
      (4L, "p q r s"),
      // shorter than the gram: no grams, pass-through
      (5L, "u v"),
      // INTRA-doc repeat is also a later occurrence of a global first:
      // (m n o) at pos 4 repeats pos 1 → span [4,6], kept "m n o"
      (6L, "m n o m n o")
    ).toDF("doc_id", "text")
    val out = operators.TextOps.crossDocGramScrubFor(docs, k = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def h(s: String): String = spark.range(1)
      .select(md5(lit(s))).head.getString(0)
    assert(out(1L) == ((5L, 0L, 0L, h("a b c d e"))), s"got ${out(1L)}")
    assert(out(2L) == ((7L, 4L, 1L, h("x y z"))), s"got ${out(2L)}")
    assert(out(3L) == ((5L, 5L, 1L, h(""))), s"got ${out(3L)}")
    assert(out(4L) == ((4L, 0L, 0L, h("p q r s"))), s"got ${out(4L)}")
    assert(out(5L) == ((2L, 0L, 0L, h("u v"))), s"got ${out(5L)}")
    assert(out(6L) == ((6L, 3L, 1L, h("m n o"))), s"got ${out(6L)}")
    // corpus non-vacuity: real cross-doc shared 8-grams exist at this
    // SF, and most docs survive untouched
    val real = operators.TextOps.crossDocGramScrub(spark, sf)
    assert(real.filter(col("n_removed_tokens") > 0).count() >= 1)
    assert(real.filter(col("n_removed_tokens") === 0).count() >= 1)
  }

  test("thresholded cross-doc scrub: short shared idiom survives, long passage cut (q102)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // k=3, minSpanTokens=5: the published ExactSubstr rule at planted
    // scale — only merged duplicate runs of >= 5 tokens are removed
    val docs = Seq(
      // owns a long passage
      (1L, "a b c d e f g h"),
      // quotes doc 1's full 8-token run: grams at pos 3..8 merge to
      // span [3,10] (8 tokens >= 5) -> CUT; kept "x y z"
      (2L, "x y a b c d e f g h z"),
      // owns the short idiom "p q r"
      (3L, "p q r s t"),
      // quotes ONLY the 3-token idiom: span [3,5] (3 tokens < 5) ->
      // SURVIVES byte-identical — the unthresholded q99 would cut it
      (4L, "k l p q r m n")
    ).toDF("doc_id", "text")
    def h(s: String): String = spark.range(1)
      .select(md5(lit(s))).head.getString(0)
    val out = operators.TextOps
      .crossDocGramScrubFor(docs, k = 3, minSpanTokens = 5L).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((8L, 0L, 0L, h("a b c d e f g h"))), s"got ${out(1L)}")
    assert(out(2L) == ((11L, 8L, 1L, h("x y z"))), s"got ${out(2L)}")
    assert(out(3L) == ((5L, 0L, 0L, h("p q r s t"))), s"got ${out(3L)}")
    assert(out(4L) == ((7L, 0L, 0L, h("k l p q r m n"))), s"got ${out(4L)}")
    // the SAME fixture unthresholded cuts doc 4's idiom — the filter is
    // the entire semantic difference
    val unthresholded = operators.TextOps
      .crossDocGramScrubFor(docs, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(unthresholded(4L) === 3L)
    // real corpus at the declared L=20: strictly less is removed than
    // by q99 (sub-20 spans exist at this SF) yet long passages still
    // cut (20+ spans exist too) — the threshold is binding in BOTH
    // directions, not vacuously pass-through or q99-identical
    val t = operators.TextOps.crossDocGramScrubMin(spark, sf)
      .agg(sum("n_removed_tokens"), sum("n_dup_spans")).head
    val u = operators.TextOps.crossDocGramScrub(spark, sf)
      .agg(sum("n_removed_tokens"), sum("n_dup_spans")).head
    assert(t.getLong(0) > 0L, "no long passage cut at L=20 on the corpus")
    assert(t.getLong(0) < u.getLong(0) && t.getLong(1) < u.getLong(1),
      s"threshold not binding: thresholded ${t} vs unthresholded ${u}")
  }

  test("quality quota: exact ranked top-k per source, salt changes the plan never the answer (q100)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // all-2-char-token docs: mtl = 2.0 exactly, n_tokens = 5 — only the
    // uniq_ratio axis varies. srcA ratios: 1.0, 0.8, 0.6, 0.4 pass;
    // 0.2 FAILS the strict > 0.2 gate. srcB: two docs, both pass.
    val docs = Seq(
      (1L, "srcA", "aa bb cc dd ee"), // 1.0
      (2L, "srcA", "aa aa bb cc dd"), // 0.8
      (3L, "srcA", "aa aa aa bb cc"), // 0.6
      (4L, "srcA", "aa aa aa aa bb"), // 0.4
      (5L, "srcA", "aa aa aa aa aa"), // 0.2 — gated out
      (6L, "srcB", "pp qq rr ss tt"), // 1.0
      (7L, "srcB", "pp pp qq rr ss")  // 0.8
    ).toDF("doc_id", "source", "text")
    val out = operators.Sampling.qualityQuotaFor(docs, k = 2, salts = 16)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    // srcA: 4 candidates (doc 5 gated), top-2 = docs 1 (1.0) and 2
    // (0.8) → cutoff 0.8; srcB: quota not binding, cutoff = its min
    assert(out("srcA") == ((4L, 20L, 2L, 10L, 0.8)), s"got ${out("srcA")}")
    assert(out("srcB") == ((2L, 10L, 2L, 10L, 0.8)), s"got ${out("srcB")}")
    // the pigeonhole argument, executed: 1 salt (= the naive one-window
    // plan) and 16 salts select identical rows
    val a = operators.Sampling.qualityQuotaFor(docs, k = 2, salts = 1)
      .collect().toSeq
    val b = operators.Sampling.qualityQuotaFor(docs, k = 2, salts = 16)
      .collect().toSeq
    assert(a == b, s"salted prune changed the answer: $a vs $b")
    operators.Caches.release()
    // real corpus: the quota binds for at least one source
    val real = operators.Sampling.qualityQuota(spark, sf)
    assert(real.filter(col("n_kept") < col("n_candidates")).count() >= 1)
    assert(real.filter(col("n_kept") > lit(10L)).count() == 0)
    operators.Caches.release()
  }

  test("bigram LM: interpolated probabilities match the closed form (q101)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // corpus: a:3 b:2 c:1 → total 6, vocab 3, denom 9; bigrams (a,b):2,
    // (a,c):1. Every doc has exactly one transition.
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = operators.TextOps.bigramLmScoreFor(docs, lambda = 0.75)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pAB = 0.75 * (2.0 / 3.0) + 0.25 * (3.0 / 9.0)
    val pAC = 0.75 * (1.0 / 3.0) + 0.25 * (2.0 / 9.0)
    assert(out(1L) == ((1L, r6(math.log(pAB)), r6(math.log(pAB)))), s"got ${out(1L)}")
    assert(out(2L) == out(1L))
    assert(out(3L) == ((1L, r6(math.log(pAC)), r6(math.log(pAC)))), s"got ${out(3L)}")
    // occurrence weighting: "a b a b" has (a,b)×2 and (b,a)×1 — the
    // mean must weight (a,b) twice, and min must be the rarer (b,a)
    val docs2 = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val o2 = operators.TextOps.bigramLmScoreFor(docs2, lambda = 0.75)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // corpus: a:3 b:3 → total 6, vocab 2, denom 8; (a,b):3, (b,a):1
    val p2AB = 0.75 * (3.0 / 3.0) + 0.25 * (4.0 / 8.0)
    val p2BA = 0.75 * (1.0 / 3.0) + 0.25 * (4.0 / 8.0)
    val exp2 = (2.0 * math.log(p2AB) + math.log(p2BA)) / 3.0
    assert(o2(1L) == ((3L, r6(exp2), r6(math.log(p2BA)))), s"got ${o2(1L)}")
    // real corpus: every doc scored (all have >= 2 tokens), all logp < 0
    val real = operators.TextOps.bigramLmScore(spark, sf)
    val nDocs = graft.sources.Tables(spark, sf, "documents").count()
    assert(real.count() == nDocs)
    assert(real.filter(col("avg_logp") >= 0.0 || col("min_logp") > col("avg_logp")).count() == 0)
    operators.Caches.release()
    spark.catalog.clearCache()
  }

  test("bigram LM against a static model: out-of-model mass backs off to the add-one floor") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // model corpus: uni a:3 b:2 c:1 (denom 9), big (a,b):2 (a,c):1 —
    // the q101 closed-form fixture
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val lm = operators.TextOps.bigramLmFit(corpus)
    // feed doc 10 "a z b": z is NOVEL. (a,z): unseen bigram → ML term 0,
    // unseen w2 → unigram floor (0+1)/9 ⇒ p = 0.25/9. (z,b): unseen
    // HISTORY → whole ML term 0, w2=b seen ⇒ p = 0.25·(3/9). Doc 11
    // "a b" is fully in-model and must score exactly the self-scoring
    // interpolation.
    val feed = Seq((10L, "a z b"), (11L, "a b")).toDF("doc_id", "text")
    val out = operators.TextOps.bigramLmScoreAgainst(feed, lm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pAZ = 0.25 * (1.0 / 9.0)
    val pZB = 0.25 * (3.0 / 9.0)
    val pAB = 0.75 * (2.0 / 3.0) + 0.25 * (3.0 / 9.0)
    assert(out(10L) == ((2L, r6((math.log(pAZ) + math.log(pZB)) / 2.0),
      r6(math.log(pAZ)))), s"got ${out(10L)}")
    assert(out(11L) == ((1L, r6(math.log(pAB)), r6(math.log(pAB)))),
      s"got ${out(11L)}")
    operators.Caches.release()
    spark.catalog.clearCache()
  }
}
