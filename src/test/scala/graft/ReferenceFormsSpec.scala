package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions.{tokenCount, tokens}
import graft.operators.{Packing, TextOps}

/** The row-local gram scrub, the listing shard probe, the one-pass
  * shard report and q31's band-entry candidates, each pinned against
  * the form it replaced.
  * The reference forms live here, in test code only: they are the
  * definition the faster paths must keep reproducing row for row. */
class ReferenceFormsSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  /** The relational gram scrub: positioned grams exploded to rows, the
    * repeat set as a self-join (q95) or a global-first join (q99), and
    * the span rule as a window + exploded anti-join + two per-doc
    * aggregates joined back to the documents. */
  private object Relational {
    private def positionedGrams(documents: DataFrame, k: Int) = {
      GraftExtensions.install(documents.sparkSession)
      val toks = documents.select(col("doc_id"), tokens(col("text")).as("_tk"))
      val grams = toks
        .select(col("doc_id"),
          posexplode(call_function("shingle_hashes_md5", col("_tk"), lit(k)))
            .as(Seq("_p0", "_gh")))
        .select(col("doc_id"), (col("_p0") + 1).cast("long").as("pos"), col("_gh"))
      (toks, grams)
    }

    private def spanScrubReport(documents: DataFrame, toks: DataFrame,
                                repeats: DataFrame, k: Int, spanCol: String,
                                minSpanTokens: Long): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val spans = repeats
        .withColumn("_new", when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") - lag(col("pos"), 1).over(w) > k, 1L).otherwise(0L))
        .withColumn("_span", sum(col("_new")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("_span"))
        .agg(min(col("pos")).as("_s"), (max(col("pos")) + lit(k - 1)).as("_e"))
        .filter(col("_e") - col("_s") + 1 >= minSpanTokens)
      val covered = spans.select(col("doc_id"),
        explode(sequence(col("_s"), col("_e"))).as("_p"))
      val kept = toks
        .select(col("doc_id"), posexplode(col("_tk")).as(Seq("_q0", "_tok")))
        .select(col("doc_id"), (col("_q0") + 1).cast("long").as("_p"), col("_tok"))
        .join(covered, Seq("doc_id", "_p"), "left_anti")
      val keptAgg = kept.groupBy(col("doc_id"))
        .agg(md5(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("_p"), col("_tok")))),
          x => x.getField("_tok")))).as("_rh"))
      val spanAgg = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("_ns"), sum(col("_e") - col("_s") + 1).as("_nr"))
      documents.select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
        .join(spanAgg, Seq("doc_id"), "left")
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("_nr"), lit(0L)).as("n_removed_tokens"),
          coalesce(col("_ns"), lit(0L)).as(spanCol),
          coalesce(col("_rh"), md5(lit(""))).as("retained_hash"))
    }

    def repeated(documents: DataFrame, n: Int): DataFrame = {
      val (toks, grams) = positionedGrams(documents, n)
      val firsts = grams.groupBy(col("doc_id"), col("_gh"))
        .agg(min(col("pos")).as("_first"))
      val repeats = grams.join(firsts, Seq("doc_id", "_gh"))
        .filter(col("pos") > col("_first"))
        .select(col("doc_id"), col("pos"))
      spanScrubReport(documents, toks, repeats, n, "n_repeat_spans", 1L)
    }

    def crossDoc(documents: DataFrame, k: Int, minSpan: Long): DataFrame = {
      val (toks, grams) = positionedGrams(documents, k)
      val firsts = grams.groupBy(col("_gh"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("_f"))
        .select(col("_gh"), col("_f.doc_id").as("_fd"), col("_f.pos").as("_fp"))
      val repeats = grams.join(firsts, Seq("_gh"))
        .filter(col("doc_id") =!= col("_fd") || col("pos") > col("_fp"))
        .select(col("doc_id"), col("pos"))
      spanScrubReport(documents, toks, repeats, k, "n_dup_spans", minSpan)
    }

    def againstIndex(docs: DataFrame, index: TextOps.GramIndex,
                     minSpan: Long): DataFrame = {
      val (toks, grams) = positionedGrams(docs, index.k)
      val repeats = grams.join(index.grams, Seq("_gh"), "left_semi")
        .select(col("doc_id"), col("pos"))
      spanScrubReport(docs, toks, repeats, index.k, "n_dup_spans", minSpan)
    }

    /** The per-shard report as it was: `countDistinct` for `n_seqs`. */
    def shardReport(shards: DataFrame): DataFrame =
      shards
        .groupBy(col("shard_id").cast("long").as("shard_id"))
        .agg(
          countDistinct(col("seq_id")).as("n_seqs"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"),
          md5(concat_ws(" ", transform(
            sort_array(collect_list(struct(col("ok"), col("doc_id"),
              col("seq_id"), md5(col("text")).as("_th")))),
            x => concat(x.getField("seq_id"), lit(":"), x.getField("doc_id"),
              lit(":"), x.getField("_th"))))).as("content_hash"))
        .orderBy(col("shard_id"))
  }

  /** q31's candidate stage as it was inlined: the sketch's bands cut
    * by shift-and-mask right here, one exploded frame cached for both
    * join sides, duplicates dropped on (query_id, vec_id) before the
    * cosine rescore. */
  private def inlineLshTopK(e0: DataFrame, k: Int, nQueries: Int,
                            bits: Int, bands: Int, dim: Int): DataFrame = {
    import graft.functions.VectorFunctions.dotNative
    val r = bits / bands
    val mask = (1L << r) - 1
    val e = operators.Similarity.hyperplaneSketch(e0, "embedding", bits, dim)
      .withColumn("_norm", sqrt(dotNative(col("embedding"), col("embedding"))))
    val banded = e.select(col("vec_id"), col("embedding"), col("_norm"),
        explode(array((0 until bands).map(bd =>
          struct(lit(bd).as("band"),
            shiftright(col("sketch"), bd * r).bitwiseAND(mask).as("key"))): _*)).as("b"))
      .select(col("vec_id"), col("embedding"), col("_norm"),
        col("b.band").as("band"), col("b.key").as("key")).cache()
    val q = banded.filter(col("vec_id") < nQueries)
      .select(col("band"), col("key"), col("vec_id").as("query_id"),
        col("embedding").as("qv"), col("_norm").as("_qnorm"))
    val scored = banded.join(q, Seq("band", "key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("qv"),
        col("_norm"), col("_qnorm"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"),
        round(dotNative(col("embedding"), col("qv")) /
          (col("_norm") * col("_qnorm")), 4).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = {
    val out = df.collect().map(_.toSeq).toSet
    operators.Caches.release()
    out
  }

  /** A 20k-token document: a 500-word vocabulary stepped by a prime, so
    * repeats start early and runs merge, split and cross the 20-token
    * threshold all through it. */
  private val giant =
    (0 until 20000).map(i => s"w${(i.toLong * 7919L) % 500L}").mkString(" ")

  /** Every edge the gram scrub meets, in one (doc_id, text) table. */
  private val edges: DataFrame = Seq[(Long, String)](
    (1L, ""),                                      // empty text
    (2L, null),                                    // null text
    (3L, "solo"),                                  // one token
    (4L, "u v"),                                   // fewer than k tokens
    (5L, "z z z z z z z z z z z z"),               // all-repeat document
    (6L, giant),                                   // giant document
    (7L, "naïve café über naïve café über straße 東京 東京 東京 東京"), // non-ASCII
    (8L, "a b c d a b c e p q r s p q r t u v w p q r x"),
    (9L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    // later copies of earlier docs: repeats at position 1 on the corpus axis
    (10L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    (11L, "a b c d x y z"),
    (12L, giant.split(" ").take(40).mkString(" ") + " tail of its own")
  ).toDF("doc_id", "text")

  test("row-local scrub kernel ≡ the relational span rule: q95, q99/q102 and gram-index tails over every edge") {
    for (n <- Seq(1, 3))
      assert(rows(TextOps.repeatedGramScrubFor(edges, n)) ===
        rows(Relational.repeated(edges, n)), s"q95 diverged at n=$n")
    val corpus = edges.filter(col("doc_id") <= 9L)
    val probe = edges.filter(col("doc_id") > 5L)
    for (k <- Seq(3, 8); minSpan <- Seq(1L, 20L)) {
      val got = rows(TextOps.crossDocGramScrubFor(edges, k, minSpan))
      assert(got === rows(Relational.crossDoc(edges, k, minSpan)),
        s"cross-doc diverged at k=$k minSpan=$minSpan")
      if (minSpan == 1L)
        assert(got.exists(r => r.head == 10L && r(2) == r(1)),
          "a whole-doc copy must lose every token (repeat at position 1)")
      val index = TextOps.corpusGramIndex(corpus, k)
      assert(rows(TextOps.scrubAgainstGramIndex(probe, index, minSpan)) ===
        rows(Relational.againstIndex(probe, index, minSpan)),
        s"gram-index scrub diverged at k=$k minSpan=$minSpan")
    }
  }

  test("row-local scrub: rows sharing a doc_id are scrubbed per row, no longer merged under the key") {
    // doc_id is the declared key; two rows under one id are outside it.
    // The kernel treats each row as its own document, so the report is
    // the union of each row scrubbed alone; the relational form merged
    // both rows' grams under the id and cut row 2's quote of row 1.
    val dup = Seq((7L, "a b c d"), (7L, "x a b c")).toDF("doc_id", "text")
    val perRow = dup.collect().toSeq.flatMap(r =>
      rows(TextOps.repeatedGramScrubFor(
        Seq((r.getLong(0), r.getString(1))).toDF("doc_id", "text"), 3)))
    val got = rows(TextOps.repeatedGramScrubFor(dup, 3))
    assert(got === perRow.toSet)
    assert(got.forall(_(2) == 0L), s"no row repeats a gram of its own: $got")
    assert(rows(Relational.repeated(dup, 3)).exists(_(2) != 0L),
      "the merged relational form cuts across rows")
  }

  test("span kernel: starts outside the row's gram positions are ignored, spans merge at gap k") {
    val toks = "a b c d e f g h".split(" ").toSeq
    // gram positions 1..6 at k=3; 0, -2, 7 and 40 are not
    assert(TextOps.spanScrub(toks, Seq(-2L, 0L, 7L, 40L), 3, 1L) === ((0L, 0L, toks)))
    // 2 and 5 are exactly k apart: adjacent spans merge into [2, 7]
    assert(TextOps.spanScrub(toks, Seq(2L, 5L), 3, 1L) ===
      ((6L, 1L, Seq("a", "h"))))
    // 1 and 5 are k+1 apart: two spans, and a minimum length drops both
    assert(TextOps.spanScrub(toks, Seq(1L, 5L), 3, 1L) ===
      ((6L, 2L, Seq("d", "h"))))
    assert(TextOps.spanScrub(toks, Seq(1L, 5L), 3, 4L) === ((0L, 0L, toks)))
    assert(TextOps.spanScrub(null, Seq(1L), 3, 1L) === ((0L, 0L, Nil)))
    assert(TextOps.repeatStarts(Seq(5L, 6L, 5L, 5L, 7L, 6L)) === Seq(3L, 4L, 6L))
  }

  test("shard-store listing probe ≡ the partition-column max: fresh, appended, and debris-holding stores") {
    val root = tempDir("graft_shard_probe")
    val p = root.resolve("store").toString
    def partitionMax(): Long = {
      val m = spark.read.parquet(p).agg(max(col("shard_id").cast("long"))).head
      m.getLong(0)
    }
    def touch(rel: String): Unit = {
      val f = java.nio.file.Paths.get(p, rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    }
    val day1 = (1L to 8L).map(i => (i, s"t$i u$i v$i")).toDF("doc_id", "text")
    Packing.writeShardsFor(day1, budget = 4, seqsPerShard = 2, p).collect()
    assert(Packing.storedMaxShard(spark, p) === Some(partitionMax()))
    val day2 = (11L to 14L).map(i => (i, s"x$i y$i")).toDF("doc_id", "text")
    Packing.appendShardsFor(day2, budget = 4, seqsPerShard = 2, p).collect()
    val appended = partitionMax()
    assert(Packing.storedMaxShard(spark, p) === Some(appended))
    // debris partition discovery skips: an uncommitted writer's
    // _temporary tree, a hidden shard directory, an emptied shard
    // directory and one holding only hidden/underscore files
    touch("_temporary/0/shard_id=9000/part-00000.parquet")
    touch(".shard_id=9001/part-00000.parquet")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p, "shard_id=9002"))
    touch("shard_id=9003/_SUCCESS")
    touch("shard_id=9003/.part-00000.parquet.crc")
    assert(partitionMax() === appended)
    assert(Packing.storedMaxShard(spark, p) === Some(appended))
    operators.Caches.release()
  }

  test("shard-store listing probe: a missing or shard-less store still fails the append") {
    val root = tempDir("graft_shard_empty")
    val delta = Seq((1L, "a b")).toDF("doc_id", "text")
    val missing = root.resolve("missing").toString
    val empty = root.resolve("empty")
    java.nio.file.Files.createDirectories(empty.resolve("_temporary/0"))
    java.nio.file.Files.createDirectories(empty.resolve("shard_id=3"))
    for (p <- Seq(missing, empty.toString)) {
      assert(Packing.storedMaxShard(spark, p).isEmpty)
      val e = intercept[IllegalArgumentException](
        Packing.appendShardsFor(delta, budget = 4, seqsPerShard = 2, p))
      assert(e.getMessage.contains("holds no shards"), e.getMessage)
      // the partition-column max it replaced had no answer here either
      intercept[Exception](spark.read.parquet(p).agg(max(col("shard_id"))).head)
    }
  }

  test("one-pass shard report ≡ the countDistinct form, null seq_id included") {
    val frame = Seq[(Long, Option[Long], String, Long, Long, String)](
      (0L, Some(0L), "k1", 1L, 3L, "a b c"),
      (0L, Some(0L), "k2", 2L, 2L, "d e"),
      (0L, Some(1L), "k3", 3L, 1L, "f"),
      (0L, None, "k4", 4L, 2L, "g h"),
      (1L, Some(2L), "k5", 5L, 4L, "i j k l"),
      (1L, Some(3L), "k6", 6L, 1L, "m"),
      (2L, None, "k7", 7L, 1L, "n")
    ).toDF("shard_id", "seq_id", "ok", "doc_id", "n_tokens", "text")
    val got = Packing.shardReport(frame).collect().map(_.toSeq).toSeq
    assert(got === Relational.shardReport(frame).collect().map(_.toSeq).toSeq)
    assert(got.map(_(1)) === Seq(2L, 2L, 0L), s"n_seqs per shard: $got")
    // and over a store read back from disk
    val p = tempDir("graft_shard_report")
      .resolve("store").toString
    val docs = (1L to 20L).map(i => (i, (0L to i % 5L).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val report = Packing.writeShardsFor(docs, budget = 6, seqsPerShard = 2, p)
      .collect().map(_.toSeq).toSeq
    assert(report === Relational.shardReport(spark.read.parquet(p))
      .collect().map(_.toSeq).toSeq)
    operators.Caches.release()
  }

  test("a replayed batch is skipped before the micro-batch is evaluated") {
    val path = tempDir("graft_replay_nojob")
      .resolve("store").toString
    val ok = Seq((1L, "alpha bravo")).toDF("doc_id", "text")
    assert(streaming.ShardAppend.applyBatch(ok, 0L, path, 512L, 8L).isDefined)
    // any job over this frame fails: the committed-marker check must
    // answer first, so the replay launches nothing
    val poisoned = spark.range(1).select(
      raise_error(lit("replayed batch was evaluated")).cast("long").as("doc_id"),
      lit("x").as("text"))
    assert(streaming.Ingest.applyOnce(poisoned, 0L, path, (df: DataFrame) => Some(df)).isEmpty)
    operators.Caches.release()
  }

  test("an empty shard-append batch stops at the packer's probe: no write, no marker") {
    val path = tempDir("graft_empty_batch").resolve("store").toString
    val empty = spark.range(0, 8, 1, 2).filter(col("id") < 0)
      .select(col("id").as("doc_id"), lit("x").as("text"))
    val (out, jobs) = jobsOf(streaming.ShardAppend.applyBatch(empty, 0L, path, 512L, 8L))
    assert(out.isEmpty)
    assert(streaming.Ingest.committedBatch(path) === -1L)
    assert(!new java.io.File(path).exists(), "an empty batch wrote the store")
    // the probe is the only job: no separate emptiness check runs
    assert(jobs.nonEmpty && jobs.forall(_.contains("Packing.scala:")), jobs)
    // the next batch with documents still applies under batch id 0
    val ok = Seq((1L, "alpha bravo")).toDF("doc_id", "text")
    assert(streaming.ShardAppend.applyBatch(ok, 0L, path, 512L, 8L).isDefined)
    assert(streaming.Ingest.committedBatch(path) === 0L)
    operators.Caches.release()
  }

  test("q31's band-entry candidates ≡ the inline sketch banding: rows and order, three (bits, bands)") {
    val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"
    val e = graft.sources.Tables(spark, sf01, "embeddings")
      .select(col("vec_id"), col("embedding"))
    for ((bits, bands) <- Seq((16, 8), (12, 4), (24, 8))) {
      val want = inlineLshTopK(e, 5, 10, bits, bands, 64).collect().map(_.toSeq).toSeq
      val got = operators.Similarity.lshTopKFor(spark, e, 5, 10, bits, bands, 64)
        .collect().map(_.toSeq).toSeq
      spark.catalog.clearCache()
      operators.Caches.release()
      assert(want.nonEmpty, s"($bits, $bands): the reference found no rows")
      assert(got === want, s"q31 diverged from the inline banding at ($bits, $bands)")
    }
    val err = intercept[IllegalArgumentException] {
      operators.Similarity.lshTopKFor(spark, e, bits = 16, bands = 3)
    }
    operators.Caches.release()
    assert(err.getMessage.contains("trailing sketch bits"), err.getMessage)
  }
}
