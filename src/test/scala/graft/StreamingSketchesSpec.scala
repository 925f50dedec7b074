package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Sketches => B}
import graft.streaming.{Sketches => S}

/** Chunked-replay duality for the 14th streaming twin: windowed HLL
  * registers and CMS cells over a document feed, merged by their
  * max/sum laws, must equal the batch sketch over the same rows — the
  * stream and the batch share every hash/rank definition verbatim, so
  * any divergence is a merge-law violation, not a formula drift. */
class StreamingSketchesSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  test("streaming sketch twin: merged windowed registers/cells ≡ batch " +
       "sketch over the same documents") {
    val dir = tempDir("graft_sketch").toString
    // documents spread across 3 hours by doc_id; +1 flush row far past
    // the watermark horizon so every real window closes and emits
    val base = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        timestamp_seconds(lit(1700000000L) +
          pmod(col("doc_id") * 997L, lit(3L * 3600L))).as("ingest_ts"))
    val flush = base.limit(1)
      .withColumn("ingest_ts", timestamp_seconds(lit(1700000000L + 9L * 3600L)))
      .withColumn("source", lit("_flush"))
    base.unionByName(flush).write.mode("overwrite").parquet(s"$dir/docs")
    def stream = spark.readStream
      .schema(base.schema).option("maxFilesPerTrigger", 1).parquet(s"$dir/docs")

    // ---- HLL: window registers emit, merge by max, equal batch ----
    val winRegs = graft.streaming.Sessionize.runOnce(spark,
      S.windowedShingleRegisters(stream), "sketch_regs")
      .filter(col("source") =!= "_flush")
    val merged = S.mergeRegisters(winRegs)
    val batchRegs = B.shingleHashRows(base, Seq("source"))
      .withColumn("bucket", col("hv") % B.HllM)
      .withColumn("rho", B.rhoExpr)
      .groupBy("source", "bucket").agg(max("rho").as("mj"))
    assert(merged.exceptAll(batchRegs).isEmpty &&
           batchRegs.exceptAll(merged).isEmpty,
      "max-merged windowed registers must equal the batch registers")

    // estimates off the merged registers replay the batch estimator
    val est = S.estimates(merged).collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      assert(r.getLong(2) > 0 && r.getDouble(3) > 0.0) // s_harmonic, est
    }

    // ---- CMS: window cells emit, merge by sum, equal batch ----
    val winCells = graft.streaming.Sessionize.runOnce(spark,
      S.windowedCmsCells(stream), "sketch_cells")
    // the flush doc's own window (+9h) never closes, so only the BASE
    // documents' windows emit — the batch foil is over base alone
    val mergedCells = S.mergeCells(winCells)
    GraftExtensions.install(spark)
    val batchCells = B.cmsCells(
      base
        .select(explode(B.bigrams(graft.functions.TextFunctions
          .tokens(col("text")))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n")))
    assert(mergedCells.exceptAll(batchCells).isEmpty &&
           batchCells.exceptAll(mergedCells).isEmpty,
      "sum-merged windowed cells must equal the batch CMS")

    // probe shape: top bigram estimate >= its true count (one-sided)
    val top = base
      .select(explode(B.bigrams(graft.functions.TextFunctions
        .tokens(col("text")))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(5)
    val probed = S.probe(mergedCells, top).join(top, Seq("bigram")).collect()
    assert(probed.length == 5)
    probed.foreach(r => assert(r.getLong(1) >= r.getLong(2),
      s"probe underestimated '${r.getString(0)}'"))

    // ---- histogram: window bins emit, merge by sum, equal batch ----
    val winBins = graft.streaming.Sessionize.runOnce(spark,
      S.windowedLengthBins(stream), "sketch_bins")
    val mergedBins = S.mergeBins(winBins)
    // the flush row's own +9h window never closes (nothing advances
    // the watermark past it), so the batch foil is over base alone —
    // the same accounting as the CMS assertion above
    val batchBins = B.lengthBins(base)
    assert(mergedBins.exceptAll(batchBins).isEmpty &&
           batchBins.exceptAll(mergedBins).isEmpty,
      "sum-merged windowed bins must equal the batch histogram")
    // quantile estimates off merged bins replay the batch rule
    val q = S.quantiles(mergedBins).collect()
    assert(q.length == B.HistPercents.length)
    q.foreach(r => assert(r.getLong(3) % B.HistW == 0 && r.getLong(3) >= 0))

    // ---- bloom: window bits emit, merge by OR, equal batch ----
    val memberFeed = base.unionByName(flush)
      .select(col("ingest_ts"), explode(graft.functions.TextFunctions
        .shingles(graft.functions.TextFunctions.tokens(col("text")),
          B.ShingleK)).as("gram"))
    val dirB = tempDir("graft_bloomtw").toString
    memberFeed.write.mode("overwrite").parquet(s"$dirB/grams")
    val gramStream = spark.readStream.schema(memberFeed.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dirB/grams")
    val winBits = graft.streaming.Sessionize.runOnce(spark,
      S.windowedBloomBits(gramStream, "gram"), "sketch_bits")
    val mergedBits = S.mergeBits(winBits)
    // flush grams live in the never-closing +9h window — base only
    val batchBits = B.bloomBits(base
      .select(explode(graft.functions.TextFunctions.shingles(
        graft.functions.TextFunctions.tokens(col("text")),
        B.ShingleK)).as("gram")))
    assert(mergedBits.exceptAll(batchBits).isEmpty &&
           batchBits.exceptAll(mergedBits).isEmpty,
      "OR-merged windowed bits must equal the batch Bloom bit set")
  }
}
