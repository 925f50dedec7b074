package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Caches, Lints, Packing, Similarity}
import graft.sources.{Store, Tables}

/** The fault table over [[Store]] — what a half-built, foreign, raced or
  * unreadable directory does to `ensure` and `marked` — and the stores
  * built on it, each checked against a fresh build over an input
  * rewritten at the same path. */
class StoreSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private val IdMarker = "_graft_store"

  /** A build that writes one file naming `tag` and records that it ran. */
  private def building(tag: String, ran: java.util.concurrent.atomic.AtomicInteger)
      : String => Unit = { tmp =>
    ran.incrementAndGet()
    Files.createDirectories(Paths.get(tmp))
    Files.writeString(Paths.get(tmp, "data"), tag)
  }

  private def content(path: String): String =
    Files.readString(Paths.get(path, "data"))

  private def siblings(path: String): Seq[String] = {
    val f = new File(path)
    f.getParentFile.listFiles().map(_.getName)
      .filter(n => n.startsWith(f.getName) && n != f.getName).toSeq
  }

  private def counter() = new java.util.concurrent.atomic.AtomicInteger()

  test("a directory with no marker is rebuilt; a valid one is adopted as-is") {
    val path = tempDir("graft_store_nomark").resolve("s").toString
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, "data"), "half-built")
    val ran = counter()
    Store.ensure(path, "v1")(building("built", ran))
    assert(ran.get === 1 && content(path) === "built")
    assert(Store.marked(path, IdMarker) === Some("v1"))
    assert(siblings(path).isEmpty, "temp sibling left behind")
    // this process: a memo hit; a fresh process: the marker validates
    Store.ensure(path, "v1")(building("again", ran))
    Store.forget()
    Store.ensure(path, "v1")(building("again", ran))
    assert(ran.get === 1 && content(path) === "built")
  }

  test("a marker with another identity is rebuilt, in this process and a fresh one") {
    val path = tempDir("graft_store_other").resolve("s").toString
    val ran = counter()
    Store.ensure(path, "v1")(building("one", ran))
    Store.ensure(path, "v2")(building("two", ran))
    assert(ran.get === 2 && content(path) === "two")
    Store.mark(path, IdMarker, "v3")
    Store.forget()
    Store.ensure(path, "v2")(building("three", ran))
    assert(ran.get === 3 && content(path) === "three")
    assert(Store.marked(path, IdMarker) === Some("v2"))
  }

  test("a lost rename adopts a valid winner and leaves no temp sibling") {
    val path = tempDir("graft_store_race").resolve("s").toString
    // another process publishes a valid store while this one builds
    val racing: String => Unit = { tmp =>
      building("loser", counter())(tmp)
      building("winner", counter())(path)
      Store.mark(path, IdMarker, "v1")
    }
    Store.ensure(path, "v1")(racing)
    assert(content(path) === "winner")
    assert(siblings(path).isEmpty, s"temp sibling left behind: ${siblings(path)}")
    val ran = counter()
    Store.ensure(path, "v1")(building("again", ran))
    assert(ran.get === 0, "an adopted winner must be memoized")
  }

  test("a lost rename to an invalid winner fails the require") {
    val path = tempDir("graft_store_badrace").resolve("s").toString
    val racing: String => Unit = { tmp =>
      building("loser", counter())(tmp)
      building("winner", counter())(path)
      Store.mark(path, IdMarker, "another")
    }
    val err = intercept[IllegalArgumentException](Store.ensure(path, "v1")(racing))
    assert(err.getMessage.contains("marker"), err.getMessage)
    assert(siblings(path).isEmpty, s"temp sibling left behind: ${siblings(path)}")
  }

  test("an unreadable marker reads as absent; a batch marker commits only after its rows") {
    val path = tempDir("graft_store_unreadable").resolve("s").toString
    assert(Store.marked(path, "m") === None, "no directory")
    Files.createDirectories(Paths.get(path, "m"))
    assert(Store.marked(path, "m") === None, "a directory is not a marker")
    Files.createDirectories(Paths.get(path, IdMarker))
    val ran = counter()
    Store.ensure(path, "v1")(building("rebuilt", ran))
    assert(ran.get === 1 && Store.marked(path, IdMarker) === Some("v1"))
    Store.mark(path, "m2", "7")
    assert(Store.marked(path, "m2") === Some("7"))
    // Ingest's marker: a batch that fails before its rows land commits
    // nothing, so it is applied again
    val batch = Seq(1L).toDF("doc_id")
    intercept[IllegalStateException](streaming.Ingest.applyOnce(batch, 0L, path,
      (_: DataFrame) => throw new IllegalStateException("write failed")))
    assert(streaming.Ingest.committedBatch(path) === -1L)
    assert(streaming.Ingest.applyOnce(batch, 0L, path, (df: DataFrame) => Some(df)).isDefined)
    assert(streaming.Ingest.committedBatch(path) === 0L)
  }

  private def rows(df: => DataFrame): Seq[Seq[Any]] = {
    val out = df.collect().map(_.toSeq).toSeq
    Caches.release()
    out
  }

  test("q107 over an embeddings corpus rewritten at the same path serves the new corpus") {
    val dir = tempDir("graft_store_ivf").toString
    val table = s"$dir/embeddings.parquet"
    def writeCorpus(seed: Long): Unit = {
      val rnd = new scala.util.Random(seed)
      (0L until 200L).map(id => (id, Array.fill(operators.IvfCentroids.dim)(
        rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(table)
    }
    val store = new File(Similarity.ivfStorePath(dir))
    try {
      writeCorpus(1L)
      val old = rows(Similarity.ivfIndexedTopK(spark, dir))
      assert(old === rows(Similarity.ivfTopK(spark, dir)))
      // the same process
      writeCorpus(2L)
      val want2 = rows(Similarity.ivfTopK(spark, dir))
      assert(want2 !== old, "the rewritten corpus must answer differently")
      assert(rows(Similarity.ivfIndexedTopK(spark, dir)) === want2,
        "the same process served the store of the old corpus")
      // a fresh process over the store the last one left
      writeCorpus(3L)
      Store.forget(); Lints.clearLintMemo()
      val want3 = rows(Similarity.ivfTopK(spark, dir))
      assert(rows(Similarity.ivfIndexedTopK(spark, dir)) === want3,
        "a fresh process served the store of the old corpus")
    } finally FileUtils.deleteQuietly(store)
  }

  test("q113 over a documents table rewritten at the same path reports the new table") {
    val dir = tempDir("graft_store_clean").toString
    val table = s"$dir/documents.parquet"
    def writeDocs(keep: Long): Unit =
      Tables(spark, sf, "documents").filter(col("doc_id") % 5 =!= keep)
        .write.mode("overwrite").parquet(table)
    writeDocs(0L)
    val old = rows(Packing.cleanShardsReport(spark, dir))
    assert(old === rows(Packing.writeCleanShards(spark, dir)))
    // the same process
    writeDocs(1L)
    val want2 = rows(Packing.writeCleanShards(spark, dir))
    assert(want2 !== old, "the rewritten table must report differently")
    assert(rows(Packing.cleanShardsReport(spark, dir)) === want2,
      "the same process served the store of the old table")
    assert(rows(Packing.cleanShardsReport(spark, dir, budget = 256)) ===
      rows(Packing.writeCleanShards(spark, dir, budget = 256)),
      "another budget was served the store of the default one")
    // a fresh process over the store the last one left
    writeDocs(2L)
    Store.forget()
    val want3 = rows(Packing.writeCleanShards(spark, dir))
    assert(rows(Packing.cleanShardsReport(spark, dir)) === want3,
      "a fresh process served the store of the old table")
  }
}
