package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the verify harness's failure contract: a broken query must leave
  * a named `_FAILED` marker in its output slot (→ a red row in the
  * driver's correctness artifact), never a silently-missing entry — the
  * round-6 q42 regression shipped invisible precisely because the old
  * catch printed to stderr and wrote nothing.
  */
class VerifySpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark

  private def outDir(): String =
    tempDir("verify-spec").toString

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).toDF("id")
  private def boom(msg: String): (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException(msg)

  test("a passing query dumps parquet and no marker") {
    val out = outDir()
    Verify.runOne(spark, TestSpark.sf, out, "ok", good)
    val files = new File(s"$out/ok").listFiles.map(_.getName)
    assert(files.exists(_.endsWith(".parquet")))
    assert(!files.contains("_FAILED"))
  }

  test("a failing query leaves ONLY a _FAILED marker naming the error") {
    val out = outDir()
    Verify.runOne(spark, TestSpark.sf, out, "broken", boom("forced failure"))
    val files = new File(s"$out/broken").listFiles.map(_.getName)
    assert(files.toSeq == Seq("_FAILED"),
      s"expected only the marker, got: ${files.mkString(", ")}")
    val msg = Files.readString(new File(s"$out/broken/_FAILED").toPath)
    assert(msg.contains("forced failure"))
  }

  test("a regression overwrites its prior good output with the marker") {
    val out = outDir()
    Verify.runOne(spark, TestSpark.sf, out, "q", good)
    Verify.runOne(spark, TestSpark.sf, out, "q", boom("regressed this round"))
    val files = new File(s"$out/q").listFiles.map(_.getName)
    assert(files.toSeq == Seq("_FAILED"),
      "stale parquet from the previous (green) run must not survive — " +
        s"the driver would read it as a pass; got: ${files.mkString(", ")}")
  }

  test("a mid-write failure (after partial output) still ends as a marker") {
    val out = outDir()
    // fail at ACTION time, not plan time: the write starts, then a task
    // throws — closest shape to a real runtime regression
    val failing: (SparkSession, String) => DataFrame = (s, _) => {
      import org.apache.spark.sql.functions._
      s.range(10).toDF("id")
        .withColumn("x", expr("assert_true(id < 5, 'task-time failure')"))
    }
    Verify.runOne(spark, TestSpark.sf, out, "partial", failing)
    val files = new File(s"$out/partial").listFiles.map(_.getName)
    assert(files.toSeq == Seq("_FAILED"),
      s"partial write debris must be swept before the marker; got: ${files.mkString(", ")}")
  }
}
