package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run ONE query and dump its result as `<outDir>/<name>/` parquet.
    *
    * On failure, the output dir is left holding a `_FAILED` marker (the
    * exception inside) and NO parquet: the driver's read then errors
    * loudly on this query BY NAME, so a broken query is a RED row in
    * the correctness artifact — not a silently-absent one (round-6's
    * q42 hid exactly that way). Package-visible so the marker path is
    * spec-testable without a deliberately broken SparkEntry query. */
  private[graft] def runOne(spark: SparkSession, sfDir: String, outDir: String,
                            name: String,
                            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
    // per-query scope releases this query's registry refs precisely;
    // the harness runs one composition at a time, so the clearCache
    // below is a belt-and-braces sweep (it would unpersist a
    // concurrent composition's caches — fine here, nothing concurrent)
    val (_, scope) = graft.operators.Caches.scope {
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val d = Paths.get(s"$outDir/$name")
        try {
          org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
          Files.createDirectories(d)
          Files.writeString(d.resolve("_FAILED"),
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}\n")
        } catch { case m: Throwable =>
          System.err.println(s"[verify] $name marker write failed: $m")
        }
      }
    }
    scope.release()
    spark.catalog.clearCache() // per-query caches must not accumulate
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [q1,q2,…]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // dev-only filter: the driver always calls with exactly 2 args
    val only: Option[Set[String]] =
      if (args.length == 3) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) => runOne(spark, sfDir, outDir, name, fn) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
