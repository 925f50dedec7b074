package graft

/** Plan inspection tool: prints the formatted physical plan of the named
  * queries (all queries if no names given) — the "is the filter pushed
  * down / is the dim broadcast / where are the exchanges" review loop.
  * Run: sbt "runMain graft.Explain [sfDir] [query ...]" */
object Explain {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(4)
    names.foreach { q =>
      println(s"===== $q")
      SparkEntry.queries(q)(spark, sf).explain("formatted")
      // each query's plan stands alone: no cached frame of an earlier
      // query in the list may appear in a later one's plan
      operators.Caches.release()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
