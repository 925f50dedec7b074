package graft

/** CLI entry point (SURVEY §7 layout): run a named query against a data
  * dir and print it.
  *
  *   sbt "runMain graft.Main list"
  *   sbt "runMain graft.Main q03_revenue_by_nation [sfDir] [--explain]"
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "list") {
      println("queries:")
      SparkEntry.queries.keys.toSeq.sorted.foreach(q => println(s"  $q"))
      if (args.isEmpty)
        System.err.println("usage: graft.Main <query|list> [sfDir] [--explain]")
      return
    }
    val name = args(0)
    val sfDir = args.drop(1).find(!_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.01")
    val explain = args.contains("--explain")
    SparkEntry.queries.get(name) match {
      case None =>
        System.err.println(
          s"unknown query '$name' - run `graft.Main list` for the catalog")
        sys.exit(2)
      case Some(fn) =>
        val spark = Sessions.local(Runtime.getRuntime.availableProcessors)
        val df = fn(spark, sfDir)
        if (explain) df.explain("formatted")
        df.show(50, truncate = false)
        spark.stop()
    }
  }
}
