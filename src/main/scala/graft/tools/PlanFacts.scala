package graft.tools

/** Prints the load-bearing physical-plan facts (exchange / join / sort
  * node counts) for the named queries — the measurement side of
  * PlanShapeSpec's golden pins. Run:
  *   sbt "runMain graft.tools.PlanFacts [sfDir] [query ...]"
  */
object PlanFacts {

  /** Count occurrences of each plan-node marker in a plan string. The
    * markers are SUBSTRING matches on the executedPlan rendering —
    * deliberately the same extraction PlanShapeSpec pins, so the tool
    * and the spec can't disagree. */
  def facts(plan: String): Map[String, Int] = {
    def count(marker: String): Int = plan.sliding(marker.length).count(_ == marker)
    Map(
      "exchange_hash" -> count("Exchange hashpartitioning"),
      "exchange_range" -> count("Exchange rangepartitioning"),
      "exchange_single" -> count("Exchange SinglePartition"),
      "broadcast_hash_join" -> count("BroadcastHashJoin"),
      "sort_merge_join" -> count("SortMergeJoin"),
      "broadcast_nested_loop" -> count("BroadcastNestedLoopJoin"),
      "cartesian" -> count("CartesianProduct"),
      "sort" -> (count("+- Sort ") + count(":- Sort ") +
        (if (plan.startsWith("Sort ")) 1 else 0)))
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Sessions.local(4)
    names.foreach { q =>
      val p = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      val f = facts(p)
      println(s"$q -> " + f.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(", "))
      graft.operators.Caches.release()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
