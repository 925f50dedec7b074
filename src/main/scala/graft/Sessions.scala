package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every graft entry point (Bench, Verify, the
  * demos, the tools, the specs) runs on a session built here, so their
  * confs cannot drift apart. */
object Sessions {

  /** A local session over `cpus` cores: one shuffle partition per core,
    * AQE on, LIMIT starting at full width, cached plans free to change
    * their output partitioning, UTC, no UI, WARN logging. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.limit.initialNumPartitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
