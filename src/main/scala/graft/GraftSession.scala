package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder every main and the test suite use. */
object GraftSession {
  /** The local core count every main runs on: `SPARK_GRAFT_CPUS`, else
    * every core this JVM sees. */
  val cpus: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def builder(cpus: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      // bounded-buffer aggregates (top-k, postings) group by thousands of
      // keys; the 128-group default would demote them to sort-based
      // aggregation (a full sort of the candidate stream). Buffers are
      // size-capped, so a large hash map of them is tiny.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
      // cap status-store retention: with the UI off, the app/SQL status
      // listeners still retain per-execution plan+metric snapshots (default
      // 1000 executions / 100k tasks). A 179-query × 6-pass run accumulates
      // gigabytes of that, and late queries drown in full GCs — measured as
      // a map-only serde query "costing" 48 s at sf1 while its solo bench
      // is 0.95 s. Retention is observability, not execution; cap it hard.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "5")
}
