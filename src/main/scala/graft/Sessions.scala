package graft

import org.apache.spark.sql.SparkSession

/** The local session every main starts from (Bench, Verify and the
  * probes): one copy of the shared settings, so the tools cannot drift
  * apart. Each caller adds only its own extras before `getOrCreate()`. */
object Sessions {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // rank-filter group limits must cover t59's VerifyCap=4096
    // sample (default threshold 1000 silently disables the pushdown)
    .config("spark.sql.optimizer.windowGroupLimitThreshold", "4096")
    // replicas of older test data carry TIMESTAMP(NANOS) columns
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}
