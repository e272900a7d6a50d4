package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: `local[cpus]` with the settings the
  * repository's own Bench main uses, and every on-disk location (local
  * dirs, artifact root, SQL warehouse) inside the run's private root. */
object Session {

  def local(cpus: Int, root: Path): SparkSession = {
    def sub(name: String): String =
      Files.createDirectories(root.resolve(name)).toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.graft.indexDir", sub("indexes"))
      .config("spark.local.dir", sub("spark-local"))
      .config("spark.sql.warehouse.dir", sub("spark-warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
