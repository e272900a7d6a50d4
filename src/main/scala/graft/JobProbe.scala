package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Action-level profiler: `runMain graft.JobProbe <queryName> [sfDir]`
  * runs a registry query once warm, then once instrumented, printing per
  * Spark job its wall time, stage count, task count, and the first line
  * of its call site — the tool that answers "which ACTION is this
  * multi-action query spending its wall on" (Lloyd-round counts,
  * broadcast materializations, the final sink), which formatted plans
  * cannot show. */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    def exec(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    exec() // warm: classloading, codegen, parquet footers
    spark.catalog.clearCache()

    case class J(desc: String, start: Long,
        var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap[Int, J]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.long")))
            .map(_.linesIterator.take(2).mkString(" | ")))
          .getOrElse("?")
        jobs.synchronized {
          jobs(e.jobId) =
            J(desc.linesIterator.next(), e.time, stages = e.stageIds.size)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          jobs.values.lastOption.foreach(_.tasks += 1) // approximate owner
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    exec()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(200) // drain listener bus
    println(f"== $name: $wall%.2f s total, ${jobs.size} jobs ==")
    jobs.synchronized {
      jobs.foreach { case (id, j) =>
        val dt = if (j.end > 0) (j.end - j.start) / 1e3 else Double.NaN
        println(f"job $id%3d  $dt%7.3f s  stages=${j.stages}%-3d " +
          f"tasks~${j.tasks}%-4d ${j.desc.take(90)}")
      }
    }
    spark.stop()
  }
}
