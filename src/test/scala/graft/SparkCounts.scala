package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark runs inside a block: jobs started (a SparkListener) and
  * query executions finished (a QueryExecutionListener — one per
  * user-visible action or write command, never for broadcast or
  * schema-inference jobs). Listener delivery is asynchronous, so the block
  * is bracketed by two marked sentinel actions; each listener counts only
  * the events it receives between its own two sentinels, because a
  * listener sees events in posting order. */
object SparkCounts {

  final case class Counts(jobs: Int, executions: Int)

  /** Counts events between the `start` and `end` sentinels it is shown. */
  private final class Window(start: String, end: String) {
    private var open = false
    private var n = 0
    val closed = new CountDownLatch(1)
    def see(marker: Option[String]): Unit = synchronized {
      marker match {
        case Some(`start`) => open = true
        case Some(`end`) => open = false; closed.countDown()
        case _ => if (open) n += 1
      }
    }
    def count: Int = synchronized(n)
  }

  def of(spark: SparkSession)(body: => Unit): Counts = {
    val start = s"sentinel_start_${System.nanoTime}"
    val end = s"sentinel_end_${System.nanoTime}"
    val sentinels = Set(start, end)
    val jobs = new Window(start, end)
    val execs = new Window(start, end)
    val jl = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.see(
        Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(sentinels))
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.see(qe.analyzed.output.map(_.name).find(sentinels))
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = execs.see(None)
    }
    def sentinel(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.range(1).toDF(name).collect()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      sentinel(start)
      body
      sentinel(end)
      Seq(jobs, execs).foreach(w => assert(
        w.closed.await(60, TimeUnit.SECONDS), "sentinel never delivered"))
      Counts(jobs.count, execs.count)
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
  }
}
