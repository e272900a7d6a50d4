package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark runs inside a block: jobs started (a SparkListener) and
  * query executions finished (a QueryExecutionListener — one per
  * user-visible action or write command, never for broadcast or
  * schema-inference jobs). Listener delivery is asynchronous, so the block
  * is bracketed by two marked sentinel actions; each listener counts only
  * the events it receives between its own two sentinels, because a
  * listener sees events in posting order. */
object SparkCounts {

  /** `operators` names every physical operator the counted successful
    * executions ran: AQE's final plans, query stages, subqueries, reused exchanges
    * and a command's own plan included. */
  final case class Counts(jobs: Int, executions: Int, operators: Set[String])

  /** `p` and every operator below it, as the executed plan ran it. */
  private def operators(p: SparkPlan): Seq[String] = p.nodeName +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => Seq(r.child)
    case o => o.children ++ o.subqueries
  }).flatMap(operators)

  /** Counts events between the `start` and `end` sentinels it is shown. */
  private final class Window(start: String, end: String) {
    private var open = false
    private var n = 0
    private var ops = Set.empty[String]
    val closed = new CountDownLatch(1)
    def see(marker: Option[String], plan: Option[SparkPlan] = None): Unit = synchronized {
      marker match {
        case Some(`start`) => open = true
        case Some(`end`) => open = false; closed.countDown()
        case _ => if (open) { n += 1; ops ++= plan.toSeq.flatMap(operators) }
      }
    }
    def count: Int = synchronized(n)
    def operatorsSeen: Set[String] = synchronized(ops)
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
        execs.see(qe.analyzed.output.map(_.name).find(sentinels), Some(qe.executedPlan))
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
      Counts(jobs.count, execs.count, execs.operatorsSeen)
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
  }
}
