package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs, reached from inside Spark's
  * package because both are `private[spark]`/`private[sql]`. */
object Internals {

  /** Block until every event posted so far has reached every listener,
    * so spans read after an operation see all of its jobs. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Plan-phase durations (analysis, optimization, planning) in ms of the
    * SQL execution that just ended; empty when Spark attached no plan. */
  def planPhasesMs(end: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(end.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
      .getOrElse(Map.empty)
}
