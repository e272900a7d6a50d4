package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-overhead profiler: `runMain graft.StreamProbe <query> [sfDir]`
  * runs a registry query once warm, then once with a StreamingQueryListener
  * attached, printing each micro-batch's durationMs breakdown (triggerExecution,
  * queryPlanning, walCommit, commitOffsets, addBatch, getBatch,
  * latestOffset) and state-operator commit times — the tool that answers
  * "which part of the per-batch FIXED cost is the wall going to", which
  * JobProbe (job-level) cannot see because most of it is between jobs. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    def exec(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    exec() // warm
    spark.catalog.clearCache()

    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        val keys = Seq("triggerExecution", "queryPlanning", "walCommit",
          "commitOffsets", "addBatch", "getBatch", "latestOffset",
          "getOffset", "setOffsetRange", "commitBatch")
        val parts = keys.flatMap(k => Option(d.get(k)).map(v => s"$k=$v"))
        lines.add(s"batch=${p.batchId} rows=${p.numInputRows} " +
          parts.mkString(" "))
        p.stateOperators.foreach { so =>
          lines.add(f"  state op=${so.operatorName} updMs=" +
            f"${so.allUpdatesTimeMs} rmMs=${so.allRemovalsTimeMs} " +
            f"commitMs=${so.commitTimeMs} rowsTotal=${so.numRowsTotal} " +
            f"mem=${so.memoryUsedBytes} custom=${so.customMetrics}")
        }
      }
    }
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    exec()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(400) // drain listener bus
    spark.streams.removeListener(listener)
    println(f"== $name: $wall%.2f s total (warm, instrumented) ==")
    lines.forEach(l => println(l))
    spark.stop()
  }
}
