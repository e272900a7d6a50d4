package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals

/** The live heap after each operation: [[sample]] forces a full GC
  * between operations, outside any timed window, and keeps the heap in use
  * right after it, from that GC's notification. What an operation leaves
  * behind (caches, persisted blocks, metadata) is in it; the dead data a
  * minor GC would have promoted is not. `reset()` starts a new window. */
final class HeapWatch extends NotificationListener {
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Long]
  @volatile private var majors = 0L
  @volatile private var lastUsed = 0L
  // Only heap pools: the non-heap ones (Metaspace, code cache) grow with
  // class loading and JIT, not with the data a run holds.
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcAction == "end of major GC") {
        lastUsed = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        majors += 1
      }
    }

  /** A full GC now; keeps the heap in use after it once its notification
    * has arrived (waits at most 2 s). */
  def sample(): Unit = {
    val seen = majors
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (majors == seen && System.nanoTime() < deadline) Thread.sleep(2)
    if (majors != seen) samples += lastUsed
  }

  def reset(): Unit = samples.clear()

  /** Median of the samples since `reset()`, MB. */
  def liveMb: Double = Stats.median(samples.toSeq.map(_ / (1024.0 * 1024.0)))

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(this) catch { case _: Exception => () })

  /** Total GC time so far across collectors, seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** One timed interval the benchmark opened around a call into the program
  * (a simulated day, a registry query). Times are epoch milliseconds, the
  * clock Spark stamps its listener events with. */
final case class Span(name: String, group: String, startMs: Long, endMs: Long,
    wallS: Double, gcS: Double, storagePeakBytes: Long)

/** Spark-side events the tracer keeps, attributed to spans afterwards. */
final case class SqlAction(id: Long, root: Long, callSite: String,
    startMs: Long, endMs: Long, planMs: Long)
final case class JobRec(id: Int, execId: Option[Long], callSite: String,
    startMs: Long, endMs: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, tasks: Int, runMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long)

/** The traced run's listener: SQL executions (with plan-phase times from
  * their query execution), jobs with call sites, completed stages with task
  * metrics, and storage-memory use from block updates. Spans are kept in
  * memory and resolved when the run ends. */
final class Tracer(spark: SparkSession, heap: HeapWatch) extends SparkListener {
  private val starts = mutable.Map.empty[Long, SparkListenerSQLExecutionStart]
  private val actions = mutable.ArrayBuffer.empty[SqlAction]
  private val jobStarts = mutable.Map.empty[Int, SparkListenerJobStart]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val blocks = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  spark.sparkContext.addSparkListener(this)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart => starts(s.executionId) = s
      case e: SparkListenerSQLExecutionEnd =>
        starts.remove(e.executionId).foreach { s =>
          val phases = Internals.planPhasesMs(e)
          actions += SqlAction(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
            s.details, s.time, e.time,
            phases.getOrElse("optimization", 0L) + phases.getOrElse("planning", 0L))
        }
      case _ => ()
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobStarts(j.jobId) = j
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(j.jobId).foreach { s =>
      val exec = Option(s.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = s.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      jobs += JobRec(j.jobId, exec, site, s.time, j.time, s.stageIds)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) = if (m == null) StageRec(i.stageId, i.numTasks, 0, 0, 0, 0)
    else StageRec(i.stageId, i.numTasks, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = synchronized {
    val id = b.blockUpdatedInfo.blockId.name
    val mem = b.blockUpdatedInfo.memSize
    storageNow += mem - blocks.getOrElse(id, 0L)
    if (mem > 0) blocks(id) = mem else blocks.remove(id)
    if (storageNow > storagePeak) storagePeak = storageNow
  }

  /** Run `body` as one span. The bus is drained on both sides so the
    * span's storage peak covers exactly its own block updates. */
  def span[T](name: String, group: String)(body: => T): T = {
    Internals.drainListenerBus(spark)
    synchronized { storagePeak = storageNow }
    val gc0 = heap.gcSeconds
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      Internals.drainListenerBus(spark)
      val peak: Long = synchronized { storagePeak }
      spans += Span(name, group, ms0, ms1, wall, heap.gcSeconds - gc0, peak)
    }
  }

  def close(): Unit = {
    Internals.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(this)
  }

  private def within(sp: Span, ms: Long): Boolean = ms >= sp.startMs && ms <= sp.endMs

  /** Root SQL actions (one per user-visible action) that started in the span. */
  def actionsIn(sp: Span): Seq[SqlAction] = synchronized {
    actions.filter(a => a.id == a.root && within(sp, a.startMs)).toSeq
  }

  def jobsIn(sp: Span): Seq[JobRec] = synchronized {
    jobs.filter(j => within(sp, j.startMs)).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  /** Spark execution counters over a set of spans. */
  def sparkCounters(sps: Seq[Span], cores: Int): Map[String, Double] = {
    val acts = sps.flatMap(actionsIn)
    val js = sps.flatMap(jobsIn)
    val st = stagesOf(js)
    val wall = sps.map(_.wallS).sum
    val execS = Intervals.unionSeconds(acts.map(a => (a.startMs, a.endMs)))
    val runS = st.map(_.runMs).sum / 1000.0
    Map(
      "spark.actions" -> acts.size.toDouble,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks.toLong).sum.toDouble,
      "spark.plan_s" -> acts.map(_.planMs).sum / 1000.0,
      "spark.exec_s" -> execS,
      "spark.core_util" -> (if (wall > 0) runS / (wall * cores) else 0.0),
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "spark.storage_peak_mb" ->
        (if (sps.isEmpty) 0.0 else sps.map(_.storagePeakBytes).max / (1024.0 * 1024.0)),
      "jvm.gc_s" -> sps.map(_.gcS).sum)
  }
}

object Intervals {
  /** Seconds covered by the union of [start, end] millisecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}
