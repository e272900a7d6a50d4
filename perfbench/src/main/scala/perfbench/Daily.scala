package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.psn.{Bootstrap, DailyRun, TableStore}

/** The daily workload: Bootstrap once, then simulated days of
  * `DailyRun.run` against a seeded in-process PSN client. */
object Daily {

  val Tables: Seq[String] = Seq("game", "time_play", "trophee")

  /** One pass: a fresh warehouse, a fresh library from `seed`, Bootstrap,
    * then `days` calls of `DailyRun.run`. */
  final class Pass(spark: SparkSession, val warehouse: Path, seed: Long,
      shape: LibraryShape) {
    val sim = new PsnSim(seed, shape)
    val client = new SimClient(sim)
    val store = new TableStore(spark, warehouse.toString)
    val dayWall = mutable.ArrayBuffer.empty[Double]
    /** Logical bytes of the records that changed each day (user bytes). */
    val userBytes = mutable.ArrayBuffer.empty[Long]
    var failed = 0

    def bootstrap(): Unit = {
      client.refresh()
      Bootstrap.run(spark, client, store)
    }

    /** One simulated day, run inside `run` (a trace span or nothing). A day
      * fails when the call throws or its (new games, deltas) counts differ
      * from the generator's. */
    def day(run: (=> Unit) => Unit = body => body): Unit = {
      val changed = sim.nextDay()
      userBytes += changed
      client.refresh()
      val want = sim.expectedPerDay.last
      var got: Either[Throwable, (Long, Long)] = Left(null)
      val t0 = System.nanoTime()
      run { got = try Right(DailyRun.run(spark, client, store)) catch { case e: Throwable => Left(e) } }
      dayWall += (System.nanoTime() - t0) / 1e9
      if (got != Right(want)) {
        failed += 1
        System.err.println(s"[perfbench] day ${sim.days}: expected $want, got $got")
      }
    }

    /** Ground-truth checks of the final tables: game ids and play counts,
      * delta row count and sums, and the snapshot row count. Returns the
      * names of the checks that failed. */
    def check(): Seq[String] = {
      val bad = mutable.ArrayBuffer.empty[String]
      def guard(name: String)(ok: => Boolean): Unit =
        if (!(try ok catch { case e: Throwable =>
          System.err.println(s"[perfbench] check $name threw: $e"); false })) bad += name
      guard("game") {
        val rows = store.read("game").select("id", "play_count").collect()
          .map(r => r.getString(0) -> r.getLong(1))
        rows.length == sim.expectedGames.size && rows.toMap == sim.expectedGames
      }
      guard("time_play") {
        val r = store.read("time_play")
          .agg(count(lit(1)), sum("play_count_diff"), sum("play_duration_diff")).head()
        r.getLong(0) == sim.expectedDeltaRows && r.getLong(1) == sim.expectedDeltaCountSum &&
          r.getDouble(2) == sim.expectedDeltaSecondsSum.toDouble
      }
      guard("trophee")(store.read("trophee").count() == sim.expectedSnapshotRows)
      bad.foreach(n => System.err.println(s"[perfbench] table check failed: $n"))
      bad.toSeq
    }
  }

  // ------------------------------------------------------------------ tracing

  /** Stage of each `DailyRun.scala` source line, from the statement on it:
    * the call site of a Spark job names the DailyRun line that triggered
    * it, and the line's text names the pipeline step. */
  def stageByLine(source: Seq[String]): Map[Int, String] = {
    val rules: Seq[(Regex, String)] = Seq(
      "\"time_play\"".r -> "append",
      "merge|gamesNeedingUpdate|toUpdate".r -> "merge",
      "newGames|fresh".r -> "new_games",
      "deltas|playTimeDeltas".r -> "deltas",
      "trophee|Ingest\\.|current|stored".r -> "ingest")
    source.zipWithIndex.flatMap { case (text, i) =>
      val code = text.takeWhile(_ != '/').trim
      rules.collectFirst { case (re, st) if re.findFirstIn(code).isDefined => (i + 1) -> st }
    }.toMap
  }

  private val DailyFrame = "DailyRun\\.scala:(\\d+)".r

  def stageOf(callSite: String, byLine: Map[Int, String]): String =
    DailyFrame.findFirstMatchIn(callSite)
      .flatMap(m => byLine.get(m.group(1).toInt)).getOrElse("other")

  /** Per-day stage seconds from the tracer: each SQL action (from the start
    * of its planning to its end) and each job outside any SQL action is an
    * interval credited to the stage its call site names. */
  def stageSeconds(tr: Tracer, span: Span, byLine: Map[Int, String]): Map[String, Double] = {
    val acts = tr.actionsIn(span).map(a => stageOf(a.callSite, byLine) -> (a.startMs - a.planMs, a.endMs))
    val loose = tr.jobsIn(span).filter(_.execId.isEmpty)
      .map(j => stageOf(j.callSite, byLine) -> (j.startMs, j.endMs))
    (acts ++ loose).groupBy(_._1).map { case (st, iv) => st -> Intervals.unionSeconds(iv.map(_._2)) }
  }

  // ------------------------------------------------------------ store listing

  /** A listed file: its size and the directory holding it, relative to
    * the listed root (a commit marker's directory is its table). */
  final case class FileInfo(size: Long, table: String)

  /** Every regular file under `warehouse`, by relative path. */
  def listing(warehouse: Path): Map[String, FileInfo] =
    if (!Files.isDirectory(warehouse)) Map.empty
    else {
      val s = Files.walk(warehouse)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val rel = warehouse.relativize(p)
        rel.toString -> FileInfo(Files.size(p), Option(rel.getParent).map(_.toString).getOrElse(""))
      }.toMap
      finally s.close()
    }

  private val CommitMarker = "_commit\\.(\\d+)".r

  /** Highest commit-log sequence per table: it only grows, so the
    * difference between two listings counts the commits between them
    * even after GC has swept old markers. */
  def commitSeqs(l: Map[String, FileInfo]): Map[String, Int] =
    l.toSeq.flatMap { case (rel, f) =>
      CommitMarker.unapplySeq(rel.split('/').last).map(g => f.table -> g.head.toInt)
    }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).max }

  def isDataFile(rel: String): Boolean = rel.endsWith(".parquet")
}
