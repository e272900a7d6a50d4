package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.psn.TableStore

/** A benchmark workload: set-up before anything is timed, a fresh state for
  * a second (traced) pass, and one measured pass. */
trait Workload {
  def prepare(): Unit
  def reset(): Unit
  def pass(heap: HeapWatch, tracer: Option[Tracer]): Main.PassOut
}

object Workload {

  def apply(name: String, spark: SparkSession, a: Main.Args, cores: Int): Workload = name match {
    // `--seconds` warm days of ~1.2 s (4 cores) after the ~6 days whose
    // JIT warm-up makes them slower, so that the median day is a warm one.
    case "daily_user" => new DailyWorkload(spark, a, cores, LibraryShape.user,
      days = a.seconds + 6)
    case "registry" => new RegistryWorkload(spark, a, cores, Lists.ordered(a.seed))
  }

  // ------------------------------------------------------------- disk usage

  /** Bytes of every regular file under `root`. */
  def diskBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Directories directly under `root` that hold TableStore tables (a child
    * with a commit marker or a head pointer). */
  def warehousesUnder(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Seq.empty
    else Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).filter { w =>
      Files.list(w).iterator().asScala.filter(Files.isDirectory(_)).exists { t =>
        Files.list(t).iterator().asScala.exists { f =>
          val n = f.getFileName.toString
          n == "_current" || n.startsWith("_commit.")
        }
      }
    }.toSeq.sortBy(_.toString)

  /** Space amplification of a set of warehouses: bytes on disk divided by
    * the bytes of their current tables written once with plain
    * `df.write.parquet`. */
  def spaceAmp(spark: SparkSession, warehouses: Seq[Path], plainDir: Path): Double = {
    var disk = 0L
    var plain = 0L
    warehouses.zipWithIndex.foreach { case (w, i) =>
      val store = new TableStore(spark, w.toString)
      disk += diskBytes(w)
      store.tables().foreach { t =>
        val out = plainDir.resolve(s"$i-$t")
        try {
          store.read(t).write.parquet(out.toString)
          plain += diskBytes(out)
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] space_amp: cannot rewrite $w/$t: ${e.getMessage}")
        }
      }
    }
    if (Files.exists(plainDir))
      Files.walk(plainDir).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists)
    if (plain > 0) disk.toDouble / plain else 0.0
  }

  /** Mean data files per table in the current versions of `warehouses`. */
  def liveFilesPerTable(spark: SparkSession, warehouses: Seq[Path]): Double = {
    val counts = warehouses.flatMap { w =>
      val store = new TableStore(spark, w.toString)
      store.tables().flatMap(t => try Some(store.fileCount(t)) catch { case _: Exception => None })
    }
    if (counts.isEmpty) 0.0 else counts.sum.toDouble / counts.size
  }

  /** Files and bytes that appeared between two listings, and commits made
    * (growth of each table's highest commit-log sequence). */
  final case class StoreDelta(files: Long, bytes: Long, commits: Long)

  def storeDelta(before: Map[String, Daily.FileInfo], after: Map[String, Daily.FileInfo]): StoreDelta = {
    val fresh = after.filter { case (k, _) => !before.contains(k) }
    val b = Daily.commitSeqs(before)
    val a = Daily.commitSeqs(after)
    StoreDelta(fresh.count { case (k, _) => Daily.isDataFile(k) }, fresh.values.map(_.size).sum,
      a.map { case (t, s) => (s - b.getOrElse(t, 0)).toLong }.sum)
  }
}

/** `daily_user`: Bootstrap, then `days` calls of `DailyRun.run`. */
final class DailyWorkload(spark: SparkSession, a: Main.Args, cores: Int,
    shape: LibraryShape, days: Int) extends Workload {
  private var n = 0
  private var p: Daily.Pass = _

  private def fresh(): Unit = {
    p = new Daily.Pass(spark, a.root.resolve(s"wh-$n"), a.seed, shape)
    n += 1
    p.bootstrap()
  }

  // No separate warm-up: a scheduled daily job starts cold, so the cold
  // Bootstrap is set-up time and the first days carry the JIT transition.
  override def prepare(): Unit = fresh()

  override def reset(): Unit = fresh()

  override def pass(heap: HeapWatch, tracer: Option[Tracer]): Main.PassOut = {
    heap.reset()
    val deltas = mutable.ArrayBuffer.empty[Workload.StoreDelta]
    val fetch = mutable.ArrayBuffer.empty[Double]
    var before = tracer.map(_ => Daily.listing(p.warehouse)).getOrElse(Map.empty)
    (1 to days).foreach { d =>
      val f0 = p.client.fetchNanos
      tracer match {
        case None => p.day()
        case Some(tr) =>
          p.day(body => tr.span(s"day$d", "day")(body))
          val after = Daily.listing(p.warehouse)
          deltas += Workload.storeDelta(before, after)
          before = after
      }
      fetch += (p.client.fetchNanos - f0) / 1e9
      heap.sample()
    }
    val walls = p.dayWall.takeRight(days).toSeq
    val heapMb = heap.liveMb
    val badTables = p.check()
    val amp = Workload.spaceAmp(spark, Seq(p.warehouse), a.root.resolve("plain"))
    val layers = tracer.map { tr =>
      val spans = tr.spans.filter(_.group == "day").toSeq
      val byLine = Daily.stageByLine(DailySource.lines)
      val perDay = spans.map(sp => Daily.stageSeconds(tr, sp, byLine))
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val stages = (Metrics.psnStages :+ "other").map { st =>
        s"psn.${st}_s" -> mean(perDay.map(_.getOrElse(st, 0.0)))
      }
      val other = mean(spans.zip(perDay).map { case (sp, m) => sp.wallS - m.values.sum })
      val userBytes = p.userBytes.takeRight(days).sum
      val written = deltas.map(_.bytes).sum
      val counters = tr.sparkCounters(spans, cores).map { case (k, v) =>
        k -> (if (Set("spark.core_util", "spark.storage_peak_mb")(k)) v else v / days)
      }
      (stages ++ Seq(
        "psn.driver_other_s" -> other,
        "psn.day_mean_s" -> mean(spans.map(_.wallS)),
        "client.fetch_s" -> mean(fetch.toSeq),
        "store.commits" -> deltas.map(_.commits).sum.toDouble / days,
        "store.files_written" -> deltas.map(_.files).sum.toDouble / days,
        "store.bytes_written" -> written.toDouble / days,
        "store.write_amp" -> (if (userBytes > 0) written.toDouble / userBytes else 0.0),
        "store.live_files" -> Workload.liveFilesPerTable(spark, Seq(p.warehouse)))).toMap ++
        counters
    }.getOrElse(Map.empty)
    Main.PassOut(days + Daily.Tables.size, p.failed + badTables.size,
      (1 to days).map(d => s"day$d"), walls, walls.sum, heapMb, amp, layers)
  }
}

/** `DailyRun.scala` as shipped in the checkout the benchmark builds from:
  * the tracer maps job call sites (file:line) to pipeline steps by the
  * statement on that line. */
object DailySource {
  lazy val lines: Seq[String] = {
    val p = Paths.get("src/main/scala/graft/psn/DailyRun.scala")
    if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq else Seq.empty
  }
}

/** `registry`: one sweep over a fixed query list in the given order. */
final class RegistryWorkload(spark: SparkSession, a: Main.Args, cores: Int,
    names: Seq[String]) extends Workload {
  private val queries = names.map(Queries.byKey)
  private val expected = Expected.load(a.expected)
  private var n = 0
  private def tmp: Path = Paths.get(System.getProperty("java.io.tmpdir"))
  private var indexRoot: Path = _
  // A distinct spelling of the data path per pass: artifact memos are
  // keyed by corpus path, so each pass starts from a cold artifact store.
  private var dataDir: String = a.data

  private def fresh(): Unit = {
    indexRoot = Files.createDirectories(a.root.resolve(s"indexes-$n"))
    spark.conf.set("spark.graft.indexDir", indexRoot.toString)
    dataDir = if (n == 0) a.data else a.data + "/" + Seq.fill(n)(".").mkString("/")
    n += 1
  }

  // No warm-up query: one costs 4–10 s here and leaves most of the cold
  // start on whichever statement runs first; the sweep starts cold, as a
  // fresh session does.
  override def prepare(): Unit = fresh()

  override def reset(): Unit = fresh()

  override def pass(heap: HeapWatch, tracer: Option[Tracer]): Main.PassOut = {
    heap.reset()
    val run = new RegistryRun(spark, queries, dataDir, expected)
    val deltas = mutable.ArrayBuffer.empty[Workload.StoreDelta]
    val artDeltas = mutable.ArrayBuffer.empty[Workload.StoreDelta]
    val tmpBefore = Workload.warehousesUnder(tmp).toSet
    tracer match {
      case None => run.sweep(between = () => heap.sample())
      case Some(tr) =>
        var lt = Daily.listing(tmp)
        var li = Daily.listing(indexRoot)
        run.sweep((name, body) => tr.span(name, Queries.moduleOf(name))(body), () => {
          heap.sample()
          val lt2 = Daily.listing(tmp); val li2 = Daily.listing(indexRoot)
          deltas += Workload.storeDelta(lt, lt2); artDeltas += Workload.storeDelta(li, li2)
          lt = lt2; li = li2
        })
    }
    val heapMb = heap.liveMb
    // Store statements leave their warehouses in the temp dir; read
    // queries leave artifact warehouses under the index root.
    val whs = Workload.warehousesUnder(tmp).filterNot(tmpBefore) ++
      Workload.warehousesUnder(indexRoot)
    val amp = Workload.spaceAmp(spark, whs, a.root.resolve("plain"))
    val layers = tracer.map { tr =>
      val spans = tr.spans.filter(s => run.wall.contains(s.name)).toSeq
      val modules = Metrics.modules.map { m =>
        s"$m.s" -> run.wall.collect { case (q, w) if Queries.moduleOf(q) == m => w }.sum
      }.toMap
      (modules ++ tr.sparkCounters(spans, cores) ++ Map(
        "store.commits" -> deltas.map(_.commits).sum.toDouble,
        "store.files_written" -> deltas.map(_.files).sum.toDouble,
        "store.bytes_written" -> deltas.map(_.bytes).sum.toDouble,
        "store.live_files" -> Workload.liveFilesPerTable(spark, whs),
        "artifacts.tables_built" -> RegistryRun.artifactTables(indexRoot).toDouble,
        "artifacts.bytes_written" -> artDeltas.map(_.bytes).sum.toDouble))
    }.getOrElse(Map.empty)
    Main.PassOut(queries.size, run.bad.size, run.wall.keys.toSeq, run.wall.values.toSeq, run.sweepSeconds,
      heapMb, amp, layers)
  }
}
