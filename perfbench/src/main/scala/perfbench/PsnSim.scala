package perfbench

import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.psn.{GameTitleRaw, PsnClient, TrophySummary}

/** Sizes of one simulated PSN library. */
final case class LibraryShape(
    titles: Int,      // library size at Bootstrap
    playsMin: Int,    // titles played per day: uniform in [playsMin, playsMax]
    playsMax: Int,
    newPerDay: Double // expected new titles per day (fractional = probability)
)

object LibraryShape {
  /** One user: ~1 000 titles, 1–5 played a day, a new title every ~3 days. */
  val user = LibraryShape(1000, 1, 5, 1.0 / 3)
}

/** A seeded PSN library that evolves day by day, plus the ground truth the
  * pipeline's tables must match. Everything it produces is a function of
  * the seed: titles, names, timestamps, play counts and the ISO-8601
  * duration strings' spelling. */
final class PsnSim(seed: Long, shape: LibraryShape) {
  import PsnSim._

  private val rnd = new java.util.SplittableRandom(seed)

  private final class Title(val num: Int, val prefix: String, val name: String,
      val category: String, val firstMs: Long) {
    var lastMs: Long = firstMs
    var playCount: Long = 0
    var seconds: Long = 0
    var style: Int = 0
    def id: String = f"$num%07d" + KeyFmt.format(Instant.ofEpochMilli(firstMs))
  }

  private val lib = mutable.ArrayBuffer.empty[Title]
  private val usedNums = mutable.HashSet.empty[Int]
  private var day = 0
  private var trophies = TrophySummary(rnd.nextInt(500).toLong,
    rnd.nextInt(150).toLong, rnd.nextInt(40).toLong, rnd.nextInt(5).toLong)

  // Ground truth accumulated as days are generated.
  private var deltaRows = 0L
  private var deltaCountSum = 0L
  private var deltaSecondsSum = 0L
  private val perDay = mutable.ArrayBuffer.empty[(Long, Long)] // (new, deltas)

  private def freshTitle(atMs: Long): Title = {
    var n = 0
    do n = 1000000 + rnd.nextInt(8999999) while (!usedNums.add(n))
    val t = new Title(n, Prefixes(rnd.nextInt(Prefixes.length)),
      s"${Words(rnd.nextInt(Words.length))} ${Words(rnd.nextInt(Words.length))} ${rnd.nextInt(100)}",
      Categories(rnd.nextInt(Categories.length)), atMs)
    t.playCount = 1 + rnd.nextInt(200)
    t.seconds = t.playCount * (300 + rnd.nextInt(7200))
    t.lastMs = atMs + rnd.nextLong(DayMs)
    t.style = rnd.nextInt(4)
    t
  }

  locally {
    (0 until shape.titles).foreach { _ =>
      lib += freshTitle(Epoch - (1 + rnd.nextInt(3000)) * DayMs + rnd.nextLong(DayMs))
    }
  }

  /** Advance one day: some titles are played, some are new. Returns the
    * logical bytes of the records that changed (the user bytes the day
    * ingests): string lengths plus 8 bytes per number or timestamp. */
  def nextDay(): Long = {
    day += 1
    val dayMs = Epoch + day * DayMs
    val existing = lib.length
    val plays = shape.playsMin + rnd.nextInt(shape.playsMax - shape.playsMin + 1)
    val chosen = mutable.HashSet.empty[Int]
    while (chosen.size < math.min(plays, existing)) chosen += rnd.nextInt(existing)
    chosen.foreach { i =>
      val t = lib(i)
      val inc = 1 + rnd.nextInt(3)
      val secs = 60 + rnd.nextInt(7200)
      t.playCount += inc
      t.seconds += secs
      t.lastMs = dayMs + rnd.nextLong(DayMs)
      t.style = rnd.nextInt(4)
      deltaRows += 1
      deltaCountSum += inc
      deltaSecondsSum += secs
    }
    val whole = shape.newPerDay.toInt
    val nNew = whole + (if (rnd.nextDouble() < shape.newPerDay - whole) 1 else 0)
    (0 until nNew).foreach(_ => lib += freshTitle(dayMs))
    trophies = trophies.copy(bronze = trophies.bronze + rnd.nextInt(4),
      silver = trophies.silver + rnd.nextInt(2))
    perDay += ((nNew.toLong, chosen.size.toLong))
    val changed = chosen.toSeq.map(lib(_)) ++ lib.takeRight(nNew)
    changed.map(t => record(t)).map(r => r.title_id.length + r.name.length +
      r.image_url.length + r.category.length + r.play_duration.length + 24L).sum + 40L
  }

  /** The API records as the PSN client would page them today. */
  def records(): Seq[GameTitleRaw] = lib.toSeq.map(record)

  private def record(t: Title): GameTitleRaw =
    GameTitleRaw(s"${t.prefix}_${t.num}", t.name, s"https://img.psn/${t.num}.png",
      t.category, new Timestamp(t.firstMs), new Timestamp(t.lastMs),
      t.playCount, isoDuration(t.seconds, t.style))

  def trophySummary: TrophySummary = trophies

  def days: Int = day
  def expectedPerDay: Seq[(Long, Long)] = perDay.toSeq
  def expectedDeltaRows: Long = deltaRows
  def expectedDeltaCountSum: Long = deltaCountSum
  def expectedDeltaSecondsSum: Long = deltaSecondsSum
  def expectedSnapshotRows: Long = day + 1L // Bootstrap + one per day
  /** id -> play_count, the game table's expected content. */
  def expectedGames: Map[String, Long] = lib.map(t => t.id -> t.playCount).toMap
}

object PsnSim {
  val DayMs: Long = 86400000L
  val Epoch: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val KeyFmt = DateTimeFormatter.ofPattern("ddHHyyyyMM").withZone(ZoneOffset.UTC)
  private val Prefixes = Array("CUSA", "PPSA", "NPUB")
  private val Categories = Array("ps4_game", "ps5_native_game", "pspc_game")
  private val Words = Array("Alpha", "Beta", "Gamma", "Delta", "Quest", "Racer",
    "Souls", "Legends", "Tactics", "Horizon", "Echo", "Drift", "Saga", "Rogue")

  /** Seconds as an ISO-8601 duration in one of four spellings the parser
    * must accept: all parts, zero parts dropped, minutes and seconds, or
    * seconds only. */
  def isoDuration(total: Long, style: Int): String = {
    val h = total / 3600; val m = (total % 3600) / 60; val s = total % 60
    style match {
      case 0 => s"PT${h}H${m}M${s}S"
      case 1 =>
        val parts = Seq(h -> "H", m -> "M", s -> "S").filter(_._1 > 0)
        if (parts.isEmpty) "PT0S" else parts.map { case (v, u) => s"$v$u" }.mkString("PT", "", "")
      case 2 => s"PT${total / 60}M${s}S"
      case _ => s"PT${total}S"
    }
  }
}

/** The benchmark's in-process PSN client. Each fetch returns the library
  * as it stood at the last `refresh()` (called between days, outside the
  * timed call); time spent inside the client is recorded so the harness's
  * own cost stays visible. */
final class SimClient(sim: PsnSim) extends PsnClient {
  @volatile var fetchNanos: Long = 0L
  private var today: Seq[GameTitleRaw] = Seq.empty
  def refresh(): Unit = today = sim.records()
  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally fetchNanos += System.nanoTime() - t0
  }
  override def profileTrophies(): TrophySummary = timed(sim.trophySummary)
  override def titleStats(): Seq[GameTitleRaw] = timed(today)
  override def titleCount(): Int = timed(today.size)
}
