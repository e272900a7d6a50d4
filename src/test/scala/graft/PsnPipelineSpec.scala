package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.psn._

/** End-to-end test of the reference pipeline semantics (SURVEY §3.1/§3.2):
  * bootstrap → daily run with changes → idempotent re-run. Exercises S1/S2
  * ingestion, E2-E8 cleanup, J1-J3 joins, K1-K5 sinks and the main.py:350
  * conditional branch against a temp parquet warehouse. */
class PsnPipelineSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val day1 = FakePsnClient.default

  /** Day 2: Beta Racer played 3 more times (+2h), one brand-new game. */
  private val day2 = new FakePsnClient(
    TrophySummary(121, 45, 12, 2),
    day1.titleStats().map {
      case g if g.title_id == "CUSA_00002" =>
        g.copy(play_count = 10, play_duration = "PT14H5M30S",
          last_played_date_time = ts("2024-08-01 12:00:00"))
      case g => g
    } :+ GameTitleRaw("CUSA_99999", "Delta Farm", "http://img/9", "ps4_game",
      ts("2024-07-15 09:00:00"), ts("2024-08-01 20:00:00"), 1, "PT2H"))

  test("bootstrap + daily run: new games, deltas, merge-upsert, idempotence") {
    val wh = Files.createTempDirectory("psn_wh").toString
    val store = new TableStore(spark, wh)

    Bootstrap.run(spark, day1, store)
    assert(store.read("game").count() == 3)
    assert(store.read("trophee").count() == 1)

    // surrogate key fidelity: last7 of stripped id ++ ddHHyyyyMM
    val id2 = store.read("game")
      .filter(col("title_id") === "CUSA00002").select("id")
      .head.getString(0)
    assert(id2 == "SA000020210202106")
    // ISO duration → seconds (E8)
    val dur2 = store.read("game")
      .filter(col("title_id") === "CUSA00002").select("play_duration")
      .head.getDouble(0)
    assert(dur2 == 12 * 3600 + 5 * 60 + 30.0)

    val (nNew, nDeltas) = DailyRun.run(spark, day2, store)
    assert(nNew == 1 && nDeltas == 1)

    val game = store.read("game")
    assert(game.count() == 4)
    // merge-upsert applied the 3 updated columns for the changed game only
    val updated = game.filter(col("title_id") === "CUSA00002").head
    assert(updated.getAs[Long]("play_count") == 10)
    assert(updated.getAs[Double]("play_duration") ==
      14 * 3600 + 5 * 60 + 30.0)
    assert(updated.getAs[Timestamp]("last_played_date_time") ==
      ts("2024-08-01 12:00:00"))
    val untouched = game.filter(col("title_id") === "CUSA00001").head
    assert(untouched.getAs[Long]("play_count") == 42)

    // delta fact: play_count_diff 3, play_duration_diff 7200s — read back
    // through the typed schema (TimePlayDelta is the table's contract)
    {
      import spark.implicits._
      val tp = store.read("time_play").as[TimePlayDelta].head()
      assert(tp.play_count_diff == 3)
      assert(tp.play_duration_diff == 7200.0)
      val ts = store.read("trophee").as[TrophySnapshot].collect()
      assert(ts.forall(_.bronze >= 120))
    }

    // idempotence: same inputs again → no new games, no deltas (P3 >0)
    val (n2, d2) = DailyRun.run(spark, day2, store)
    assert(n2 == 0 && d2 == 0)
    assert(store.read("game").count() == 4)
    assert(store.read("time_play").count() == 1)
    assert(store.read("trophee").count() == 3) // one snapshot per run
  }

  /** `base` with some titles' play counts (and hours) set, plus `extra`. */
  private def next(base: PsnClient, plays: Map[String, Long],
      extra: GameTitleRaw*): FakePsnClient =
    new FakePsnClient(base.profileTrophies(), base.titleStats().map { g =>
      plays.get(g.title_id).fold(g)(n =>
        g.copy(play_count = n, play_duration = s"PT${n}H"))
    } ++ extra)

  private def newTitle(titleId: String) = GameTitleRaw(titleId, titleId,
    "http://img/x", "ps5_native_game", ts("2024-07-01 10:00:00"),
    ts("2024-08-02 10:00:00"), 1, "PT1H")

  /** Every file under `wh/table` with its size: a write of any kind —
    * new version, commit marker — changes it. */
  private def listing(wh: String, table: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(wh, table)
    if (!Files.exists(root)) Map.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally w.close()
    }
  }

  private def headDir(store: TableStore, table: String) =
    s"v${store.versions(table).max}/"

  test("DailyRun write shape: one game commit on a changed day, one " +
    "append commit on a new-games-only day, nothing on an unchanged day") {
    val wh = Files.createTempDirectory("psn_shape").toString
    val store = new TableStore(spark, wh)
    Bootstrap.run(spark, day1, store)

    // new + changed games: exactly one new game version (one commit
    // marker), and the previous version's files are left as they were
    val before = listing(wh, "game")
    val v0 = headDir(store, "game")
    assert(DailyRun.run(spark, day2, store) == ((1L, 1L)))
    val after = listing(wh, "game")
    val markers = (after.keySet -- before.keySet).filter(_.startsWith("_commit."))
    assert(markers.size == 1, markers)
    assert(headDir(store, "game") != v0)
    assert(after.filter(_._1.startsWith(v0)) == before.filter(_._1.startsWith(v0)),
      "no in-place append into the previous game version")
    assert(store.read("game").count() == 4)

    // new games only: the append is one commit too — exactly one new game
    // marker, and the previous version's files are left as they were
    val day3 = next(day2, Map.empty, newTitle("CUSA_77777"))
    val v1 = headDir(store, "game")
    val before3 = listing(wh, "game")
    assert(DailyRun.run(spark, day3, store) == ((1L, 0L)))
    val after3 = listing(wh, "game")
    val markers3 = (after3.keySet -- before3.keySet).filter(_.startsWith("_commit."))
    assert(markers3.size == 1, markers3)
    assert(headDir(store, "game") != v1)
    assert(after3.filter(_._1.startsWith(v1)) == before3.filter(_._1.startsWith(v1)),
      "the append left the previous game version's files as they were")
    assert(store.readVersion("game", v1.stripPrefix("v").stripSuffix("/").toInt)
      .count() == 4)
    assert(store.read("game").count() == 5)

    // unchanged: neither game nor time_play is written
    val (g, tp) = (listing(wh, "game"), listing(wh, "time_play"))
    assert(DailyRun.run(spark, day3, store) == ((0L, 0L)))
    assert(listing(wh, "game") == g && listing(wh, "time_play") == tp)

    // a steady-state changed day: trophy append, the one collect that reads
    // both sides of the classification, the fact append and the game
    // commit — at most 4 actions and 4 jobs, and no broadcast in any plan
    val day4 = next(day3, Map("CUSA_00001" -> 50L))
    var got = (0L, 0L)
    val c = SparkCounts.of(spark) { got = DailyRun.run(spark, day4, store) }
    assert(got == ((0L, 1L)))
    assert(c.executions <= 4, s"steady-state day ran ${c.executions} actions")
    assert(c.jobs <= 4, s"steady-state day ran ${c.jobs} jobs")
    assert(!c.operators.exists(_.contains("Broadcast")),
      s"steady-state day planned a broadcast: ${c.operators}")
    assert(store.read("game").filter(col("title_id") === "CUSA00001")
      .head.getAs[Long]("play_count") == 50)
  }

  test("a failed fact append leaves game unmerged; the rerun lands the " +
    "day's deltas exactly once") {
    val wh = Files.createTempDirectory("psn_rerun").toString
    val store = new TableStore(spark, wh)
    Bootstrap.run(spark, day1, store)
    DailyRun.run(spark, day2, store) // time_play: Beta Racer +3 plays
    store.addConstraint("time_play", "small_diffs", "play_count_diff < 4")

    // Beta Racer +5 plays (violates the constraint) and one new game
    val day3 = next(day2, Map("CUSA_00002" -> 15L), newTitle("CUSA_55555"))
    val head0 = store.versions("game").max
    val e = intercept[Exception](DailyRun.run(spark, day3, store))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("small_diffs")), e)
    assert(store.versions("game").max == head0, "game must not commit")
    assert(store.read("game").count() == 4)
    assert(store.read("time_play").count() == 1)

    // The rerun recomputes the same classification against the unmerged
    // game table. Trophy snapshots are at-least-once, not asserted here:
    // the failed run's snapshot append overlaps the game chain and may
    // have landed, so the rerun can add a second snapshot for the day
    // (exactly-once for the whole day is the one-transaction day run).
    store.dropConstraint("time_play", "small_diffs")
    assert(DailyRun.run(spark, day3, store) == ((1L, 1L)))
    val tp = store.read("time_play")
    assert(tp.count() == 2)
    assert(tp.filter(col("play_count_diff") === 5).count() == 1)
    val game = store.read("game")
    assert(game.count() == 5)
    assert(game.filter(col("title_id") === "CUSA00002")
      .head.getAs[Long]("play_count") == 15)
  }

  test("newGames ∪ (current ⋉ stored) partitions current (SURVEY §5d)") {
    val current = Ingest.gameTitles(spark, day2)
    val stored = Ingest.gameTitles(spark, day1)
    val fresh = Ops.newGames(current, stored)
    val known = current.join(stored.select("id"), Seq("id"), "left_semi")
    assert(fresh.count() + known.count() == current.count())
  }

  /** The classification as a join, evaluated by Spark: `current` LEFT JOIN
    * `stored` on id, with `is_new` and the two diffs. [[Ops.classify]]
    * must give the same rows from ONE collect of both sides. */
  private def classifyByJoin(current: DataFrame, stored: DataFrame): DataFrame =
    current.join(stored.select(col("id"), lit(true).as("known"),
      col("play_count").as("old_count"), col("play_duration").as("old_duration")),
      Seq("id"), "left")
      .select(current.columns.map(col).toSeq ++ Seq(col("known").isNull.as("is_new"),
        (col("play_count") - col("old_count")).as("play_count_diff"),
        (col("play_duration") - col("old_duration")).as("play_duration_diff")): _*)

  private def classifyOnDriver(current: DataFrame, stored: DataFrame): Seq[Row] = {
    val both = Ops.sides(current, stored)
    Ops.classify(both.schema, both.collect().toSeq)
  }

  /** Rows as value lists, in id order (then by value text), for comparing
    * two plans' results as multisets. */
  private def canon(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).sortBy(r => (String.valueOf(r.head), r.mkString("|")))

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(61L + i)))

  private def raw(n: Int, count: Long, duration: String) = GameTitleRaw(
    f"CUSA_$n%05d", s"title $n", s"http://img/$n", "ps5_native_game",
    ts("2024-07-01 10:00:00"), ts("2024-08-02 10:00:00"), count, duration)

  /** One generated day: the stored library and today's snapshot of it. A
    * stored title is played (a positive, zero or negative play_count diff),
    * unchanged, or missing from today's snapshot; today adds new titles;
    * either side may carry a null ISO duration. */
  private val genDay: Gen[(Seq[GameTitleRaw], Seq[GameTitleRaw])] = for {
    stored <- Gen.choose(0, 8)
    fresh <- Gen.choose(0, 3)
    olds <- Gen.listOfN(stored, for {
      count <- Gen.choose(0L, 50L)
      hours <- Gen.option(Gen.choose(0, 99))
      fate <- Gen.oneOf("unchanged", "played", "missing")
      diff <- Gen.choose(-3L, 5L)
      todayHours <- Gen.option(Gen.choose(0, 99))
    } yield (count, hours, fate, diff, todayHours))
  } yield {
    def iso(h: Option[Int]) = h.map(x => s"PT${x}H").orNull
    val before = olds.zipWithIndex.map { case ((count, h, _, _, _), i) => raw(i, count, iso(h)) }
    val today = olds.zipWithIndex.flatMap {
      case ((_, _, "missing", _, _), _) => None
      case ((_, _, "unchanged", _, _), i) => Some(before(i))
      case ((count, _, _, diff, h), i) => Some(raw(i, count + diff, iso(h)))
    } ++ (0 until fresh).map(j => raw(100 + j, 1L + j, if (j == 1) null else "PT1H"))
    (before, today)
  }

  test("driver classification equals current LEFT JOIN stored on generated days") {
    val trophies = day1.profileTrophies()
    val days = sample(genDay, 24)
    assert(days.exists(_._2.exists(_.play_duration == null)), "a null duration")
    assert(days.exists { case (b, t) => b.exists(g => !t.exists(_.title_id == g.title_id)) },
      "a stored id missing from today")
    var diffs = Set.empty[Long]
    days.foreach { case (before, today) =>
      val stored = Ingest.gameTitles(spark, new FakePsnClient(trophies, before))
        .select("id", "play_count", "play_duration")
      val current = Ingest.gameTitles(spark, new FakePsnClient(trophies, today))
      val got = classifyOnDriver(current, stored)
      val want = classifyByJoin(current, stored).collect().toSeq
      assert(canon(got) == canon(want), (before, today))
      assert(got.headOption.forall(_.schema.fieldNames.toSeq ==
        classifyByJoin(current, stored).columns.toSeq))
      diffs ++= got.flatMap(r => Option(r.getAs[java.lang.Long]("play_count_diff")).map(_.toLong))
    }
    assert(diffs.exists(_ > 0) && diffs(0L) && diffs.exists(_ < 0), diffs)

    // a play_count diff that overflows a long fails on both sides (ANSI)
    val big = Ingest.gameTitles(spark, new FakePsnClient(trophies, Seq(raw(1, Long.MaxValue, "PT1H"))))
    val low = Ingest.gameTitles(spark, new FakePsnClient(trophies, Seq(raw(1, -1L, "PT1H"))))
      .select("id", "play_count", "play_duration")
    intercept[ArithmeticException](classifyOnDriver(big, low))
    val e = intercept[Exception](classifyByJoin(big, low).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }

  test("the keyed upsert equals the join upsert for 0, 1 and many updates") {
    val trophies = day1.profileTrophies()
    val base = Ingest.gameTitles(spark, new FakePsnClient(trophies,
      (0 until 30).map(i => raw(i, i.toLong, s"PT${i}H"))))
    val schema = base.schema
    def titles(gs: Seq[GameTitleRaw]): Seq[Row] =
      Ingest.gameTitles(spark, new FakePsnClient(trophies, gs)).collect().toSeq
    // played again; one with a null duration (the target keeps its own);
    // one id the base lacks (ignored, as the left join ignores it)
    val played = titles((0 until 12).map(i => raw(i * 2, 100L + i,
      if (i == 3) null else s"PT${100 + i}H")) :+ raw(999, 7L, "PT7H"))
    for (updates <- Seq(Seq.empty[Row], played.take(1), played)) {
      val keyed = Ops.mergeKeyed(base, updates)
      val joined = Ops.mergeUpdates(base, spark.createDataFrame(updates.asJava, schema))
      assert(keyed.schema == joined.schema)
      assert(canon(keyed.collect().toSeq) == canon(joined.collect().toSeq), updates.size)
      val plan = keyed.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Broadcast"), plan)
    }
    val after = Ops.mergeKeyed(base, played).filter(col("title_id") === "CUSA00006").head
    assert(after.getAs[Long]("play_count") == 103L)
    assert(after.getAs[Double]("play_duration") == 6 * 3600.0)
    // update ids are a key: a repeated one fails rather than repeat a row
    intercept[Exception](Ops.mergeKeyed(base, played :+ played.head).collect())
  }

  test("typed Dataset surface + PlayStats Aggregator") {
    val games = psn.Typed.gameTitles(spark, day1)
    val stats = psn.Typed.playStats(games)
    assert(stats.titles == 3)
    assert(stats.totalPlays == 42 + 7 + 133)
    assert(stats.maxPlays == 133)
    assert(stats.totalSeconds ==
      (100 * 3600 + 30 * 60) + (12 * 3600 + 5 * 60 + 30) + 340 * 3600.0)
  }

  test("trophy snapshot is one wide row with a date stamp (E11+E9)") {
    val t = Ingest.trophySnapshot(spark, day1)
    assert(t.columns.toSeq ==
      Seq("bronze", "silver", "gold", "platinum", "date"))
    assert(t.count() == 1)
    assert(t.head.getAs[Long]("bronze") == 120)
  }
}
