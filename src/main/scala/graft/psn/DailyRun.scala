package graft.psn

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Orchestrators mirroring the reference's two entry points.
  *
  * [[Bootstrap]] = load_data_first.py (one-shot backfill; with the line-147
  * wrong-table bug fixed: the game table is written to the game table, not
  * the trophy table — documented in SURVEY §3.2).
  *
  * [[DailyRun]] = main.py:296-368 as one pass over the day's snapshot. ONE
  * `collect` reads both sides of the classification (the ingested
  * snapshot, already driver-local, unioned with the stored games' three
  * columns: [[Ops.sides]]), which [[Ops.classify]] then runs on the
  * driver; the rows kept (new and changed games) give the counts for the
  * `len>0` branch (main.py:350) and every write's input as a driver-local
  * partition. Then at most ONE `game` commit (merge-upsert plus new-game
  * insert as one version, the upsert a projection keyed by the day's
  * update ids: [[Ops.mergeKeyed]]; an append on a new-games-only day;
  * nothing on an unchanged day). Every append is a commit of its own (one
  * marker; the version it replaces keeps its files unchanged). No step
  * plans a join, so the day
  * runs four Spark jobs and pins no broadcast page. Facts come before the
  * dimension: the `time_play` append is the `game` commit's publish gate,
  * so it runs beside the `game` staging write and must succeed before
  * `game` publishes; a failed append leaves `game` unmerged, so a rerun
  * recomputes the same deltas. The trophy append (another table) overlaps
  * the whole chain.
  */
object Bootstrap {
  def run(spark: SparkSession, client: PsnClient, store: TableStore): Unit = {
    store.overwrite("trophee", Ingest.trophySnapshot(spark, client))
    store.overwrite("game", Ingest.gameTitles(spark, client))
  }
}

object DailyRun {

  /** Returns (newGames, deltas) row counts for observability (the reference
    * prints them, main.py:187,236). */
  def run(spark: SparkSession, client: PsnClient,
      store: TableStore): (Long, Long) = {
    // 1-2, 4. ingest trophies + games on the driver (S1, S2 + cleanup)
    val trophies = Ingest.trophySnapshot(spark, client)
    val current = Ingest.gameTitles(spark, client)
    // 5. scan history with projection pushdown (S3: the 3 columns read)
    val stored = store.read("game").select("id", "play_count", "play_duration")
    // P3: a write reads the new games and the positive play_count deltas
    def kept(r: Row): Boolean = r.getAs[Boolean]("is_new") ||
      Option(r.getAs[java.lang.Long]("play_count_diff")).exists(_ > 0)
    def gameChain(): (Long, Long) = {
      // 6-7. classify once (J1+J2+E1+P3) on the driver, from ONE collect of
      // both sides, keeping only what a write reads
      val both = Ops.sides(current, stored)
      // the day's one action before its writes
      val deltasAndNew = Ops.classify(both.schema, both.collect().toSeq).filter(kept)
      val (newRows, changed) = deltasAndNew.partition(_.getAs[Boolean]("is_new"))
      // each frame a write reads is driver-local and coalesced to one
      // partition: one task and one file
      val schema = Ops.classified(both.schema)
      val fresh = spark.createDataFrame(newRows.asJava, schema)
        .select(current.columns.map(col).toSeq: _*).coalesce(1)
      if (changed.nonEmpty) {
        // stamped once on the driver (main.py:203): an expression re-evaluates per action
        val deltas = spark.createDataFrame(changed.asJava, schema).select(col("id"),
          col("play_count_diff"), col("play_duration_diff"), lit(java.sql.Timestamp.valueOf(
            java.time.LocalDate.now().atStartOfDay())).as("date")).coalesce(1)
        // K2 runs beside the `game` staging write and lands before `game` publishes
        val appendFacts = () => store.append("time_play", deltas)
        // K4 + K1: f re-derives every row from the pinned base, so a
        // reapplied commit upserts against the new head
        val upsert = (t: DataFrame) => Ops.mergeKeyed(t, changed).unionByName(fresh)
        store.mergeWith("game", publishGate = Some(appendFacts))(upsert)
      } else if (newRows.nonEmpty) store.append("game", fresh) // K1
      (newRows.size.toLong, changed.size.toLong)
    }
    // 8. the trophy append (K1) overlaps the game chain: independent tables
    graft.ops.Par.concurrently(2)(Seq(
      () => { store.append("trophee", trophies); (0L, 0L) },
      () => gameChain())).last
  }
}
