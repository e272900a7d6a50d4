package graft.psn

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Orchestrators mirroring the reference's two entry points.
  *
  * [[Bootstrap]] = load_data_first.py (one-shot backfill; with the line-147
  * wrong-table bug fixed: the game table is written to the game table, not
  * the trophy table — documented in SURVEY §3.2).
  *
  * [[DailyRun]] = main.py:296-368 as one pass over the day's snapshot. ONE
  * `collect` of the classification ([[Ops.classify]], filtered to new and
  * changed games, so never more rows than the ingest the driver already
  * holds) gives the counts for the `len>0` branch (main.py:350) and the
  * rows every write reads back as one driver-local partition. Then at most
  * ONE `game` commit (merge-upsert plus new-game insert as one version; an
  * in-place append on a new-games-only day; nothing on an unchanged day).
  * Facts come before the dimension: the `time_play` append is the `game`
  * commit's publish gate, so it runs beside the `game` staging write and
  * must succeed before `game` publishes; a failed append leaves `game`
  * unmerged, so a rerun recomputes the same deltas. The trophy append
  * (another table) overlaps the whole chain.
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
    val isNew = col("is_new")
    def gameChain(): (Long, Long) = {
      // 6-7. classify once (J1+J2+E1+P3), keeping only what a write reads
      val day = Ops.classify(current, stored).filter(isNew || col("play_count_diff") > 0)
      val deltasAndNew = day.collect().toSeq // the day's one action before its writes
      val nNew = deltasAndNew.count(_.getAs[Boolean]("is_new")).toLong
      val nDeltas = deltasAndNew.size - nNew
      // the rows come back as a driver-local frame; each frame a write
      // reads is coalesced to one partition: one task and one file
      val local = spark.createDataFrame(deltasAndNew.asJava, day.schema)
      val fresh = local.filter(isNew).select(current.columns.map(col).toSeq: _*).coalesce(1)
      if (nDeltas > 0) {
        // stamped once on the driver (main.py:203): an expression re-evaluates per action
        val deltas = local.filter(!isNew).select(col("id"), col("play_count_diff"),
          col("play_duration_diff"), lit(java.sql.Timestamp.valueOf(
            java.time.LocalDate.now().atStartOfDay())).as("date")).coalesce(1)
        // K2 runs beside the `game` staging write and lands before `game` publishes
        val appendFacts = () => store.append("time_play", deltas)
        val toUpdate = local.filter(!isNew) // J3
        val upsert = (t: DataFrame) => Ops.mergeUpdates(t, toUpdate).unionByName(fresh) // K4 + K1
        store.mergeWith("game", publishGate = Some(appendFacts))(upsert)
      } else if (nNew > 0) store.append("game", fresh) // K1
      (nNew, nDeltas)
    }
    // 8. the trophy append (K1) overlaps the game chain: independent tables
    graft.ops.Par.concurrently(2)(Seq(
      () => { store.append("trophee", trophies); (0L, 0L) },
      () => gameChain())).last
  }
}
