package graft.psn

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's relational pipeline as pure `DataFrame => DataFrame`
  * stages (SURVEY §7.1 module 4). Null semantics: semi/anti joins, never
  * IN/NOT IN, matching pandas isin behavior on null keys (SURVEY §7.4).
  *
  * Scale notes: all three stages key on `id` — at 100 TB the stored game
  * table is bucketed on id so these joins co-locate without a shuffle. At
  * one user's scale [[classify]] executes as `BroadcastHashJoin LeftOuter
  * BuildRight`: a left outer join can only build its right side, so the
  * broadcast is the stored table, not the (smaller) current ingest.
  */
object Ops {

  /** New-game detection: left-anti join on id (J2/P5; main.py:176). */
  def newGames(current: DataFrame, stored: DataFrame): DataFrame =
    current.join(stored.select(col("id")), Seq("id"), "left_anti")

  /** Snapshot classification (J1+J2+E1; main.py:176,193-207): `current`
    * LEFT JOIN `stored` on id, one row per current game, with `is_new`
    * (no stored row — the anti-join side) and the play_count/play_duration
    * diffs against the stored row (null when new). New games, positive
    * deltas (P3) and the rows to upsert (J3) are filters of this one frame. */
  def classify(current: DataFrame, stored: DataFrame): DataFrame =
    current.join(stored.select(col("id"), lit(true).as("known"), col("play_count").as("old_count"),
      col("play_duration").as("old_duration")), Seq("id"), "left")
      .select(current.columns.map(col).toSeq ++ Seq(col("known").isNull.as("is_new"),
        (col("play_count") - col("old_count")).as("play_count_diff"),
        (col("play_duration") - col("old_duration")).as("play_duration_diff")): _*)

  /** Merge-upsert plan (K4; main.py:256-287 UPDATE…FROM): target rows take
    * the update's last_played/play_count/play_duration where ids match —
    * the reference updates exactly those 3 columns (main.py:276-279). */
  def mergeUpdates(target: DataFrame, updates: DataFrame): DataFrame = {
    val u = updates.select(col("id"),
      col("last_played_date_time").as("u_last_played"),
      col("play_count").as("u_play_count"),
      col("play_duration").as("u_play_duration"))
    target.join(u, Seq("id"), "left")
      .select(
        col("id"), col("title_id"), col("title_name"), col("image"),
        col("category"), col("first_played_date_time"),
        coalesce(col("u_last_played"), col("last_played_date_time"))
          .as("last_played_date_time"),
        coalesce(col("u_play_count"), col("play_count")).as("play_count"),
        coalesce(col("u_play_duration"), col("play_duration"))
          .as("play_duration"))
  }
}
