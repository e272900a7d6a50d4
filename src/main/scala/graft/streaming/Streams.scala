package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.8). The reference is a daily
  * cron batch whose incremental state lives in sink tables; elevated to
  * Spark streams the same semantics become: parquet `readStream` (or a
  * rate-limited source) → watermarked windowed aggregation → managed keyed
  * state replacing the read-back-and-join (main.py:153-207).
  *
  * These plans are the streaming twins of graft.ext.EventOps — identical
  * logical aggregation, different execution mode. Tests drive them with
  * the static events table as a one-batch stream.
  */
object Streams {

  /** events.parquet stream schema: `ts` takes whatever physical type the
    * corpus carries (nanos LONG under nanosAsLong, or micros
    * TIMESTAMP_NTZ since the round-6 regeneration) and is normalized to
    * nanos LONG right after the scan — the same contract
    * [[graft.tables.Tables.events]] gives batch consumers. */
  private def eventSchema(ts: org.apache.spark.sql.types.DataType)
      : StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", ts),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scan of the events table with a proper event-time column.
    * A streaming source needs its schema up front, so the physical type
    * of `ts` is sniffed with a one-file batch read (driver-side footer
    * read, no data scan); the batch normalization rules then apply. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val physical =
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    // Shared normalization + guards with the batch reader: the NTZ branch
    // THROWS unless the session timezone is UTC, instead of silently
    // shifting every event-time window by the host offset.
    val tsNanos = graft.tables.Tables.tsNanosExpr(spark, physical)
    spark.readStream
      .schema(eventSchema(physical))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", tsNanos)
      .withColumn("event_ts", timestamp_seconds(expr("ts div 1000000000")))
  }

  /** Tumbling 5-minute windows per event type with a 10-minute watermark —
    * streaming twin of EventOps.s01. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Session windows (30-minute gap) per user — streaming twin of
    * EventOps.s02's gap sessionization. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "30 minutes")
      .groupBy(session_window(col("event_ts"), "30 minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n_events"))

  /** Sliding 10-minute windows with a 5-minute slide — streaming twin of
    * EventOps.s07 (each event lands in two windows; Spark plans the same
    * Expand the batch twin writes explicitly). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup on event_id — the unbounded-input form of t01:
    * state holds ids only until the watermark passes, so memory is bounded
    * by (watermark horizon × arrival rate), not stream length. Handles
    * at-least-once redelivery from upstream sources. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join — purchases within 10 minutes after a
    * click by the same user (streaming twin of the bucketed range join
    * s06). Watermarks on both sides + the time-range predicate let Spark
    * bound the join state: rows age out once the other side's watermark
    * passes their interval. */
  def clickPurchaseJoin(clicks0: DataFrame, purchases0: DataFrame): DataFrame = {
    val clicks = clicks0.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = purchases0.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("event_ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_timestamp(col("purchase_ts")) -
          unix_timestamp(col("click_ts"))).as("gap_sec"))
  }

  /** Streaming merge-upsert sink: each micro-batch upserts into a
    * TableStore table via foreachBatch — the K4 merge sink
    * (main.py:256-287 UPDATE…FROM) driven from a stream. The merge's
    * atomic directory swap runs once per micro-batch, so readers always
    * see a complete table version; because the merge is idempotent on
    * (id → latest snapshot values), at-least-once batch redelivery after
    * checkpoint recovery converges to the same table. */
  def mergeSink(updates: DataFrame, store: graft.psn.TableStore,
      table: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) store.merge(table, batch)
      }
      .start()

  /** Cleaned game snapshots streamed from the DSv2 PSN source — one poll
    * per micro-batch, run through the reference's cleanup chain
    * (psn.Ingest.cleanGameTitles). The streaming head of the end-to-end
    * DailyRun composition. */
  def psnGameSnapshots(spark: SparkSession,
      pageSize: Int = 2): Dataset[graft.psn.GameTitle] = {
    import spark.implicits._
    graft.psn.Ingest.cleanGameTitles(
      spark.readStream.format("graft.sources.PsnSource")
        .option("table", "titles").option("pageSize", pageSize.toString)
        .load())
      .as[graft.psn.GameTitle]
  }

  /** Streaming twin of DailyRun's game-table maintenance (main.py:330-360):
    * per micro-batch, bootstrap on first sight, else append unseen games
    * (K1, the new-game anti-join) then merge-upsert the snapshot (K4,
    * through TableStore's version-pointer commit). A catch-up batch can
    * carry several polls, so the latest snapshot per id wins before the
    * merge (play_count is the recency proxy, as in playDeltas). */
  def gameTableSink(snapshots: Dataset[graft.psn.GameTitle],
      store: graft.psn.TableStore, table: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshots.toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("id"))
            .orderBy(col("play_count").desc, col("play_duration").desc)
          val latest = batch.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          if (!store.exists(table)) store.append(table, latest)
          else {
            val stored = store.read(table)
            // The poll source re-emits the full snapshot every trigger;
            // an unchanged snapshot must NOT rewrite the table (write
            // amplification + needless version churn against readers).
            // Cost of the guard is one join on the game-library
            // cardinality — tiny next to a table rewrite.
            if (!latest.exceptAll(
                stored.select(latest.columns.map(col): _*)).isEmpty) {
              val fresh = graft.psn.Ops.newGames(latest, stored)
              if (!fresh.isEmpty) store.append(table, fresh)
              store.merge(table, latest)
            }
          }
        }
      }
      .start()

  /** Streaming twin of DailyRun's fact append (K2): keyed-state play
    * deltas, stamped once per batch (the reference stamps once per run,
    * main.py:203), appended to the time_play table. */
  def playDeltaSink(spark: SparkSession,
      snapshots: Dataset[graft.psn.GameTitle], store: graft.psn.TableStore,
      table: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    playDeltas(spark, snapshots).toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) store.append(table,
          batch.withColumn("date", lit(java.sql.Timestamp.valueOf(
            java.time.LocalDate.now().atStartOfDay()))))
      }
      .start()

  /** Stream-static join: enrich a live event stream with a static
    * dimension snapshot (the classic fact-stream × dimension shape). The
    * static side re-resolves per micro-batch — at scale it is a broadcast
    * against each batch, no stream state at all (unlike stream-stream
    * joins). */
  def enrichedEvents(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("segment"))

  final case class UserTotal(total: Double)
  final case class UserDelta(user_id: Long, delta: Double, total: Double)

  final case class GameState(play_count: Long, play_duration: Double)
  final case class GameDelta(
      id: String, play_count_diff: Long, play_duration_diff: Double)

  /** The PSN play-time delta pipeline as managed keyed state (SURVEY §2.8):
    * each arriving snapshot of a game's stats diffs against the state and
    * emits only positive play_count deltas — replacing the reference's
    * nightly read-back + inner join + `diff > 0` filter (main.py:153-207)
    * with incremental state. First sighting of a key seeds state silently
    * (the reference's new-game path appends, it doesn't emit a delta). */
  def playDeltas(spark: SparkSession,
      games: Dataset[graft.psn.GameTitle]): Dataset[GameDelta] = {
    import spark.implicits._
    games.groupByKey(_.id)
      .flatMapGroupsWithState[GameState, GameDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: String, rows: Iterator[graft.psn.GameTitle],
         state: GroupState[GameState]) =>
          // within a batch the latest snapshot wins (count is the recency
          // proxy; duration breaks count ties deterministically)
          val latest = rows.maxBy(g => (g.play_count, g.play_duration))
          state.getOption match {
            case Some(prev) if latest.play_count > prev.play_count =>
              state.update(
                GameState(latest.play_count, latest.play_duration))
              Iterator(GameDelta(id,
                latest.play_count - prev.play_count,
                latest.play_duration - prev.play_duration))
            case Some(_) =>
              // stale or duplicate redelivery (at-least-once source):
              // never regress state, or the already-emitted delta would be
              // double-counted on the next genuine snapshot
              Iterator.empty
            case None =>
              state.update(
                GameState(latest.play_count, latest.play_duration))
              Iterator.empty
          }
      }
  }

  /** Keyed incremental state: per-user running value total, emitting only
    * positive deltas — `flatMapGroupsWithState` replacing the reference's
    * snapshot-read + inner-join + `diff > 0` filter (main.py:193-207) with
    * managed state. At scale state is partitioned by key across executors
    * and checkpointed; no history re-scan per run. */
  def valueDeltas(spark: SparkSession, events: DataFrame): Dataset[UserDelta] = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserTotal, UserDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)],
         state: GroupState[UserTotal]) =>
          val prev = state.getOption.map(_.total).getOrElse(0.0)
          val add = rows.map(_._2).sum
          val total = prev + add
          state.update(UserTotal(total))
          if (add > 0) Iterator(UserDelta(uid, add, total))
          else Iterator.empty
      }
  }

  final case class TransEv(
      user_id: Long, sec: Long, event_id: Long, event_type: String)
  final case class LastEv(sec: Long, event_id: Long, event_type: String)
  final case class TransPair(user_id: Long, t1: String, t2: String)

  /** Streaming twin of the s17 Markov transition-count stage: per-user
    * consecutive event-type pairs emitted IN FLIGHT via managed keyed
    * state — the state is ONE row per user (the last event seen), so the
    * batch twin's full per-user sort is replaced by O(users) state and
    * each arrival emits its pair immediately. Downstream, a streaming
    * (t1, t2) count aggregation maintains the live transition matrix the
    * s17 power iteration reads.
    *
    * Ordering contract: within a micro-batch the group's rows sort by
    * (sec, event_id) before pairing; ACROSS batches the source must
    * deliver each user's events in event-time order (true for replayed
    * logs and for any source already partitioned+ordered by time). A
    * deployment on out-of-order input buffers behind a watermark before
    * this stage — the pairing itself is unchanged. */
  def transitionPairs(spark: SparkSession,
      events: Dataset[TransEv]): Dataset[TransPair] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, TransPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TransEv], state: GroupState[LastEv]) =>
          val batch = rows.toSeq.sortBy(e => (e.sec, e.event_id))
          val carried = state.getOption
            .map(l => TransEv(uid, l.sec, l.event_id, l.event_type)).toSeq
          batch.lastOption.foreach(l =>
            state.update(LastEv(l.sec, l.event_id, l.event_type)))
          (carried ++ batch).sliding(2).filter(_.length == 2)
            .map(p => TransPair(uid, p.head.event_type, p(1).event_type))
      }
  }

  /** Streaming twin of TextOps4.t50 — quality-score documents IN FLIGHT
    * (the filter stage of a streaming ingest pipeline). Stateless
    * per-row projection shared verbatim with the batch gate
    * ([[graft.ext.TextOps4.scoreOf]]): no watermark, no state store,
    * append mode — at scale this is pure partition-parallel map over
    * arriving files/micro-batches. */
  def scoredDocuments(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    graft.ext.TextOps4.scoreOf(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir))
  }

  /** Streaming twin of MultimodalOps.m08 — voice-activity-detect audio
    * clips IN FLIGHT (the trim/filter stage of a streaming media ingest).
    * The binary projection and the mapPartitions VAD kernel are shared
    * verbatim with the batch gate ([[graft.ext.MultimodalOps.mediaOf]] /
    * `audioActivityOf`): stateless, no watermark, append mode — the
    * executor-batch decode shape runs unchanged over arriving files. */
  def audioActivityStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    graft.ext.MultimodalOps.audioActivityOf(
      graft.ext.MultimodalOps.mediaOf(
          spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(dir))
        .filter(org.apache.spark.sql.functions.col("kind") === "audio")
        .as[graft.ext.MultimodalOps.MediaRow])
  }

  /** Hash-bucket count for the streaming totals table: user_totals is
    * hive-partitioned on `bucket = pmod(hash(user_id), N)` so a
    * micro-batch's merge rewrites ONLY the buckets its users hash into —
    * untouched buckets' files ride into the new version by name
    * ([[graft.psn.TableStore.mergePartitionedWith]]). 8 here (the gate
    * corpus is small); production sizes N so one bucket ≈ one rewrite
    * task's worth of users. */
  private[graft] val TotalsBuckets = 8

  /** Apply one micro-batch of per-user (n_events, total_value decimal)
    * partials to the bucketed running-totals table — the foreachBatch
    * body of s18/s19, factored out so the spec can drive it directly.
    *
    * Replay idempotence (foreachBatch is at-least-once): every commit is
    * tagged `<appId>:<batchId>` and a batch whose id is ≤ the table's
    * [[graft.psn.TableStore.txnVersion]] watermark is SKIPPED — the Delta
    * `txn` discipline. Additivity alone gives batch-ORDER independence;
    * only the tag check makes a replayed batch (merge committed, process
    * died before the streaming checkpoint committed) a no-op instead of a
    * double count.
    *
    * Scale shape: one bounded collect of ≤ [[TotalsBuckets]] touched
    * bucket ids, then a full-outer merge over ONLY those buckets'
    * partition directories; a single-user batch rewrites one bucket and
    * inherits the rest. */
  private[graft] def applyTotalsBatch(store: graft.psn.TableStore,
      table: String, appId: String, batchAgg: DataFrame,
      batchId: Long): Unit = {
    if (store.txnVersion(table, appId).exists(_ >= batchId)) return
    val tag = Some(s"$appId:$batchId")
    val zero = lit(0).cast(DecimalType(38, 2))
    val agg = batchAgg.withColumn("bucket",
      pmod(hash(col("user_id")), lit(TotalsBuckets)))
    if (!store.exists(table)) store.append(table, agg, Some("bucket"), tag)
    else {
      // bounded by construction: ≤ TotalsBuckets distinct values
      val touched = agg.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      store.mergePartitionedWith(table, "bucket", touched, txnTag = tag) {
        cur =>
          val b = agg.select(col("user_id").as("__b_uid"),
            col("n_events").as("__b_n"), col("total_value").as("__b_v"),
            col("bucket").as("__b_bucket"))
          cur.join(b, cur("user_id") === col("__b_uid"), "full")
            .select(
              coalesce(cur("user_id"), col("__b_uid")).as("user_id"),
              (coalesce(cur("n_events"), lit(0L)) +
                coalesce(col("__b_n"), lit(0L))).as("n_events"),
              (coalesce(cur("total_value"), zero) +
                coalesce(col("__b_v"), zero)).cast(DecimalType(38, 2))
                .as("total_value"),
              coalesce(cur("bucket"), col("__b_bucket")).as("bucket"))
      }
    }
  }

  private def perUserPartials(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(30, 2))).as("total_value"))

  private def readTotals(store: graft.psn.TableStore,
      table: String): DataFrame = {
    import graft.ops.Out._
    store.read(table)
      .select(col("user_id"), col("n_events"),
        col("total_value").cast("double").as("total_value"))
      .sortedSmall("user_id")
  }

  /** Run `body` (a streaming query start + await) with
    * `spark.sql.shuffle.partitions` pinned to `n`, restoring the session
    * value after. Stateful operators allocate ONE state store per
    * shuffle partition per operator and commit every one of them each
    * micro-batch — at the gate corpus (1e5 rows, 4–8 batches) the
    * default 32 partitions spend more wall time on empty state-store
    * commits than on data (measured: s22 19.4 s → state bookkeeping, not
    * the join). 8 partitions is sized to the gate; production sizes this
    * to the cluster — the knob is per-query because Spark pins the state
    * partitioning in the checkpoint at first start. Queries run
    * sequentially through one session, so the set/restore cannot race;
    * results are partition-count independent (everything downstream is
    * re-aggregated or re-sorted). */
  private def withStatePartitions[T](s: SparkSession, n0: Int)(
      body: => T): T = {
    val n = sys.env.get("SPARK_GRAFT_STATE_PARTS")
      .map(_.toInt).getOrElse(n0)
    val key = "spark.sql.shuffle.partitions"
    // AQE off for the whole micro-batch loop: the engine disables it for
    // the stateful plan anyway, but foreachBatch BODIES still pick it up
    // from the session — and on gate-sized per-batch frames AQE only
    // splits every shuffle into extra per-stage jobs (pure driver
    // scheduling overhead, measured ~40-80 ms per job across dozens of
    // tiny jobs per batch), re-plans nothing worth re-planning.
    val aqeKey = "spark.sql.adaptive.enabled"
    val old = s.conf.get(key)
    val oldAqe = s.conf.get(aqeKey)
    s.conf.set(key, n.toString)
    s.conf.set(aqeKey, "false")
    try body finally {
      s.conf.set(key, old); s.conf.set(aqeKey, oldAqe)
    }
  }

  /** s18: the streaming DailyRun shape, ORACLE-GATED end-to-end — the
    * event log is split into four pinned chunks (`event_id % 4`), each
    * replayed as a real micro-batch through MicroBatchExecution (parquet
    * file source, `maxFilesPerTrigger=1`, AvailableNow), and a
    * foreachBatch sink maintains per-user running totals in a
    * [[graft.psn.TableStore]] table via the bucketed partition-pruned
    * merge ([[applyTotalsBatch]]; main.py:153-207's nightly read-back +
    * join, incrementalized). The hash gate proves: micro-batch planner →
    * per-batch partial aggregation → touched-bucket full-outer merge →
    * version-pointer commit → read-back equals the one-shot declarative
    * aggregate the DuckDB oracle computes. The chunking is an arbitrary
    * pinned partition of the log: the merge is additive (commutative +
    * associative) so the final table is independent of batch order, and
    * the per-batch txn tag makes checkpoint-recovery REPLAYS no-ops, so
    * the sink is exactly-once end-to-end.
    *
    * Value totals stay DECIMAL across batches (the [[Exprs.dsum]]
    * discipline, kept exact through the cross-batch additions; cast to
    * double only at read-back) — a double accumulator would drift from
    * the oracle by batch-boundary rounding.
    *
    * Scale shape: per batch, one user-keyed partial aggregation (map-side
    * combine) + one full-outer merge over ONLY the touched hash buckets
    * of the bounded user dimension (untouched buckets are inherited);
    * state lives in the versioned table, not executor memory, so a year
    * of replays holds |users| rows, not |events|, and a quiet batch
    * rewrites almost nothing. */
  def s18StreamMergeReplay(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.tables.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = java.nio.file.Files.createTempDirectory("graft_s18")
    val srcDir = base.resolve("src").toString
    (0 until 4).foreach { c =>
      ev.filter(pmod(col("event_id"), lit(4)) === c)
        .repartition(1) // one file per chunk → one micro-batch per chunk
        .write.mode("append").parquet(srcDir)
    }
    val store = new graft.psn.TableStore(s, base.resolve("wh").toString)
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    withStatePartitions(s, 8) {
      val q = stream.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyTotalsBatch(store, "user_totals", "s18",
            perUserPartials(batch), batchId)
        }
        .start()
      q.awaitTermination()
    }
    readTotals(store, "user_totals")
  }

  val s18Oracle: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** s19: s18 under DISORDER — the same event log replayed as four
    * OVERLAPPING chunks (chunk c = event_id % 4 ∈ {c, c+1 mod 4}: every
    * event is delivered exactly twice, in two different micro-batches),
    * with a watermarked streaming dedup
    * ([[Dataset.dropDuplicatesWithinWatermark]], the `dedupedEvents`
    * path) in front of the same bucketed additive merge sink. The hash
    * gate proves the claim s18 only asserts: the sink's final state is
    * independent of batch ORDER and REDELIVERY, because (a) cross-batch
    * duplicate events are dropped by keyed state before aggregation and
    * (b) the merge itself is additive + txn-tagged. Without the dedup
    * stage every total would exactly double — the gate cannot pass by
    * accident.
    *
    * The watermark delay is data-derived: the full event-time span of
    * the corpus plus an hour, so no event is ever late-dropped and no
    * dedup state expires before its duplicate arrives — the gate must be
    * EXACT. Production sets the delay to the redelivery horizon instead,
    * and state then holds only (horizon × arrival-rate) ids — that
    * trade (bounded state for bounded-lateness exactness) is the
    * documented watermark contract, not a defect.
    *
    * Scale shape: dedup is keyed state sharded by event_id (one shuffle),
    * partials and the bucketed merge are s18's; the doubled input costs
    * one extra pass through the dedup operator, nothing downstream. */
  def s19StreamDisorderReplay(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.tables.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        timestamp_seconds(expr("ts div 1000000000")).as("event_ts"))
    val base = java.nio.file.Files.createTempDirectory("graft_s19")
    val srcDir = base.resolve("src").toString
    // pinned shuffled chunk order — the files land with this mtime order,
    // so the source replays them out of event order as well as overlapped
    Seq(2, 0, 3, 1).foreach { c =>
      ev.filter(pmod(col("event_id"), lit(4)) === c ||
          pmod(col("event_id"), lit(4)) === (c + 1) % 4)
        .repartition(1)
        .write.mode("append").parquet(srcDir)
    }
    val span = ev.agg(
      (unix_timestamp(max(col("event_ts"))) -
        unix_timestamp(min(col("event_ts")))).as("s")).head.getLong(0)
    val store = new graft.psn.TableStore(s, base.resolve("wh").toString)
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withWatermark("event_ts", s"${span + 3600} seconds")
      .dropDuplicatesWithinWatermark("event_id")
    withStatePartitions(s, 8) {
      val q = stream.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyTotalsBatch(store, "user_totals", "s19",
            perUserPartials(batch), batchId)
        }
        .start()
      q.awaitTermination()
    }
    readTotals(store, "user_totals")
  }

  /** s20: STREAM FROM THE STORE — the table-as-a-source direction s18/s19
    * leave uncovered (there the store is the SINK). The event log lands
    * in a store table through five appends, each its own commit; the
    * table's APPEND CHANGE FEED ([[graft.psn.TableStore.enableFeed]]: each
    * committed append's files hard-link into an append-only `_feed/`
    * directory) is consumed
    * by a plain Structured Streaming file source — exactly-once via the
    * source's checkpointed seen-file log, no custom Source needed — into
    * the same bucketed additive totals sink.
    *
    * Mid-stream, BETWEEN appends, the table is COMPACTED: a layout-only
    * commit that rewrites the small files into new inodes. The gate
    * hash-matching the oracle proves the two feed contracts at once:
    * compaction re-feeds NOTHING (totals would inflate or the dedup-free
    * sink would double-count), and the feed's hard links keep already-
    * fed bytes readable even after GC deletes the compacted files (a
    * slow consumer loses nothing to OPTIMIZE — the link count is the
    * retention).
    *
    * Scale shape: feeding is O(appended files) link(2) calls, zero bytes
    * copied; consumption is the file source's incremental listing; the
    * sink is s18's partition-pruned merge. This is the Delta-streaming-
    * source shape (subscribe to a table's appends) built from the
    * store's own layout primitives. */
  def s20StoreFeedStream(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.tables.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = java.nio.file.Files.createTempDirectory("graft_s20")
    val store = new graft.psn.TableStore(s, base.resolve("wh").toString)
    def chunk(c: Int) = ev.filter(pmod(col("event_id"), lit(5)) === c)
      .repartition(1) // one file per append → one micro-batch each
    store.append("ev_log", chunk(0)) // creates the table (v1)
    store.enableFeed("ev_log") // bootstraps the feed with chunk 0
    (1 to 2).foreach(c => store.append("ev_log", chunk(c)))
    // layout-only commit mid-stream: must NOT re-feed a single row
    require(store.compact("ev_log"),
      "compaction lost its CAS race on a fresh private store")
    (3 to 4).foreach(c => store.append("ev_log", chunk(c)))
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(store.feedPath("ev_log"))
    withStatePartitions(s, 8) {
      val q = stream.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyTotalsBatch(store, "user_totals", "s20",
            perUserPartials(batch), batchId)
        }
        .start()
      q.awaitTermination()
    }
    readTotals(store, "user_totals")
  }

  /** s21: WATERMARKED WINDOWED AGGREGATION in APPEND mode — the stateful
    * streaming operator s18–s20 leave ungated: a day-window count + sum
    * per event type that emits a window ONLY when the watermark closes
    * it, replayed from four time-quartile chunks delivered OUT OF ORDER
    * (Q1 before Q0 — bounded lateness of half the corpus span). The
    * delay is derived from the data as span/2 + 3600 s: large enough
    * that the swapped chunk is never late-dropped (the gate must be
    * EXACT), small enough that the closed half of the windows actually
    * emits. The oracle recomputes the same epoch-aligned day buckets
    * declaratively and keeps exactly those with
    * `window_end <= max_ts - delay` — Spark's append-mode eviction rule
    * — so the hash gate proves both watermark contracts at once: nothing
    * below the horizon is dropped, nothing above it is emitted.
    *
    * Scale shape: state is O(open windows × event types) — bounded by
    * the watermark horizon, never the stream length; the file sink only
    * receives FINALIZED rows, so downstream needs no dedup/upsert. */
  def s21WindowedAppend(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val ev = graft.tables.Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        expr("ts div 1000000000").as("sec"))
    val r = ev.agg(min(col("sec")), max(col("sec"))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val span = mx - mn
    val delaySec = span / 2 + 3600
    val base = java.nio.file.Files.createTempDirectory("graft_s21")
    val srcDir = base.resolve("src").toString
    // time-quartile chunks, replayed with ONE bounded swap (1,0,2,3):
    // disorder = maxQ1 - minQ0 ≈ span/2 < delay, so nothing late-drops
    Seq(1, 0, 2, 3).foreach { qt =>
      ev.filter(((col("sec") - mn) * 4 / (span + 1)).cast("int") === qt)
        .repartition(1) // one file per chunk → one micro-batch per chunk
        .write.mode("append").parquet(srcDir)
    }
    val outDir = base.resolve("out").toString
    val agg = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withColumn("event_ts", timestamp_seconds(col("sec")))
      .withWatermark("event_ts", s"$delaySec seconds")
      .groupBy(window(col("event_ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(30, 2))).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n_events"),
        col("total_value").cast("double").as("total_value"))
    withStatePartitions(s, 8) {
      val q = agg.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .start()
      q.awaitTermination()
    }
    s.read.parquet(outDir).sortedSmall("bucket_start", "event_type")
  }

  val s21Oracle: String =
    """WITH e AS (SELECT event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |d AS (SELECT MAX(sec) AS mx,
      |    CAST(FLOOR((MAX(sec) - MIN(sec)) / 2) AS BIGINT) + 3600 AS delay
      |  FROM e)
      |SELECT sec - sec % 86400 AS bucket_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
      |FROM e, d
      |GROUP BY 1, 2, d.mx, d.delay
      |HAVING bucket_start + 86400 <= d.mx - d.delay
      |ORDER BY bucket_start, event_type""".stripMargin

  /** s22: STREAM-STREAM INTERVAL JOIN — two live streams joined with
    * keyed + time-range state, the last stateful operator family the
    * suite leaves ungated: every purchase matched to the same user's
    * clicks within the preceding hour (the streaming twin of s05's
    * batch as-of attribution), both sides replayed from pinned shuffled
    * chunks in DIFFERENT orders, so matches routinely arrive click-first
    * in one batch and purchase-first in another — the buffered-state
    * path, not the lucky same-batch path. Inner join in append mode
    * emits each matched pair EXACTLY ONCE as it becomes joinable; the
    * watermark delay is the corpus span + margin so no pair is ever
    * state-evicted before its partner arrives (the gate must be exact;
    * production sets the delay to the business lateness horizon and
    * state shrinks to horizon × rate — the documented trade, same as
    * s19). The oracle recomputes the interval join declaratively; hash
    * equality proves cross-batch buffering, the range condition, and
    * once-only emission.
    *
    * Scale shape: the join state is keyed on user_id and range-bounded
    * by the time condition — at the production horizon it holds
    * (horizon × arrival rate) rows per side, independent of stream
    * length; the file sink receives only final pairs, and the read-back
    * aggregation is a plain batch plan. */
  def s22StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val ev = graft.tables.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), expr("ts div 1000000000").as("sec"))
    val r = ev.agg(min(col("sec")), max(col("sec"))).head()
    val span = r.getLong(1) - r.getLong(0)
    val base = java.nio.file.Files.createTempDirectory("graft_s22")
    def stage(name: String, etype: String, order: Seq[Int]): String = {
      val d = base.resolve(name).toString
      order.foreach { c =>
        ev.filter(col("event_type") === etype &&
            pmod(col("event_id"), lit(4)) === c)
          .repartition(1) // one file per chunk → one micro-batch each
          .write.mode("append").parquet(d)
      }
      d
    }
    // different pinned orders per side: partners land in different
    // batches in both directions, forcing the buffered-state path
    val clickDir = stage("clicks", "click", Seq(2, 0, 3, 1))
    val purchDir = stage("purch", "purchase", Seq(1, 3, 0, 2))
    // 2 files/trigger = 2 batches/side: the pinned orders still place
    // partners in DIFFERENT batches in both directions (click chunk 2
    // arrives a batch before purchase chunk 2; purchase chunk 1 a batch
    // before click chunk 1), so the buffered-state path stays forced
    // while the fixed per-batch state-store commit cost halves.
    def src(d: String) = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(d)
    val clicks = src(clickDir)
      .select(col("user_id").as("c_user"),
        timestamp_seconds(col("sec")).as("click_ts"))
      .withWatermark("click_ts", s"${span + 3600} seconds")
    val purchases = src(purchDir)
      .select(col("user_id").as("p_user"), col("value"),
        timestamp_seconds(col("sec")).as("purch_ts"))
      .withWatermark("purch_ts", s"${span + 3600} seconds")
    val pairs = clicks.join(purchases,
      expr("c_user = p_user AND " +
        "click_ts BETWEEN purch_ts - INTERVAL 1 HOUR AND purch_ts"))
      .select(col("c_user").as("user_id"), col("value"))
    val outDir = base.resolve("out").toString
    withStatePartitions(s, 8) {
      val q = pairs.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .start()
      q.awaitTermination()
    }
    s.read.parquet(outDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast(DecimalType(30, 2)))
          .cast("double").as("total_value"))
      .sortedSmall("user_id")
  }

  val s22Oracle: String =
    """WITH e AS (SELECT user_id, event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |c AS (SELECT user_id, sec AS csec FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, sec AS psec, value FROM e
      |      WHERE event_type = 'purchase')
      |SELECT c.user_id, COUNT(*) AS n_pairs,
      |  CAST(SUM(CAST(p.value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND c.csec BETWEEN p.psec - 3600 AND p.psec
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  /** s23: SESSION WINDOWS in append mode — data-driven windows (extent
    * decided by the data's own gaps, unlike s21's fixed grid): per-user
    * sessions split on >30-minute inactivity, emitted only when the
    * watermark proves no further event can extend them (a session's
    * window closes at last-event + gap). Same bounded-disorder replay
    * harness as s21 (time quartiles, Q1 before Q0, delay = span/2 +
    * 3600 s). The oracle rebuilds the sessions declaratively — lag +
    * running break-sum, merging iff the gap is AT MOST 30 min (a
    * boundary pinned by data: sf0.1 holds exactly one 1800-s-exact gap,
    * and Spark's session_window merges it — an event extends a session
    * whose end it touches, `event <= start + gap`) — and keeps those with
    * `last_event + gap <= max_ts - delay` (the same eviction horizon
    * s21 pins). Hash equality proves session assembly ACROSS
    * micro-batches: a session whose events span chunks must merge in
    * state before it can emit.
    *
    * Scale shape: state is one open session per (user, gap-run) below
    * the horizon — arrival-rate bounded; emitted sessions leave state
    * forever (append, no rewrites downstream). */
  def s23SessionWindows(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val ev = graft.tables.Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000000000").as("sec"))
    val r = ev.agg(min(col("sec")), max(col("sec"))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val span = mx - mn
    val delaySec = span / 2 + 3600
    val base = java.nio.file.Files.createTempDirectory("graft_s23")
    val srcDir = base.resolve("src").toString
    Seq(1, 0, 2, 3).foreach { qt =>
      ev.filter(((col("sec") - mn) * 4 / (span + 1)).cast("int") === qt)
        .repartition(1)
        .write.mode("append").parquet(srcDir)
    }
    val outDir = base.resolve("out").toString
    val agg = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withColumn("event_ts", timestamp_seconds(col("sec")))
      .withWatermark("event_ts", s"$delaySec seconds")
      .groupBy(session_window(col("event_ts"), "30 minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        (unix_timestamp(col("session_window.end")) - 1800)
          .as("session_last"),
        col("n_events"))
    withStatePartitions(s, 8) {
      val q = agg.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .start()
      q.awaitTermination()
    }
    s.read.parquet(outDir).sortedSmall("user_id", "session_start")
  }

  val s23Oracle: String =
    """WITH e AS (SELECT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |d AS (SELECT MAX(sec) AS mx,
      |    CAST(FLOOR((MAX(sec) - MIN(sec)) / 2) AS BIGINT) + 3600 AS delay
      |  FROM e),
      |o AS (SELECT user_id, sec,
      |    CASE WHEN sec - lag(sec) OVER
      |        (PARTITION BY user_id ORDER BY sec) > 1800
      |      OR lag(sec) OVER (PARTITION BY user_id ORDER BY sec) IS NULL
      |      THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |g AS (SELECT user_id, sec,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)
      |SELECT user_id, MIN(sec) AS session_start, MAX(sec) AS session_last,
      |  COUNT(*) AS n_events
      |FROM g, d
      |GROUP BY user_id, sid, d.mx, d.delay
      |HAVING MAX(sec) + 1800 <= d.mx - d.delay
      |ORDER BY user_id, session_start""".stripMargin

  /** s24: STREAMING INGEST DEDUP WITH A GROWING INDEX — t60's
    * daily-crawl probe turned into the live loop it models: the
    * increment (doc_id % 4 = 0) arrives as four pinned micro-batches;
    * each batch is decided (`exact` / `near` / `new`, the t60 rules:
    * md5 match, or any t06 LSH band-bucket collision) against the
    * store-managed ingest index — which starts as the CORPUS index
    * artifact and GROWS: every batch's ACCEPTED (`new`) documents
    * append their (hash, band-bucket) rows before the next batch
    * probes. So a batch-3 document that near-dups a batch-1 acceptance
    * is caught — the cross-batch self-dedup a stateless per-batch probe
    * silently misses. The oracle unrolls the four stages as CTEs
    * (i0 = corpus; i_{k+1} = i_k ∪ new_k), so the hash gate proves the
    * sequential-ingest semantics, not just one probe.
    *
    * Scale shape: per batch, one shingle pass over the INCREMENT only
    * plus two left-semi joins against the index — and the index side of
    * each probe is PARTITION-PRUNED, not a table scan: both index
    * layouts are hive-bucketed on their probe key (`pbkt =
    * pmod(hash(th), 16)` for the exact probe, `bbkt = pmod(hash(band,
    * bkt), 16)` for the near probe — the s18 totals-sink bucketing
    * discipline), the batch's touched-bucket set is a bounded collect
    * (≤ [[IngestBuckets]] values regardless of batch size), and
    * [[graft.psn.TableStore.readPartitions]] lists ONLY those buckets'
    * files into the scan. So a micro-batch costs O(increment + touched
    * buckets), never O(corpus) — at the 100 TB daily-crawl scale the
    * ingest loop's cost tracks the increment, which is the entire point
    * of keeping an index. Growth is ONE COMPOSITE
    * [[graft.psn.TableStore.append]] per batch (round 14; r13
    * made three): the decision log and both index layouts are row
    * families of a single `sbkt`-partitioned table — exact hashes in
    * [0, B), band buckets in [B, 2B), decisions at 2B — so they land
    * atomically under one `s24:<batchId>` tag. foreachBatch is
    * at-least-once; the txnVersion watermark skips a replayed batch
    * whole, and there is no between-commit crash window left to repair
    * — one commit's worth of fixed cost per batch instead of three. */
  def s24StreamIngestDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    streamIngestOf(s, graft.tables.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars")))
      .sortedWide("doc_id")
  }

  /** The s24 loop over any (doc_id, text, n_chars) frame — public for
    * the spec, which pins the GROWTH semantics on a crafted corpus
    * (a later chunk's copy of an earlier chunk's acceptance must decide
    * `exact`; same-chunk twins both decide `new` — a chunk is judged
    * against the index BEFORE it, exactly like the unrolled oracle). */
  /** Hash-bucket count for BOTH ingest-index layouts: small here (gate
    * corpora are small — more buckets would just multiply the per-commit
    * link and per-probe listing metadata); production sizes it so a
    * bucket's files fit one probe task's worth of index. */
  private[graft] val IngestBuckets = 8

  /** Per-probe (files selected, files total) witnesses from the LAST
    * [[streamIngestOf]] run — two entries per non-empty micro-batch
    * (exact probe, near probe). The spec asserts every post-seed probe
    * reads strictly fewer index files than the table holds. */
  private[graft] val s24ProbeWitness =
    new java.util.concurrent.atomic.AtomicReference[Vector[(Int, Int)]](
      Vector.empty)

  /** Warehouse path of the LAST [[streamIngestOf]] run — CrashRecoverySpec
    * audits the commit chain through it (composite-commit atomicity and
    * the replay-skip watermark). */
  private[graft] val s24LastWarehouse =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  private[graft] def streamIngestOf(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import graft.ext.TextOps
    import graft.functions.Md5Hex.graft_md5
    val base = java.nio.file.Files.createTempDirectory("graft_s24")
    val store = new graft.psn.TableStore(s, base.resolve("wh").toString)
    s24LastWarehouse.set(base.resolve("wh").toString)
    s24ProbeWitness.set(Vector.empty)
    val pbktOf = pmod(hash(col("th")), lit(IngestBuckets))
    val bbktOf = pmod(hash(col("band"), col("bkt")), lit(IngestBuckets))
    def bandsOf(df: DataFrame) = (0 until 2).map(i =>
      df.select(col("doc_id"), lit(i).as("band"),
        col(s"band$i").as("bkt"))).reduce(_ unionByName _)
    // ONE store table, THREE row families told apart by the partition
    // value `sbkt` — exact-hash rows in [0, B), band rows in [B, 2B),
    // the decision log at 2B — so a micro-batch lands decisions AND both
    // index growths in ONE tagged commit (round 13 made three: the
    // dominant fixed cost of the suite's slowest family, and a crash
    // window between the appends that replay had to repair). Each probe
    // still prunes to ITS bucket range; the row families never share a
    // partition directory, so neither probe ever lists the other's files.
    val DecPart = 2 * IngestBuckets
    def exactRows(df: DataFrame) = df
      .select(col("doc_id"), col("th"),
        lit(null).cast("int").as("band"), lit(null).cast("string").as("bkt"),
        lit(null).cast("string").as("decision"), pbktOf.cast("int").as("sbkt"))
    def bandRows(df: DataFrame) = bandsOf(df)
      .select(col("doc_id"), lit(null).cast("string").as("th"),
        col("band").cast("int").as("band"),
        col("bkt").cast("string").as("bkt"),
        lit(null).cast("string").as("decision"),
        (bbktOf + IngestBuckets).cast("int").as("sbkt"))
    def decisionRows(df: DataFrame) = df
      .select(col("doc_id"), lit(null).cast("string").as("th"),
        lit(null).cast("int").as("band"), lit(null).cast("string").as("bkt"),
        col("decision"), lit(DecPart).as("sbkt"))
    // Seed: the corpus index in both probe layouts, one commit. One file
    // per bucket (repartition ON the bucket column): the inheriting
    // commits and probe file lists are O(buckets + appends), never
    // O(shuffle-partitions × buckets) small-file spray. Each layout
    // seeds from ONLY its own pass — md5 for the exact probe, the
    // shingle/minhash signature for the band probe — so the corpus pays
    // the (expensive) shingle pass exactly once.
    val corpusDocs = docs.filter(col("doc_id") % 4 =!= 0)
    store.append("ingest_idx",
      exactRows(corpusDocs
          .select(col("doc_id"), graft_md5(col("text")).as("th")))
        .unionByName(bandRows(TextOps.minhashSigOf(corpusDocs)))
        .repartition(2 * IngestBuckets, col("sbkt")),
      Some("sbkt"))
    val incDocs = docs.filter(col("doc_id") % 4 === 0)
    val srcDir = base.resolve("src").toString
    (0 until 4).foreach { c =>
      incDocs.filter(expr("(doc_id div 4) % 4") === c)
        .repartition(1).write.mode("append").parquet(srcDir)
    }
    val stream = s.readStream.schema(incDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStatePartitions(s, 8) {
      val q = stream.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          {
            val sig = TextOps.minhashSigOf(batch).persist()
            val inc = batch
              .select(col("doc_id"), graft_md5(col("text")).as("th"))
              .persist()
            try {
              // ONE commit per batch ⇒ ONE replay check: a batch whose
              // tagged commit survived a crash is skipped whole — there
              // is no between-commit state for replay to repair.
              val replayed =
                store.txnVersion("ingest_idx", "s24").exists(_ >= batchId)
              val tag = Some(s"s24:$batchId")
              // ONE bounded collect (≤ 2 × IngestBuckets rows, regardless
              // of batch size): both probes' touched-bucket sets in a
              // single job — which doubles as the empty-batch guard.
              val bkts = inc.select(pbktOf.as("b"), lit(0).as("side"))
                .unionByName(bandsOf(sig)
                  .select(bbktOf.as("b"), lit(1).as("side")))
                .distinct().collect()
              if (bkts.nonEmpty && !replayed) {
                val thB = bkts.filter(_.getInt(1) == 0).map(_.getInt(0)).toSeq
                val bandB = bkts.filter(_.getInt(1) == 1)
                  .map(r => r.getInt(0) + IngestBuckets).toSeq
                val idxTh = store.readPartitions("ingest_idx", "sbkt", thB)
                val exactProbe = store.lastPartitionProbe
                val idxBands =
                  store.readPartitions("ingest_idx", "sbkt", bandB)
                s24ProbeWitness.updateAndGet(
                  _ :+ exactProbe :+ store.lastPartitionProbe)
                val exact = inc
                  .join(idxTh.select(col("th")), Seq("th"), "left_semi")
                  .select(col("doc_id")).withColumn("is_exact", lit(true))
                val near = bandsOf(sig)
                  .join(idxBands.select(col("band"), col("bkt")),
                    Seq("band", "bkt"), "left_semi")
                  .select(col("doc_id")).distinct()
                  .withColumn("is_near", lit(true))
                val d = inc.select(col("doc_id"))
                  .join(exact, Seq("doc_id"), "left")
                  .join(near, Seq("doc_id"), "left")
                  .select(col("doc_id"),
                    when(col("is_exact"), "exact")
                      .when(col("is_near"), "near")
                      .otherwise("new").as("decision"))
                  .persist()
                // materialize d on the PARALLEL path before the commit:
                // the composite write below must only read the persisted
                // rows — evaluating the probe joins inside the write
                // tasks would re-run the batch's real work per task
                d.count()
                val acceptedIds = d
                  .filter(col("decision") === "new").select(col("doc_id"))
                // THE composite commit: decision log + both index
                // growths land atomically under one txn tag. Hash-
                // repartition ON the partition column: still exactly one
                // file per touched partition dir (all of an sbkt's rows
                // land in one task), but the ~17 tiny parquet writers +
                // per-file commit renames run across cores instead of
                // serially in one coalesce(1) task (round 15's shape —
                // measured 0.30–0.50 s per batch, the largest single
                // per-batch job of the suite's slowest family).
                store.append("ingest_idx",
                  decisionRows(d)
                    .unionByName(exactRows(
                      inc.join(acceptedIds, Seq("doc_id"), "left_semi")))
                    .unionByName(bandRows(
                      sig.join(acceptedIds, Seq("doc_id"), "left_semi")))
                    .repartition(col("sbkt")),
                  Some("sbkt"), tag)
                d.unpersist(): Unit
              }
            } finally { sig.unpersist(); inc.unpersist() }
          }
        }
        .start()
      q.awaitTermination()
    }
    // the decision log is one partition of the index table — pruned read
    store.readPartitions("ingest_idx", "sbkt", Seq(DecPart))
      .select(col("doc_id"), col("decision"))
  }

  val s24Oracle: String = {
    val stages = (0 until 4).map { k =>
      s"""c$k AS (SELECT doc_id FROM documents
         |  WHERE doc_id % 4 = 0 AND (doc_id // 4) % 4 = $k),
         |e$k AS (SELECT DISTINCT t.doc_id FROM th t
         |  WHERE t.doc_id IN (SELECT doc_id FROM c$k)
         |    AND t.th IN (SELECT th FROM th
         |                 WHERE doc_id IN (SELECT doc_id FROM i$k))),
         |n$k AS (SELECT DISTINCT b.doc_id FROM bands b
         |  WHERE b.doc_id IN (SELECT doc_id FROM c$k)
         |    AND EXISTS (SELECT 1 FROM bands y
         |      WHERE y.doc_id IN (SELECT doc_id FROM i$k)
         |        AND y.band = b.band AND y.bkt = b.bkt)),
         |d$k AS (SELECT c.doc_id,
         |  CASE WHEN c.doc_id IN (SELECT doc_id FROM e$k) THEN 'exact'
         |       WHEN c.doc_id IN (SELECT doc_id FROM n$k) THEN 'near'
         |       ELSE 'new' END AS decision FROM c$k c),
         |i${k + 1} AS (SELECT doc_id FROM i$k UNION ALL
         |  SELECT doc_id FROM d$k WHERE decision = 'new')""".stripMargin
    }.mkString(",\n")
    s"""WITH sig AS (${graft.ext.TextOps.minhashSigSql}),
       |th AS (SELECT doc_id, md5(text) AS th FROM documents),
       |bands AS (SELECT doc_id, 0 AS band, band0 AS bkt FROM sig
       |  UNION ALL SELECT doc_id, 1, band1 FROM sig),
       |i0 AS (SELECT doc_id FROM documents WHERE doc_id % 4 <> 0),
       |$stages
       |SELECT doc_id, decision FROM (
       |  SELECT * FROM d0 UNION ALL SELECT * FROM d1
       |  UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
       |ORDER BY doc_id""".stripMargin
  }

  /** s25: STREAMING MATERIALIZED-VIEW MAINTENANCE — the round's two new
    * subsystems composed: the base table's APPEND CHANGE FEED (s20) is
    * the trigger transport, and each arriving micro-batch drives an
    * INCREMENTAL refresh of an aggregate materialized view (q87) over
    * the base. Five rounds: append a chunk (one commit that inherits the
    * base's files, so the view's file algebra holds — the in-query
    * require pins exactly ONE uncovered file), wait for the feed batch,
    * then require the view's delta is back to ZERO — i.e. the refresh
    * consumed exactly the appended file through the stored-rows +
    * delta-partials combine, never a base rescan. The gate emits the
    * view's content AFTER EVERY ROUND, so the oracle (a per-round
    * prefix aggregation) hash-pins the full maintenance trajectory,
    * not just the final state.
    *
    * Scale shape: each round's refresh costs O(|view| + |append|); the
    * stream adds exactly-once file transport (checkpointed source) —
    * the wiring a production pipeline uses to keep a 100 TB table's
    * rollup fresh without ever re-aggregating the base. */
  def s25StreamMvMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val ev = graft.tables.Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast(DecimalType(30, 2)).as("value"))
    val base = java.nio.file.Files.createTempDirectory("graft_s25")
    val store = new graft.psn.TableStore(s, base.resolve("wh").toString)
    def chunk(c: Int) = ev.filter(pmod(col("event_id"), lit(5)) === c)
      .repartition(1) // one file per append -> one feed batch per round
    store.append("ev_log", chunk(0)) // creates v1
    store.enableFeed("ev_log")
    store.createMaterializedView("totals_mv", "ev_log", Seq("event_type"),
      Seq(graft.psn.MvAgg("n_events", "COUNT", "*"),
        graft.psn.MvAgg("total_value", "SUM", "value"),
        graft.psn.MvAgg("max_id", "MAX", "event_id")))
    val snaps = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, Long, BigDecimal, Long)]
    def snapshot(round: Int): Unit =
      store.readMaterialized("totals_mv").collect().foreach { r =>
        snaps += ((round, r.getString(0), r.getLong(1),
          BigDecimal(r.getDecimal(2)), r.getLong(3)))
      }
    snapshot(0)
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(store.feedPath("ev_log"))
    withStatePartitions(s, 8) {
      val q = stream.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (_: DataFrame, _: Long) =>
          store.refreshMaterializedView("totals_mv")
        }
        .start()
      try {
        q.processAllAvailable() // drain the bootstrap chunk-0 feed file
        (1 to 4).foreach { c =>
          store.append("ev_log", chunk(c))
          require(store.mvDeltaFiles("totals_mv") == 1,
            s"round $c append did not leave exactly its one file as the " +
              "view delta — the incremental path is not being exercised")
          q.processAllAvailable()
          require(store.mvDeltaFiles("totals_mv") == 0,
            s"round $c refresh did not consume the appended files")
          snapshot(c)
        }
      } finally q.stop()
    }
    import s.implicits._
    snaps.toSeq
      .toDF("round", "event_type", "n_events", "total_value", "max_id")
      .select(col("round"), col("event_type"), col("n_events"),
        col("total_value").cast("double").as("total_value"), col("max_id"))
      .sortedSmall("round", "event_type")
  }

  val s25Oracle: String =
    """SELECT r.round, e.event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(30,2))) AS DOUBLE)
      |    AS total_value,
      |  MAX(e.event_id) AS max_id
      |FROM events e
      |JOIN (VALUES (0),(1),(2),(3),(4)) r(round)
      |  ON e.event_id % 5 <= r.round
      |GROUP BY r.round, e.event_type
      |ORDER BY r.round, e.event_type""".stripMargin

  /** s26: STREAM-STREAM JOIN **EVICTION** — the state-cleanup and
    * late-drop paths s22's exact-gate watermark deliberately never
    * reaches (its delay spans the corpus; the verdict's watch-item).
    * Events split into four time-quartile chunks per side; purchases
    * deliver IN time order, clicks deliver DISORDERED (1, 2, 3, 0) with
    * watermark delay ZERO — chunk-0 clicks arrive three batches late,
    * after the watermark has swept past their whole quartile, so the
    * purchase state they would have matched is provably EVICTED (86 of
    * 372 candidate pairs drop at sf0.1; 7/33 at sf0.01). The pinned
    * rule (fitted against Spark's own output at three SFs, two
    * candidate cleanup timings — they agree on every pair here): a
    * cross-batch pair emits iff the EARLIER side's state survives until
    * the later side's batch m, i.e. its state-watermark bound clears
    * `wm_{m-1}` (watermarks are monotone, so the last cleanup is the
    * binding one): bound = `click_sec + 3600` when the click waits
    * (derived from the join range), raw `purch_sec` when the purchase
    * waits; `wm_k` = min over sources of the max event-sec seen through
    * batch k−1. Late INPUT is not dropped by the join (also pinned:
    * one-batch-late clicks still matched surviving state). The oracle
    * unrolls exactly that rule declaratively; the hash gate thus pins
    * WHICH ROWS ARE GONE — Spark's eviction boundary itself, not just
    * the buffering s22 proves.
    *
    * Scale shape: this is the production configuration (finite lateness
    * horizon): join state holds (range + delay) × arrival-rate rows per
    * side regardless of stream length; the dropped pairs are the price
    * of bounded state, made exact and auditable. */
  def s26StreamJoinEviction(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val ev = graft.tables.Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("ts div 1000000000").as("sec"))
    val r = ev.agg(min(col("sec")), max(col("sec"))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val chunkOf = least(lit(3),
      ((col("sec") - mn) * 4).divide(lit(mx - mn + 1)).cast("long"))
    val base = java.nio.file.Files.createTempDirectory("graft_s26")
    def stage(name: String, etype: String, order: Seq[Int]): String = {
      val d = base.resolve(name).toString
      order.foreach { c =>
        ev.filter(col("event_type") === etype && chunkOf === c)
          .repartition(1) // one file per quartile → one micro-batch each
          .write.mode("append").parquet(d)
      }
      d
    }
    val clickDir = stage("clicks", "click", Seq(1, 2, 3, 0))
    val purchDir = stage("purch", "purchase", Seq(0, 1, 2, 3))
    def src(d: String) = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(d)
    val clicks = src(clickDir)
      .select(col("user_id").as("c_user"),
        timestamp_seconds(col("sec")).as("click_ts"))
      .withWatermark("click_ts", "0 seconds")
    val purchases = src(purchDir)
      .select(col("user_id").as("p_user"), col("value"),
        timestamp_seconds(col("sec")).as("purch_ts"))
      .withWatermark("purch_ts", "0 seconds")
    val pairs = clicks.join(purchases,
      expr("c_user = p_user AND " +
        "click_ts BETWEEN purch_ts - INTERVAL 1 HOUR AND purch_ts"))
      .select(col("c_user").as("user_id"), col("value"))
    val outDir = base.resolve("out").toString
    withStatePartitions(s, 8) {
      val q = pairs.writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .start()
      q.awaitTermination()
    }
    s.read.parquet(outDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast(DecimalType(30, 2)))
          .cast("double").as("total_value"))
      .sortedSmall("user_id")
  }

  val s26Oracle: String =
    """WITH ev AS (SELECT user_id, event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |b AS (SELECT MIN(sec) AS mn, MAX(sec) AS mx FROM ev),
      |e2 AS (SELECT user_id, event_type, value, sec,
      |    LEAST(3, CAST(((sec - b.mn) * 4) // (b.mx - b.mn + 1)
      |      AS BIGINT)) AS chunk
      |  FROM ev, b),
      |cb AS (SELECT * FROM (VALUES (1, 0), (2, 1), (3, 2), (0, 3))
      |       AS t(chunk, bat)),
      |pb AS (SELECT * FROM (VALUES (0, 0), (1, 1), (2, 2), (3, 3))
      |       AS t(chunk, bat)),
      |c AS (SELECT e2.user_id, e2.sec, cb.bat FROM e2
      |      JOIN cb ON cb.chunk = e2.chunk WHERE event_type = 'click'),
      |p AS (SELECT e2.user_id, e2.sec, e2.value, pb.bat FROM e2
      |      JOIN pb ON pb.chunk = e2.chunk WHERE event_type = 'purchase'),
      |wmt AS (SELECT m.m, LEAST(
      |    (SELECT MAX(sec) FROM c WHERE bat < m.m),
      |    (SELECT MAX(sec) FROM p WHERE bat < m.m)) AS wm
      |  FROM (SELECT UNNEST([0, 1, 2, 3]) AS m) m),
      |pairs AS (
      |  SELECT c.user_id, p.value FROM c
      |  JOIN p ON c.user_id = p.user_id
      |    AND c.sec BETWEEN p.sec - 3600 AND p.sec
      |  LEFT JOIN wmt ON wmt.m = GREATEST(c.bat, p.bat) - 1
      |  WHERE c.bat = p.bat OR wmt.wm IS NULL
      |     OR (CASE WHEN c.bat < p.bat THEN c.sec + 3600
      |              ELSE p.sec END) >= wmt.wm)
      |SELECT user_id, COUNT(*) AS n_pairs,
      |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
      |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin

  val all: Seq[graft.Q] = Seq(
    graft.Q("s18_stream_merge_replay", s18StreamMergeReplay,
      Some(s18Oracle)),
    graft.Q("s19_stream_disorder_replay", s19StreamDisorderReplay,
      Some(s18Oracle)),
    graft.Q("s20_store_feed_stream", s20StoreFeedStream,
      Some(s18Oracle)),
    graft.Q("s21_windowed_append", s21WindowedAppend,
      Some(s21Oracle)),
    graft.Q("s22_stream_stream_join", s22StreamStreamJoin,
      Some(s22Oracle)),
    graft.Q("s23_session_windows", s23SessionWindows,
      Some(s23Oracle)),
    graft.Q("s24_stream_ingest_dedup", s24StreamIngestDedup,
      Some(s24Oracle)),
    graft.Q("s25_stream_mv_maintenance", s25StreamMvMaintenance,
      Some(s25Oracle)),
    graft.Q("s26_stream_join_eviction", s26StreamJoinEviction,
      Some(s26Oracle)))
}
