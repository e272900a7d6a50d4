package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** Row type for the dedup-stream test (top level so Spark finds an Encoder). */
case class DedupEv(event_id: Long, event_ts: java.sql.Timestamp, value: Double)

/** Drives the streaming plans with the static events table as a one-batch
  * stream (memory sink, processAllAvailable). Cross-checks the tumbling
  * aggregation against its batch twin (EventOps.s01). */
class StreamsSpec extends AnyFunSuite {
  import TestSpark._

  test("streaming sliding windows match the batch twin (s07)") {
    val q = Streams.slidingCounts(Streams.readEvents(spark, sf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sliding_out")
      .select(unix_timestamp(col("window_start")).as("window_start"),
        col("event_type"), col("n_events"))
    val batch = ext.EventOps.s07Sliding(spark, sf)
      .select(col("window_start"), col("event_type"), col("n_events"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming reader refuses NTZ events in a non-UTC session") {
    // The corpus carries ts as micros TIMESTAMP_NTZ; normalizing it goes
    // through an NTZ→LTZ cast that applies the SESSION timezone. Batch
    // (Tables.events) has always thrown on a non-UTC session; the
    // streaming reader shares the same guard now — a silent per-window
    // shift by the host offset must be impossible on either path.
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val ex = intercept[IllegalStateException] {
        Streams.readEvents(spark, sf)
      }
      assert(ex.getMessage.contains("timeZone must be UTC"))
    } finally spark.conf.set(tzKey, saved)
  }

  test("streaming dedup suppresses at-least-once redelivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[DedupEv]
    val q = Streams.dedupedEvents(source.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    val t0 = 1700000000000L
    val batch1 = (1L to 50L).map(i =>
      DedupEv(i, new java.sql.Timestamp(t0 + i * 1000), i.toDouble))
    source.addData(batch1: _*)
    q.processAllAvailable()
    // redeliver the same 50 plus 10 new
    val batch2 = batch1 ++ (51L to 60L).map(i =>
      DedupEv(i, new java.sql.Timestamp(t0 + i * 1000), i.toDouble))
    source.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out")
    assert(out.count() == 60)
    assert(out.select("event_id").distinct().count() == 60)
  }

  test("stream-stream interval join matches the batch range join (s06)") {
    val streamed0 = Streams.clickPurchaseJoin(
      Streams.readEvents(spark, sf), Streams.readEvents(spark, sf))
    val q = streamed0
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssjoin_out")
      .select("click_id", "purchase_id", "gap_sec")
    val batch = ext.EventOps.s06RangeJoin(spark, sf)
      .select("click_id", "purchase_id", "gap_sec")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming tumbling windows match the batch twin") {
    val q = Streams.tumblingCounts(Streams.readEvents(spark, sf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tumbling_out")
      .select(unix_timestamp(col("bucket_start")).as("bucket_start"),
        col("event_type"), col("n_events"))
    val batch = ext.EventOps.s01Tumbling(spark, sf)
      .select(col("bucket_start"), col("event_type"), col("n_events"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming session windows produce sessions for every user") {
    val q = Streams.sessionCounts(Streams.readEvents(spark, sf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sessions_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sessions_out")
    val users = graft.tables.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(out.select("user_id").distinct().count() == users)
    // session count per user never exceeds event count
    val ev = graft.tables.Tables.events(spark, sf)
      .groupBy("user_id").count().withColumnRenamed("count", "n_ev")
    val sess = out.groupBy("user_id").count().withColumnRenamed("count", "n_sess")
    assert(sess.join(ev, "user_id")
      .filter(col("n_sess") > col("n_ev")).count() == 0)
  }

  test("AvailableNow + checkpoint = the reference's daily-cron incremental semantics") {
    // Run once: processes the whole table. Run again with the same
    // checkpoint: nothing new -> no batches, state survives. This is the
    // streaming replacement for the reference's read-back-and-join re-run
    // (SURVEY §2.8).
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    def runOnce(): Long = {
      val q = Streams.tumblingCounts(Streams.readEvents(spark, sf))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    val first = runOnce()
    val second = runOnce()
    assert(second == first,
      s"re-run must process nothing new: $first -> $second")
    // append mode holds back windows newer than the watermark; the bulk
    // must still have been emitted on the first run
    val batch = ext.EventOps.s01Tumbling(spark, sf).count()
    assert(first > batch / 2)
  }

  test("stateful PSN play-delta stream matches the batch pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.psn._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[GameTitle]
    val q = graft.streaming.Streams.playDeltas(spark, source.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("psn_deltas")
      .start()
    def titles(c: PsnClient): Seq[GameTitle] =
      Typed.gameTitles(spark, c).collect().toSeq
    // batch 1: day-1 snapshots seed state, no deltas
    source.addData(titles(FakePsnClient.default): _*)
    q.processAllAvailable()
    assert(spark.table("psn_deltas").count() == 0)
    // batch 2: Beta Racer played 3 more times (+2h) — exactly one delta,
    // equal to what the batch pipeline (psn.Ops.classify) computes
    val day2 = new FakePsnClient(
      TrophySummary(121, 45, 12, 2),
      FakePsnClient.default.titleStats().map {
        case g if g.title_id == "CUSA_00002" =>
          g.copy(play_count = 10, play_duration = "PT14H5M30S")
        case g => g
      })
    source.addData(titles(day2): _*)
    q.processAllAvailable()
    val deltas = spark.table("psn_deltas").collect()
    assert(deltas.length == 1)
    assert(deltas.head.getAs[Long]("play_count_diff") == 3)
    assert(deltas.head.getAs[Double]("play_duration_diff") == 7200.0)
    // batch 3: at-least-once redelivery of the STALE day-1 snapshot must
    // not regress state (a regression would double-count on batch 4)
    source.addData(titles(FakePsnClient.default): _*)
    q.processAllAvailable()
    assert(spark.table("psn_deltas").count() == 1)
    // batch 4: one more play → delta of exactly 1, not 4
    val day3 = new FakePsnClient(day2.profileTrophies(),
      day2.titleStats().map {
        case g if g.title_id == "CUSA_00002" => g.copy(play_count = 11)
        case g => g
      })
    source.addData(titles(day3): _*)
    q.processAllAvailable()
    q.stop()
    val all2 = spark.table("psn_deltas")
      .orderBy("play_count_diff").collect()
    assert(all2.length == 2)
    assert(all2.head.getAs[Long]("play_count_diff") == 1)
  }

  test("stream-static join enriches every event with its dimension row") {
    val userDim = graft.tables.Tables.events(spark, sf)
      .select("user_id").distinct()
      .withColumn("segment",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"))
    val q = Streams.enrichedEvents(Streams.readEvents(spark, sf), userDim)
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enriched_out")
    val total = graft.tables.Tables.events(spark, sf).count()
    assert(out.count() == total)
    assert(out.filter(col("segment").isNull).count() == 0)
    assert(out.filter(
      (col("user_id") % 2 === 0 && col("segment") =!= "even") ||
      (col("user_id") % 2 =!= 0 && col("segment") =!= "odd")).count() == 0)
  }

  test("foreachBatch merge sink applies per-batch upserts transactionally") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.psn._
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_mwh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mck").toString
    val store = new TableStore(spark, wh)
    Bootstrap.run(spark, FakePsnClient.default, store)
    val before = store.read("game").count()

    val source = MemoryStream[GameTitle]
    val q = graft.streaming.Streams.mergeSink(
      source.toDS().toDF(), store, "game", ckpt)
    def titles(c: PsnClient): Seq[GameTitle] =
      Typed.gameTitles(spark, c).collect().toSeq
    // batch 1: Beta Racer's stats advance → merge updates exactly that row
    val day2 = new FakePsnClient(
      TrophySummary(121, 45, 12, 2),
      FakePsnClient.default.titleStats().map {
        case g if g.title_id == "CUSA_00002" =>
          g.copy(play_count = 10, play_duration = "PT14H5M30S")
        case g => g
      })
    source.addData(titles(day2): _*)
    q.processAllAvailable()
    val after1 = store.read("game")
    assert(after1.count() == before) // upsert, not append
    assert(after1.filter(col("play_count") === 10).count() == 1)
    // batch 2: further advance → second transactional swap
    val day3 = new FakePsnClient(day2.profileTrophies(),
      day2.titleStats().map {
        case g if g.title_id == "CUSA_00002" => g.copy(play_count = 11)
        case g => g
      })
    source.addData(titles(day3): _*)
    q.processAllAvailable()
    q.stop()
    val after2 = store.read("game")
    assert(after2.count() == before)
    assert(after2.filter(col("play_count") === 11).count() == 1)
    assert(after2.filter(col("play_count") === 10).count() == 0)
  }

  test("streaming aggregate-view maintenance converges to the batch " +
    "recompute (q49's merge algebra under foreachBatch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.tables.Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_totalprice"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("od"))
      .as[(Long, Double, Long)].collect().toSeq
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("c"))
        .agg(count(lit(1)).as("n"),
          sum(col("p").cast("decimal(30,2)")).as("s"),
          min(col("od")).as("mn"), max(col("od")).as("mx"))
    var view = partial(Seq.empty[(Long, Double, Long)]
      .toDF("c", "p", "od"))
    val source = MemoryStream[(Long, Double, Long)]
    val q = source.toDS().toDF("c", "p", "od")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        view = view.unionByName(partial(batch))
          .groupBy(col("c"))
          .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
            min(col("mn")).as("mn"), max(col("mx")).as("mx"))
          .localCheckpoint()
      }
      .start()
    // three "days" of inserts, uneven batch sizes
    rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { chunk =>
      source.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val direct = rows.toDF("c", "p", "od").transform(partial)
    assert(view.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(view).count() == 0)
  }

  test("flatMapGroupsWithState emits per-user running deltas") {
    val q = Streams.valueDeltas(spark, Streams.readEvents(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("deltas_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("deltas_out")
    val expect = graft.tables.Tables.events(spark, sf)
      .groupBy("user_id").agg(sum("value").as("expect_total"))
    // single batch → one delta per user, equal to the user's value sum
    assert(out.count() == expect.count())
    val joined = out.join(expect, "user_id")
      .filter(abs(col("total") - col("expect_total")) > 1e-6)
    assert(joined.count() == 0)
  }

  test("end-to-end streaming DailyRun: N polls converge game + time_play " +
      "to the batch pipeline's state") {
    import java.sql.Timestamp
    import graft.psn._
    import graft.sources.PsnSource
    import org.apache.spark.sql.streaming.Trigger
    def ts(s: String) = Timestamp.valueOf(s)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    // three scripted days: day2 bumps Beta Racer and adds a new game,
    // day3 bumps Gamma Souls (same script as PsnPipelineSpec + one day)
    val day1 = FakePsnClient.default
    val day2 = new FakePsnClient(TrophySummary(121, 45, 12, 2),
      day1.titleStats().map {
        case g if g.title_id == "CUSA_00002" =>
          g.copy(play_count = 10, play_duration = "PT14H5M30S",
            last_played_date_time = ts("2024-08-01 12:00:00"))
        case g => g
      } :+ GameTitleRaw("CUSA_99999", "Delta Farm", "http://img/9",
        "ps4_game", ts("2024-07-15 09:00:00"), ts("2024-08-01 20:00:00"),
        1, "PT2H"))
    val day3 = new FakePsnClient(day2.profileTrophies(),
      day2.titleStats().map {
        case g if g.title_id == "PPSA_10003" =>
          g.copy(play_count = 140, play_duration = "PT347H",
            last_played_date_time = ts("2024-08-02 01:00:00"))
        case g => g
      })
    val days = IndexedSeq(day1, day2, day3)

    // batch reference: bootstrap + N-1 daily runs
    val storeB = new TableStore(spark, tmp("e2e_batch"))
    Bootstrap.run(spark, day1, storeB)
    DailyRun.run(spark, day2, storeB)
    DailyRun.run(spark, day3, storeB)

    // streaming twin: one Trigger.Once poll per day through the DSv2
    // source; checkpoints carry offsets AND keyed state across restarts
    val storeS = new TableStore(spark, tmp("e2e_stream"))
    @volatile var day = 0
    val saved = PsnSource.clientFactory
    PsnSource.clientFactory = () => days(day)
    // both sinks run continuously; each poll re-reads the scripted "today"
    // (extra polls of an unchanged day are no-ops: no deltas, same merge)
    val qG = Streams.gameTableSink(Streams.psnGameSnapshots(spark),
      storeS, "game", tmp("e2e_ckg"),
      Trigger.ProcessingTime("100 milliseconds"))
    val qD = Streams.playDeltaSink(spark, Streams.psnGameSnapshots(spark),
      storeS, "time_play", tmp("e2e_ckd"),
      Trigger.ProcessingTime("100 milliseconds"))
    def awaitConverged(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(cond, "stream did not converge within 60s")
    }
    try {
      // day 1: first poll bootstraps the dimension, seeds delta state
      awaitConverged(storeS.exists("game") &&
        storeS.read("game").count() == 3)
      day = 1 // new game appended + Beta Racer upserted + one delta fact
      awaitConverged(storeS.exists("time_play") &&
        storeS.read("game").count() == 4 &&
        storeS.read("time_play").count() == 1)
      day = 2 // Gamma Souls upserted + second delta fact
      awaitConverged(storeS.read("time_play").count() == 2 &&
        storeS.read("game")
          .filter(col("play_count") === 140).count() == 1)
    } finally {
      qG.stop(); qD.stop()
      PsnSource.clientFactory = saved
    }

    // the game dimension converged to exactly the batch state
    val gB = storeB.read("game")
    val gS = storeS.read("game")
    assert(gS.count() == 4 && gB.count() == 4)
    assert(gS.exceptAll(gB).count() == 0 && gB.exceptAll(gS).count() == 0)

    // the delta facts match: one per changed game per day
    val cols = Seq("id", "play_count_diff", "play_duration_diff", "date")
    val tB = storeB.read("time_play").select(cols.map(col): _*)
    val tS = storeS.read("time_play").select(cols.map(col): _*)
    assert(tS.count() == 2)
    assert(tS.exceptAll(tB).count() == 0 && tB.exceptAll(tS).count() == 0)
  }

  test("streaming audio VAD matches the m08 batch twin row-for-row") {
    val q = Streams.audioActivityStream(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("vad_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("vad_out")
    val batch = ext.MultimodalOps.m08AudioActivity(spark, sf)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming document quality scores match the t50 batch twin row-for-row") {
    val q = Streams.scoredDocuments(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("scored_docs_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scored_docs_out")
    val batch = ext.TextOps4.t50QualityClassifier(spark, sf)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }
}

/** Stateless extension ops run unchanged over streams: the t19 chunk
  * transform applied to a file stream must equal its batch output. */
class StreamingChunkSpec extends AnyFunSuite {
  import TestSpark._

  test("streaming chunking matches the batch twin (t19)") {
    // the file stream source wants a DIRECTORY of files
    val dir = java.nio.file.Files.createTempDirectory("chunk_stream")
    val docsPath = dir.toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf + "/documents.parquet"),
      dir.resolve("documents.parquet"))
    val schema = spark.read.parquet(docsPath).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsPath)
    val q = ext.TextOps2.chunkTransform(stream)
      .writeStream.format("memory").queryName("chunks_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunks_stream")
        .orderBy("doc_id", "chunk_idx").collect().toSeq
      val batch = ext.TextOps2.chunkTransform(
          spark.read.parquet(docsPath))
        .orderBy("doc_id", "chunk_idx").collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}

/** The s17 streaming twin: per-user transition pairs from managed keyed
  * state must converge, over multiple polls, to the batch lead-window
  * pair counts — including pairs that straddle a micro-batch boundary
  * (the carried-state path). */
class TransitionStreamSpec extends AnyFunSuite {
  import TestSpark._

  test("streaming transition pairs converge to the batch transition counts across 2 polls") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.tables.Tables.events(spark, sf)
      .selectExpr("user_id", "ts div 1000000000 AS sec", "event_id",
        "event_type").collect()
      .map(r => graft.streaming.Streams.TransEv(
        r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e.sec, e.event_id))
    val source = MemoryStream[graft.streaming.Streams.TransEv]
    val q = graft.streaming.Streams
      .transitionPairs(spark, source.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("trans_out")
      .start()
    try {
      // split at the time median so thousands of users straddle the
      // poll boundary and exercise the carried-state pairing
      val (b1, b2) = rows.splitAt(rows.length / 2)
      source.addData(b1: _*)
      q.processAllAvailable()
      source.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("trans_out")
        .groupBy("t1", "t2").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val expect = rows.groupBy(_.user_id).toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (e.sec, e.event_id)).map(_.event_type).sliding(2)
          .filter(_.length == 2).map(p => (p(0), p(1)))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == expect)
      // the boundary path must actually fire: strictly more pairs than
      // batch-1 alone can produce
      val b1Pairs = b1.groupBy(_.user_id).values
        .map(es => math.max(0, es.size - 1)).sum
      assert(got.values.sum > b1Pairs.toLong)
    } finally q.stop()
  }
}

/** The s18/s19 foreachBatch totals sink ([[Streams.applyTotalsBatch]]):
  * per-batch txn tags make at-least-once replays no-ops, and the bucketed
  * layout bounds each batch's rewrite to the buckets it touches. */
class TotalsSinkSpec extends AnyFunSuite {
  import TestSpark._

  test("totals sink skips a REPLAYED batchId — foreachBatch at-least-once " +
    "cannot double-count") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("s18_idem").toString
    val store = new graft.psn.TableStore(spark, wh)
    def agg(rows: (Long, Long, java.math.BigDecimal)*) =
      rows.toDF("user_id", "n_events", "total_value")
        .withColumn("total_value",
          col("total_value").cast("decimal(38,2)"))
    def dec(d: Double) = new java.math.BigDecimal(d)
    Streams.applyTotalsBatch(store, "t", "s18",
      agg((1L, 2L, dec(10.0)), (2L, 1L, dec(5.0))), batchId = 0L)
    Streams.applyTotalsBatch(store, "t", "s18",
      agg((1L, 1L, dec(1.0))), batchId = 1L)
    val after1 = store.read("t").orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the crash-recovery shape: batch 1's merge committed but the
    // checkpoint did not → the runtime re-delivers batch 1
    Streams.applyTotalsBatch(store, "t", "s18",
      agg((1L, 1L, dec(1.0))), batchId = 1L)
    assert(store.read("t").orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == after1)
    assert(after1 == Seq((1L, 3L), (2L, 1L)))
    // a genuinely new batch still applies
    Streams.applyTotalsBatch(store, "t", "s18",
      agg((2L, 4L, dec(2.0))), batchId = 2L)
    assert(store.read("t").filter(col("user_id") === 2).head.getLong(1) == 5L)
  }

  test("a single-user batch rewrites ONE bucket; the rest hard-link through") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val wh = java.nio.file.Files.createTempDirectory("s18_bucket").toString
    val store = new graft.psn.TableStore(spark, wh)
    def agg(rows: (Long, Long, java.math.BigDecimal)*) =
      rows.toDF("user_id", "n_events", "total_value")
        .withColumn("total_value", col("total_value").cast("decimal(38,2)"))
    val dec = (d: Double) => new java.math.BigDecimal(d)
    // seed a population across many buckets, then a one-user batch
    Streams.applyTotalsBatch(store, "t", "s18",
      agg((0L until 64L).map(u => (u, 1L, dec(1.0))): _*), batchId = 0L)
    def versionDir = {
      val v = Files.readString(Paths.get(wh, "t", "_current")).trim
      Paths.get(wh, "t", v)
    }
    def inodesByBucket(p: java.nio.file.Path) =
      Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith("_") &&
          !f.getFileName.toString.startsWith("."))
        .toSeq.groupBy(_.getParent.getFileName.toString)
        .view.mapValues(_.map(Files.getAttribute(_, "unix:ino")).toSet)
        .toMap
    val before = inodesByBucket(versionDir)
    assert(before.size == Streams.TotalsBuckets) // 64 users fill all 8
    Streams.applyTotalsBatch(store, "t", "s18",
      agg((7L, 1L, dec(1.0))), batchId = 1L)
    val after = inodesByBucket(versionDir)
    val changed = after.keySet.filter(k => after(k) != before.getOrElse(k, Set.empty))
    assert(changed.size == 1,
      s"expected exactly one rewritten bucket, got $changed")
    // every untouched bucket's files are the SAME inodes (hard links)
    (after.keySet - changed.head).foreach { k =>
      assert(after(k) == before(k), s"bucket $k must ride through as links")
    }
    // and the totals are correct
    assert(store.read("t").agg(sum(col("n_events"))).head.getLong(0) == 65L)
  }
}

/** The watermark-semantics gates (s21 append eviction, s22 stream-stream
  * buffering): each streaming result must equal its batch recompute
  * EXACTLY — the cross-check the oracle repeats at verify time. */
class WatermarkGateSpec extends AnyFunSuite {
  import TestSpark._

  test("s21 append emits exactly the watermark-closed windows, " +
      "none dropped below the horizon") {
    val got = Streams.s21WindowedAppend(spark, sf)
    // batch recompute of the SAME rule: day windows with
    // end <= max_ts - (span/2 + 3600); counts/sums over ALL events
    // (nothing may have been late-dropped)
    val ev = graft.tables.Tables.events(spark, sf)
      .select(col("event_type"), col("value"),
        expr("ts div 1000000000").as("sec"))
    val r = ev.agg(min(col("sec")), max(col("sec"))).head()
    val horizon = r.getLong(1) - (r.getLong(1) - r.getLong(0)) / 2 - 3600
    val want = ev
      .groupBy((col("sec") - col("sec") % 86400).as("bucket_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,2)"))
          .cast("double").as("total_value"))
      .filter(col("bucket_start") + 86400 <= horizon)
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    // the watermark actually WITHHELD the open half: strictly fewer
    // emitted windows than exist in the data
    val allWindows = ev.select((col("sec") - col("sec") % 86400).as("b"),
      col("event_type")).distinct().count()
    assert(got.count() < allWindows)
  }

  test("s22 stream-stream join buffers partners across batches and " +
      "emits each pair exactly once") {
    val got = Streams.s22StreamStreamJoin(spark, sf)
    val ev = graft.tables.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("ts div 1000000000").as("sec"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("sec").as("csec"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("sec").as("psec"), col("value"))
    val want = c.join(p, col("cu") === col("pu") &&
        col("csec").between(col("psec") - 3600, col("psec")))
      .groupBy(col("cu").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast("decimal(30,2)"))
          .cast("double").as("total_value"))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("s24 ingest index GROWS: a later chunk's copy of an earlier " +
      "acceptance is exact; same-chunk twins are both new") {
    import spark.implicits._
    // chunk of an increment id: id % 4 == 0, chunk = (id / 4) % 4.
    // corpus: id 1. chunk0: id 0 (fresh text B). chunk2: id 8 (copy of
    // B — only catchable if batch 0's acceptance joined the index).
    // chunk3: ids 12 and 28 (twins of fresh text T2 — judged against
    // the index BEFORE their own chunk, so BOTH decide new).
    val docs = Seq(
      (1L, "alpha corpus document body with words"),
      (0L, "bravo fresh increment text body"),
      (8L, "bravo fresh increment text body"),
      (12L, "tango twin text arriving together"),
      (28L, "tango twin text arriving together"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val got = Streams.streamIngestOf(spark, docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((0L, "new"), (8L, "exact"),
      (12L, "new"), (28L, "new")))
  }

  test("s24 probe is partition-pruned: a small batch reads strictly " +
      "fewer index files than the index holds") {
    import spark.implicits._
    // A wide corpus (its text hashes spread over many pbkt/bbkt buckets)
    // and four single-document increment chunks: each batch's probe must
    // touch only its own buckets' files, never the whole index — the
    // O(increment) ingest contract, witnessed by readPartitions'
    // (selected, total) instrumentation.
    val corpus = (1 until 160).filterNot(_ % 4 == 0).map(i =>
      (i.toLong, s"corpus document number $i with its own distinct body"))
    val incs = Seq(4L, 8L, 12L, 16L).map(i =>
      (i, s"fresh increment document $i"))
    val docs = (corpus ++ incs).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val decided = Streams.streamIngestOf(spark, docs)
    assert(decided.count() == 4)
    val w = Streams.s24ProbeWitness.get
    assert(w.length == 8, s"expected 2 probes x 4 batches, got $w") // th + bands per batch
    w.foreach { case (kept, total) =>
      assert(kept < total,
        s"probe read $kept of $total index files — not pruned")
    }
  }
}
