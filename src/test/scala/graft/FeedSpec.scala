package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.psn.TableStore

/** Append change feed: hard-linked append-only mirror of a table's
  * appended files, consumed by a plain file stream source. Invariants:
  * each committed appended file feeds exactly once, a re-staged loser of
  * an append race never; enable bootstraps the current
  * snapshot; layout commits (compact) feed nothing while their GC cannot
  * take fed bytes away (hard links); rewriting commits and partitioned
  * appends on a feed-enabled table are loud; truncate reclaims backlog
  * without touching table data.
  */
class FeedSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshStore(): (TableStore, String) = {
    val wh = Files.createTempDirectory("feed_wh").toString
    (new TableStore(spark, wh), wh)
  }

  private def feedFiles(wh: String, t: String): Seq[String] = {
    val d = Paths.get(wh, t, "_feed")
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
  }

  test("enable bootstraps the snapshot; appends feed exactly once") {
    val (store, wh) = freshStore()
    store.append("t", Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1))
    store.enableFeed("t")
    assert(feedFiles(wh, "t").nonEmpty)
    store.append("t", Seq((3L, "c")).toDF("k", "s").coalesce(1))
    store.append("t", Seq((4L, "d")).toDF("k", "s").coalesce(1))
    val feed = spark.read.parquet(Paths.get(wh, "t", "_feed").toString)
    assert(feed.count() == 4) // every row exactly once, no duplicates
    assert(feed.select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("two racing appends feed each committed file exactly once") {
    val (store, wh) = freshStore()
    store.append("t", Seq((1L, 1, 1.5)).toDF("id", "grp", "x").coalesce(1))
    store.enableFeed("t")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // both appends pin the same head and stay mid-staging…
    val a = CommitGates.thread(errors)(store.append("t", CommitGates.frame(2, "feed-a")))
    val b = CommitGates.thread(errors)(store.append("t", CommitGates.frame(3, "feed-b")))
    Seq("feed-a", "feed-b").foreach(g =>
      assert(CommitGates(g).reached.await(120, TimeUnit.SECONDS)))
    // …a commits first, so b loses its race and re-stages on a's head
    CommitGates("feed-a").open.countDown()
    a.join()
    CommitGates("feed-b").open.countDown()
    b.join()
    assert(errors.isEmpty, errors.toString)

    val head = store.versions("t").max
    assert(feedFiles(wh, "t").sorted ==
      store.namedFiles("t", head)._1.map(_.getFileName.toString).sorted,
      "the feed holds exactly the committed data files")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(spark.read.parquet(Paths.get(wh, "t", "_feed").toString)
      .select("id", "grp", "x")) == rows(store.read("t")))
    assert(store.read("t").count() == 3)
  }

  test("s20's streamed totals equal the batch totals over every event") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.streaming.Streams.s20StoreFeedStream(spark, dir)
    val want = graft.tables.Tables.events(spark, dir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,2)")).cast("double").as("total_value"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "n_events", "total_value")
      .collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want) && rows(got).nonEmpty)
  }

  test("compaction feeds nothing and cannot unlink fed bytes") {
    val (store, wh) = freshStore()
    store.append("t", Seq((1L, "a")).toDF("k", "s").coalesce(1))
    store.enableFeed("t")
    (2 to 4).foreach(i =>
      store.append("t", Seq((i.toLong, s"r$i")).toDF("k", "s").coalesce(1)))
    val before = feedFiles(wh, "t").toSet
    require(store.compact("t")) // new version; old files GC'd next commit
    store.append("t", Seq((5L, "e")).toDF("k", "s").coalesce(1))
    require(store.compact("t")) // second commit: first version's dirs GC'd
    val after = feedFiles(wh, "t").toSet
    // compaction added nothing; the appends added exactly their files
    assert((after -- before).nonEmpty && before.subsetOf(after))
    // fed bytes survive the GC of the version dirs they came from
    val feed = spark.read.parquet(Paths.get(wh, "t", "_feed").toString)
    assert(feed.select("k").as[Long].collect().sorted.toSeq ==
      (1L to 5L).toSeq)
    // and the TABLE itself never double-counts (feed files are outside
    // the data-file walk even for flat layouts)
    assert(store.read("t").count() == 5)
    assert(store.countRows("t") == 5)
  }

  test("rewriting commits and hive appends are loud under a feed") {
    val (store, _) = freshStore()
    store.append("t", Seq((1L, "a")).toDF("k", "s"))
    store.enableFeed("t")
    intercept[IllegalArgumentException](
      store.overwrite("t", Seq((9L, "z")).toDF("k", "s")))
    intercept[IllegalArgumentException](
      store.mergeWith("t")(cur => cur))
    intercept[IllegalArgumentException](
      store.append("t", Seq((2L, "b")).toDF("k", "s"), Some("s")))
    // a hive-partitioned table cannot enable the feed at all
    val (store2, _) = freshStore()
    store2.append("p", Seq((1L, "x")).toDF("k", "s"), Some("s"))
    intercept[IllegalArgumentException](store2.enableFeed("p"))
  }

  test("truncateFeed reclaims backlog without touching table data") {
    val (store, wh) = freshStore()
    store.append("t", Seq((1L, "a")).toDF("k", "s").coalesce(1))
    store.enableFeed("t")
    assert(feedFiles(wh, "t").nonEmpty)
    store.truncateFeed("t", olderThanMs = 0L)
    assert(feedFiles(wh, "t").isEmpty)
    assert(store.read("t").count() == 1)
  }
}
