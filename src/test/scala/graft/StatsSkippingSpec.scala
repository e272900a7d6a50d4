package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.psn.{FileStats, TableStore}
import graft.psn.FileStats.{LLong, LDouble, LString, LDate, Pred}

/** File-level data skipping: footer-derived stats, conservative pruning,
  * metadata-only counts, and the cluster (range-layout) rewrite. The
  * invariant under test everywhere: pruning changes COST (files opened),
  * never CONTENT — readWhere ≡ read().filter for every predicate, stats
  * present, stale, or absent.
  */
class StatsSkippingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshStore(): (TableStore, String) = {
    val wh = Files.createTempDirectory("stats_wh").toString
    (new TableStore(spark, wh), wh)
  }

  /** Rewrite the head's stats sidecar without entries for the files the
    * head commit added — a sidecar that predates them. Every commit of an
    * analyzed table re-derives its sidecar, so no store verb leaves such
    * a file; readers must still keep what it does not cover. */
  private def uncoverLastCommit(store: TableStore, wh: String, t: String): Unit = {
    val vs = store.versions(t)
    val root = Paths.get(wh, t)
    val added = (store.namedFiles(t, vs.last)._1.toSet --
      store.namedFiles(t, vs.init.last)._1).map(root.relativize(_).toString)
    val sidecar = root.resolve(s"_stats.v${vs.last}")
    assert(added.nonEmpty && FileStats.load(sidecar).keySet.intersect(added) == added,
      "the commit's own files start out covered")
    FileStats.write(sidecar,
      FileStats.load(sidecar).values.filterNot(fs => added(fs.relPath)).toSeq,
      FileStats.loadBloomSpecs(sidecar))
  }

  test("analyze derives footer min/max for long, double, string, date") {
    val (store, _) = freshStore()
    val df = Seq(
      (1L, 1.5, "alpha", java.sql.Date.valueOf("2024-01-10")),
      (9L, -2.5, "zeta", java.sql.Date.valueOf("2024-03-01")))
      .toDF("k", "x", "s", "d").coalesce(1)
    store.overwrite("t", df)
    assert(store.analyze("t") == 1)

    // one file kept for an in-range point, zero for out-of-range — on
    // every collected kind
    def kept(p: Pred): Int = store.pruneInfo("t", Seq(p))._1
    assert(kept(FileStats.eqTo("k", LLong(5))) == 1)
    assert(kept(FileStats.gt("k", LLong(9))) == 0)
    assert(kept(FileStats.lt("x", LDouble(-2.5))) == 0)
    assert(kept(FileStats.ge("x", LDouble(1.5))) == 1)
    assert(kept(FileStats.gt("s", LString("zeta"))) == 0)
    assert(kept(FileStats.le("s", LString("alpha"))) == 1)
    assert(kept(FileStats.lt("d",
      LDate(java.time.LocalDate.parse("2024-01-10")))) == 0)
    assert(kept(FileStats.ge("d",
      LDate(java.time.LocalDate.parse("2024-03-01")))) == 1)
  }

  test("readWhere equals unpruned filter while opening fewer files") {
    val (store, _) = freshStore()
    val df = spark.range(0, 10000)
      .select(col("id").as("k"), (col("id") % 97).as("m"))
    store.overwrite("t", df.repartition(4)) // hash layout: ranges overlap
    require(store.cluster("t", "k", 8)) // range layout: ranges disjoint
    val preds = Seq(FileStats.ge("k", LLong(2000)),
      FileStats.lt("k", LLong(3000)))
    val (kept, total) = store.pruneInfo("t", preds)
    assert(total == 8 && kept < total && kept >= 1)
    val got = store.readWhere("t", preds).collect().map(_.toString).sorted
    val want = store.read("t")
      .filter(col("k") >= 2000 && col("k") < 3000)
      .collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq && got.length == 1000)
  }

  test("files outside the sidecar are kept: post-analyze append is safe") {
    val (store, wh) = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("k", "s").coalesce(1))
    store.analyze("t")
    // the append's commit covers its file; strip that entry, so the
    // sidecar has never seen the file
    store.append("t", Seq((100L, "b")).toDF("k", "s").coalesce(1))
    uncoverLastCommit(store, wh, "t")
    val rows = store.readWhere("t",
      Seq(FileStats.ge("k", LLong(50)))).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(100L))
    // and the uncovered file survives a predicate its values fail —
    // only the residual filter drops the rows, never the file listing
    val (kept, total) = store.pruneInfo("t",
      Seq(FileStats.ge("k", LLong(1000))))
    assert(total == 2 && kept == 1)
  }

  test("unknown columns and kind mismatches never prune") {
    val (store, _) = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("k", "s").coalesce(1))
    store.analyze("t")
    assert(store.pruneInfo("t",
      Seq(FileStats.eqTo("nope", LLong(7))))._1 == 1)
    assert(store.pruneInfo("t",
      Seq(FileStats.eqTo("k", LString("x"))))._1 == 1)
    // absent sidecar: readWhere degrades to a plain filtered read
    val (store2, _) = freshStore()
    store2.overwrite("u", Seq((5L, "x")).toDF("k", "s"))
    assert(store2.readWhere("u",
      Seq(FileStats.eqTo("k", LLong(5)))).count() == 1)
  }

  test("empty prune result returns an empty frame with the table schema") {
    val (store, _) = freshStore()
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1))
    store.analyze("t")
    val out = store.readWhere("t", Seq(FileStats.gt("k", LLong(99))))
    assert(out.columns.toSeq == Seq("k", "s") && out.count() == 0)
  }

  test("countRows sums footers across files and in-place appends") {
    val (store, _) = freshStore()
    store.overwrite("t", spark.range(0, 1234).toDF("id").repartition(3))
    store.append("t", spark.range(0, 766).toDF("id").repartition(2))
    assert(store.countRows("t") == 2000L)
    assert(store.countRows("t") == store.read("t").count())
  }

  test("cluster is a pure layout change: content identical, new version") {
    val (store, _) = freshStore()
    val df = spark.range(0, 5000)
      .select(col("id").as("k"), md5(col("id").cast("string")).as("h"))
    store.overwrite("t", df.repartition(5))
    val before = store.read("t").collect().map(_.toString).sorted.toSeq
    val v0 = store.versions("t").last
    require(store.cluster("t", "k", 4))
    assert(store.versions("t").last > v0)
    assert(store.read("t").collect().map(_.toString).sorted.toSeq == before)
    // clustered + analyzed: a half-domain predicate prunes about half
    val (kept, total) = store.pruneInfo("t",
      Seq(FileStats.lt("k", LLong(2500))))
    assert(total == 4 && kept <= 3)
  }

  test("stats sidecars age out with their versions") {
    val (store, wh) = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("k", "s"))
    store.analyze("t")
    val first = store.versions("t").last
    store.overwrite("t", Seq((2L, "b")).toDF("k", "s"))
    store.analyze("t")
    store.overwrite("t", Seq((3L, "c")).toDF("k", "s")) // sweeps `first`
    val dir = java.nio.file.Paths.get(wh, "t")
    assert(!Files.exists(dir.resolve(s"_stats.v$first")),
      "sidecar of a GC'd version must be GC'd with it")
    // the surviving sidecar is version-keyed, so the NEW head (not yet
    // analyzed) reads unpruned rather than consulting a stale sidecar
    assert(store.readWhere("t",
      Seq(FileStats.eqTo("k", LLong(3)))).count() == 1)
  }

  test("minMax merges sidecar and live footers; incomplete stats => None") {
    val (store, wh) = freshStore()
    store.overwrite("t", Seq((5L, "m"), (9L, "c")).toDF("k", "s").coalesce(1))
    store.analyze("t")
    // a file the sidecar does not cover: minMax must footer-read it live
    store.append("t", Seq((1L, "z")).toDF("k", "s").coalesce(1))
    uncoverLastCommit(store, wh, "t")
    assert(store.minMax("t", "k").map { case (_, mn, mx) =>
      (mn.toLong, mx.toLong) } == Some((1L, 9L)))
    assert(store.minMax("t", "s").map { case (_, mn, mx) =>
      (mn, mx) } == Some(("c", "z")))
    // unknown column: no complete answer
    assert(store.minMax("t", "nope").isEmpty)
    // an all-null file has no footer min/max — the answer must become
    // None (complete-or-nothing), never a silently-partial extremum
    store.append("t",
      Seq((null.asInstanceOf[java.lang.Long], "q")).toDF("k", "s").coalesce(1))
    assert(store.minMax("t", "k").isEmpty)
    assert(store.minMax("t", "s").map(_._3) == Some("z"))
  }

  test("stats are maintained across commits once a table opts in") {
    val (store, _) = freshStore()
    store.overwrite("t", spark.range(0, 4000).toDF("k"))
    require(store.cluster("t", "k", 4)) // opts in: cluster analyzes
    // a transactional rewrite commits a NEW version — the sidecar must
    // follow it, not silently disengage until the next manual analyze
    store.mergeWith("t")(cur => cur.filter(col("k") < 3000))
    val (kept1, total1) = store.pruneInfo("t",
      Seq(FileStats.lt("k", LLong(1000))))
    assert(total1 > 0 && kept1 < total1,
      s"sidecar did not follow the merge commit: $kept1/$total1")
    // compaction (layout-only commit) keeps it alive too
    (1 to 3).foreach(i => store.append("t",
      Seq(5000L + i).toDF("k").coalesce(1)))
    require(store.compact("t"))
    val (kept2, total2) = store.pruneInfo("t",
      Seq(FileStats.gt("k", LLong(10000))))
    assert(kept2 == 0, s"post-compact sidecar inert: kept $kept2/$total2")
    // never imposed on tables that did not opt in
    val (store2, wh2) = freshStore()
    store2.overwrite("u", Seq(1L).toDF("k"))
    store2.overwrite("u", Seq(2L).toDF("k"))
    assert(!Files.exists(java.nio.file.Paths.get(wh2, "u")
      .resolve(s"_stats.v${store2.versions("u").last}")))
  }

  test("sidecar round-trips through render/parse including escapes") {
    val fs = FileStats.FileStat("part-00000.parquet", 42L, Map(
      "s" -> FileStats.ColStats(FileStats.KString, "a\tb", "z\nq", 3L),
      "k" -> FileStats.ColStats(FileStats.KLong, "-5", "17", 0L)))
    val back = FileStats.parse(FileStats.render(Seq(fs)))
    assert(back == Map("part-00000.parquet" -> fs))
  }
}
