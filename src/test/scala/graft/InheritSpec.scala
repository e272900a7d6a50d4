package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.psn.TableStore

/** A version names the files it keeps: a commit that keeps its base's
  * files inherits them by name, so its cost does not grow with the
  * table; a read hands Spark files the store already listed, so planning
  * launches no listing job however many version directories the files
  * span; and GC deletes a file only once no retained version names it.
  */
class InheritSpec extends AnyFunSuite {
  import TestSpark._

  /** A store whose table `t` has `files` data files. */
  private def tableOf(files: Int): (TableStore, String) = {
    val wh = Files.createTempDirectory("graft_inherit").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", spark.range(0, 2L * files, 1, files)
      .select(col("id").as("k"), (col("id") % 7).as("g")))
    assert(store.fileCount("t") == files)
    (store, wh)
  }

  /** Paths (files and directories) `body` adds under the root of `t`. */
  private def added(wh: String)(body: => Unit): Int = {
    val before = StoreFiles.paths(wh, "t")
    body
    (StoreFiles.paths(wh, "t") -- before).size
  }

  test("a one-row delete, ADD COLUMN and RESTORE add as many paths on " +
      "1 000 files as on 10") {
    val costs = Seq(10, 1000).map { n =>
      val (store, wh) = tableOf(n)
      val delete = added(wh)(assert(store.deleteRows("t", col("k") === 0) == 1L))
      val deleted = store.headVersion("t")
      val evolve = added(wh)(assert(store.addColumn("t", "note", "STRING")))
      val restore = added(wh)(assert(store.restore("t", deleted)))
      assert(store.read("t").count() == 2L * n - 1)
      assert(store.fileCount("t") == n)
      (delete, evolve, restore)
    }
    assert(costs.head == costs.last, s"paths added on 10 vs 1 000 files: $costs")
    assert(costs.head.productIterator.forall(_.asInstanceOf[Int] < 16), costs)
  }

  test("reads of a head inheriting 64 files from 8 version directories " +
      "plan without a Spark job") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_inherit_read").toString
    val store = new TableStore(spark, wh)
    def batch(i: Int) = (i * 80 + 1 to i * 80 + 80).toDF("k")
      .select(col("k"), pmod(col("k"), lit(8)).as("b")).coalesce(1)
    store.append("t", batch(0), Some("b"))
    store.read("t").count() // the first version's footer schema
    (1 to 8).foreach(i => store.append("t", batch(i), Some("b")))
    val head = store.headVersion("t")
    val (files, _) = store.namedFiles("t", head)
    val own = Paths.get(wh, "t", s"v$head")
    val inherited = files.filterNot(_.startsWith(own))
    assert(inherited.size >= 64, inherited.size)
    assert(inherited.map(_.getParent.getParent).distinct.size >= 8)
    assert(store.memoizedSchema("t", head).isDefined,
      "the head inherits its base's memoized schema")
    val counts = SparkCounts.of(spark) {
      store.read("t").queryExecution.executedPlan
      store.readPartitions("t", "b", Seq(2, 5)).queryExecution.executedPlan
    }
    assert(counts.jobs == 0, s"planning the reads ran ${counts.jobs} jobs")
    assert(store.read("t").count() == 720)
    assert(store.readPartitions("t", "b", Seq(2, 5)).count() == 180)
  }

  /** Every regular file under the root of `t` that is not bookkeeping
    * (markers, manifests, sidecars, `_SUCCESS`, checksums): data files
    * and deletion-vector files. */
  private def contentFiles(wh: String): Set[Path] =
    StoreFiles.paths(wh, "t").filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The files the retained versions of `t` name. */
  private def named(store: TableStore): Set[Path] =
    store.versions("t").flatMap { v =>
      val (data, dv) = store.namedFiles("t", v)
      data ++ dv
    }.toSet

  test("GC and VACUUM delete only files no retained version names") {
    val (store, wh) = tableOf(6)
    // an unpublished claim above every version: nobody names its files
    val claim = Paths.get(wh, "t", "v50")
    Files.createDirectories(claim)
    Files.writeString(claim.resolve("part-orphan.parquet"), "")
    def check(step: String, rows: Map[Int, Long]): Unit = {
      val keep = named(store)
      contentFiles(wh).foreach { f =>
        assert(keep(f) || f.startsWith(claim),
          s"$step: $f is named by no retained version")
      }
      keep.foreach(f => assert(Files.exists(f), s"$step: GC deleted $f"))
      store.vacuum("t", olderThanMs = 0)
      keep.foreach(f => assert(Files.exists(f), s"$step: VACUUM deleted $f"))
      store.versions("t").foreach { v =>
        assert(store.readVersion("t", v).count() == rows(v), s"$step: v$v")
      }
    }
    var rows = Map(store.headVersion("t") -> 12L)
    def commit(step: String, n: Long)(body: => Unit): Unit = {
      val prev = store.headVersion("t")
      body
      rows += store.headVersion("t") -> n
      // the version the commit replaced still reads as it did
      assert(store.readVersion("t", prev).count() == rows(prev), step)
      check(step, rows)
    }
    commit("delete", 11L)(store.deleteRows("t", col("k") === 0))
    assert(!Files.exists(claim), "VACUUM sweeps an unpublished claim whole")
    commit("delete", 10L)(store.deleteRows("t", col("k") === 1))
    val beforeCompact = store.headVersion("t")
    commit("compact", 10L)(assert(store.compact("t")))
    commit("restore", 10L)(assert(store.restore("t", beforeCompact)))
    commit("delete", 9L)(store.deleteRows("t", col("k") === 2))
    assert(store.read("t").count() == 9L)
  }

  test("a retained version whose manifest cannot be read stops GC") {
    val (store, wh) = tableOf(4)
    store.deleteRows("t", col("k") === 0)
    val first = store.versions("t").min
    Files.delete(Paths.get(wh, "t", s"v${store.headVersion("t")}", "_inherited"))
    val before = StoreFiles.paths(wh, "t")
      .filter(_.startsWith(Paths.get(wh, "t", s"v$first")))
    // the commit ages `first` out, but may not read the replaced head's
    // file list, so it deletes nothing
    store.overwrite("t", spark.range(3).select(col("id").as("k"),
      (col("id") % 7).as("g")))
    assert(store.versions("t").contains(first))
    val after = StoreFiles.paths(wh, "t")
      .filter(_.startsWith(Paths.get(wh, "t", s"v$first")))
    assert(after == before, "GC deleted files with a manifest unread")
    val orphan = Paths.get(wh, "t", "v90")
    Files.createDirectories(orphan)
    assert(store.vacuum("t", olderThanMs = 0).isEmpty && Files.exists(orphan))
  }
}
