package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.psn.{DeletionVectors, TableStore}

/** Deletion vectors: row-level DELETE as a commit that inherits every
  * data file plus a vector of row positions, one bitmap per file, that
  * every read subtracts. Asserts the contract: zero data files written
  * (the head names the same files, and no data file appears on disk),
  * successive deletes merge, time travel keeps pre-delete snapshots
  * (diffVersions reports the rows as removed), rewriting commits
  * materialize and PURGE the vector, compaction carries inherited files'
  * entries while rewritten bins materialize theirs, and the metadata
  * COUNT subtracts the vector. Then the plan shape (a DV'd read plans no
  * join, exchange or broadcast; a delete is one Spark job plus its
  * commit) and the vector file's robustness (a damaged file fails the
  * read; a position no bitmap holds fails the delete).
  */
class DvDeleteSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def dvExists(store: TableStore, table: String): Boolean =
    StoreFiles.headDv(store, table).nonEmpty

  test("delete links files, subtracts rows; successive deletes merge") {
    val wh = Files.createTempDirectory("graft_dv").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t",
      (1L to 1000L).map(k => (k, k % 4)).toDF("k", "grp").repartition(4))
    val named = StoreFiles.head(store, "t")
    val onDisk = StoreFiles.onDisk(wh, "t")
    assert(store.deleteRows("t", col("grp") === 0) == 250L)
    assert(StoreFiles.head(store, "t") == named &&
      StoreFiles.onDisk(wh, "t") == onDisk,
      "DV delete must name the same data files and write none")
    assert(store.read("t").count() == 750)
    assert(store.read("t").filter("grp = 0").count() == 0)
    // second delete merges into the vector
    assert(store.deleteRows("t", col("k") <= 100) == 75L)
    assert(store.read("t").count() == 675)
    assert(store.countRows("t") == 675,
      "metadata COUNT must subtract the vector")
    // a delete matching nothing commits nothing
    val v0 = store.versions("t").max
    assert(store.deleteRows("t", col("k") > 99999) == 0L)
    assert(store.versions("t").max == v0)
  }

  test("time travel keeps pre-delete rows; diffVersions reports removals") {
    val wh = Files.createTempDirectory("graft_dv2").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"))
    val vPre = store.versions("t").max
    store.deleteRows("t", col("k") <= 10)
    val vPost = store.versions("t").max
    assert(store.readVersion("t", vPre).count() == 100)
    assert(store.readVersion("t", vPost).count() == 90)
    val diff = store.diffVersions("t", vPre, vPost, "k")
    assert(diff.filter("change = 'removed'").count() == 10)
    assert(diff.count() == 10)
  }

  test("rewriting commits materialize the deletes and purge the vector") {
    val wh = Files.createTempDirectory("graft_dv3").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", (1L to 500L).map(k => (k, k % 5)).toDF("k", "grp"))
    store.deleteRows("t", col("grp") === 1)
    assert(dvExists(store, "t"))
    store.mergeWith("t")(df => df.filter("k <= 400"))
    assert(!dvExists(store, "t"), "a full rewrite must purge the vector")
    assert(store.read("t").count() == 320) // 400 minus the 80 grp=1 rows
    assert(store.read("t").filter("grp = 1").count() == 0)
  }

  test("compact carries linked files' entries, rewritten bins materialize") {
    val wh = Files.createTempDirectory("graft_dv4").toString
    val store = new TableStore(spark, wh)
    // several small files → all bins rewrite under a big target
    (0 until 4).foreach(i =>
      store.append("t",
        (1L to 100L).map(k => (i * 100L + k, i.toLong)).toDF("k", "src")
          .repartition(1)))
    store.deleteRows("t", col("k") % 2 === 0)
    assert(store.read("t").count() == 200)
    assert(store.compact("t"))
    assert(!dvExists(store, "t"),
      "all-small bins rewrite: vector should be fully materialized")
    assert(store.read("t").count() == 200)
    assert(store.read("t").filter("k % 2 = 0").count() == 0)

    // large single-file bins are inherited → entries must carry
    val store2 = new TableStore(spark, wh)
    store2.overwrite("u",
      (1L to 1000L).map(k => (k, s"payload_$k")).toDF("k", "v")
        .repartition(3))
    store2.deleteRows("u", col("k") <= 100)
    assert(store2.compact("u", targetBytes = 1L)) // every bin is one file
    assert(dvExists(store2, "u"), "inherited bins must carry their DV entries")
    assert(store2.read("u").count() == 900)
    assert(store2.read("u").filter("k <= 100").count() == 0)
  }

  test("readWhere subtracts the vector on pruned scans") {
    val wh = Files.createTempDirectory("graft_dv5").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", (1L to 1000L).map(k => (k, k % 3)).toDF("k", "m"))
    assert(store.cluster("t", "k", 4))
    store.deleteRows("t", col("k") === 42)
    val pred = Seq(graft.psn.FileStats.le("k", graft.psn.FileStats.LLong(100L)))
    assert(store.readWhere("t", pred).count() == 99)
    assert(store.readWhere("t", pred).filter("k = 42").count() == 0)
  }

  test("the statement surface routes predicate DELETEs through the vector") {
    val wh = Files.createTempDirectory("graft_dv6").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", (1L to 100L).map(k => (k, k % 2)).toDF("k", "par"))
    val files = store.fileCount("t")
    val n = graft.ops.Sql.runDeleteWhere(spark, store,
      "DELETE FROM `graft-project.store.t` WHERE par = 1;")
    assert(n == 50L)
    assert(store.fileCount("t") == files)
    assert(store.read("t").count() == 50)
    // feed tables refuse row-level deletes (consumers read raw files)
    val store3 = new TableStore(spark, wh)
    store3.overwrite("f", Seq((1L, "a")).toDF("k", "v"))
    store3.enableFeed("f")
    assert(intercept[IllegalArgumentException] {
      store3.deleteRows("f", col("k") === 1)
    }.getMessage.contains("feed"))
  }

  test("a DV'd read plans no join, exchange or broadcast") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_dv7").toString)
    store.overwrite("t",
      (1L to 1000L).map(k => (k, k % 4)).toDF("k", "grp").repartition(4))
    store.deleteRows("t", col("grp") === 0)
    store.deleteRows("t", col("k") <= 100)
    var n = 0L
    val c = SparkCounts.of(spark) { n = store.read("t").collect().length.toLong }
    assert(n == 675)
    val planned = c.operators.filter(o =>
      o.contains("Join") || o.contains("Exchange") || o.contains("Broadcast"))
    assert(planned.isEmpty, s"a DV'd read planned $planned")
  }

  test("deleteRows on a DV'd table runs one Spark job plus its commit") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_dv8").toString)
    store.overwrite("t",
      (1L to 1000L).map(k => (k, k % 4)).toDF("k", "grp").repartition(4))
    store.deleteRows("t", col("grp") === 0)
    var n = 0L
    val c = SparkCounts.of(spark) { n = store.deleteRows("t", col("k") <= 100) }
    assert(n == 75)
    assert(c.jobs == 1, s"deleteRows ran ${c.jobs} Spark jobs")
    assert(store.read("t").count() == 675)
  }

  test("vector files round-trip; a position no bitmap holds fails loudly") {
    val dir = Files.createTempDirectory("graft_dv9")
    val positions = Seq(0L, 65535L, 65536L, Int.MaxValue.toLong)
    val vector = Map("v1/part-0.parquet" -> DeletionVectors.bitmapOf("f", positions),
      "v1/k=a b/part-1.parquet" -> DeletionVectors.bitmapOf("g", Seq(7L)))
    DeletionVectors.write(dir.resolve("full"), vector)
    val back = DeletionVectors.read(dir.resolve("full"))
    assert(back == vector)
    assert(back("v1/part-0.parquet").toArray.map(_.toLong).toSeq == positions)
    DeletionVectors.write(dir.resolve("empty"), Map.empty)
    assert(DeletionVectors.read(dir.resolve("empty")).isEmpty)
    Seq(-1L, DeletionVectors.MaxPosition + 1).foreach { p =>
      assert(intercept[IllegalStateException] {
        DeletionVectors.bitmapOf("f", Seq(3L, p))
      }.getMessage.contains(s"row position $p"))
    }
  }

  test("a truncated or corrupt vector file fails the read, never reads as nothing deleted") {
    val wh = Files.createTempDirectory("graft_dv10").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", (1L to 100L).map(k => (k, k % 2)).toDF("k", "par"))
    store.deleteRows("t", col("par") === 1)
    val Seq(dv) = StoreFiles.headDv(store, "t").toSeq
    val good = Files.readAllBytes(dv)
    val truncated = good.take(good.length - 3)
    val flipped = good.updated(good.length / 2, (good(good.length / 2) ^ 1).toByte)
    Seq(truncated, flipped, Array.emptyByteArray).foreach { bytes =>
      Files.write(dv, bytes)
      val e = intercept[IllegalStateException](store.read("t").count())
      assert(e.getMessage.contains("deletion vector"), e.getMessage)
      intercept[IllegalStateException](store.countRows("t"))
    }
    Files.write(dv, good)
    assert(store.read("t").count() == 50)
  }
}
