package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.psn.TableStore

/** TableStore.restore: rollback as a commit that inherits a retained
  * snapshot's files and makes the head identical to it — data files,
  * declared schema, and deletion vector included.
  */
class RestoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  test("restore links the snapshot's files and undoes later commits") {
    val wh = Files.createTempDirectory("graft_rst").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", (1L to 100L).map(k => (k, k % 3)).toDF("k", "m"))
    val v1 = store.versions("t").max
    val v1Files = StoreFiles.head(store, "t")
    store.mergeWith("t")(df => df.filter("k <= 10")) // the "bad" commit
    assert(store.read("t").count() == 10)
    val onDisk = StoreFiles.onDisk(wh, "t")
    assert(store.restore("t", v1))
    assert(store.read("t").count() == 100)
    assert(StoreFiles.head(store, "t") == v1Files &&
      StoreFiles.onDisk(wh, "t") == onDisk,
      "restore must name the snapshot's files and write no data file")
    // restoring the current head is a no-op
    val head = store.versions("t").max
    assert(store.restore("t", head))
    assert(store.versions("t").max == head)
    // a version outside retention is loud
    assert(intercept[IllegalArgumentException] {
      store.restore("t", 999)
    }.getMessage.contains("not retained"))
  }

  test("restore carries the snapshot's declared schema and deletion vector") {
    val wh = Files.createTempDirectory("graft_rst2").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"))
    store.deleteRows("t", col("k") <= 10) // v2: vector, 40 live rows
    val v2 = store.versions("t").max
    assert(store.addColumn("t", "score", "DOUBLE")) // v3: evolved
    assert(store.read("t").columns.contains("score"))
    // roll back to the pre-evolution, post-delete snapshot
    assert(store.restore("t", v2))
    assert(store.read("t").columns.toSeq == Seq("k", "v"),
      "restore must revert the schema evolution")
    assert(store.read("t").count() == 40,
      "restore must carry the snapshot's deletion vector")
    assert(store.countRows("t") == 40)
  }
}
