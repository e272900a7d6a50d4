package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.psn.{FileStats, TableStore}

/** TableStore.clusterZ: the multi-dimensional layout. Asserts the three
  * properties that justify it: content is identical across the rewrite,
  * file-level pruning engages on BOTH participating columns (where the
  * single-column cluster provably prunes only its own), and unsupported
  * shapes are refused loudly.
  */
class ClusterZSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // b is a deterministic permutation of a: uncorrelated dimensions, so a
  // range layout on `a` gives every file near-full-range `b` stats.
  private def frame() = (1 to 4096)
    .map(i => (i.toLong, ((i * 2654435761L) % 4096 + 1)))
    .toDF("a", "b")

  private def kept(store: TableStore, t: String, c: String): Int =
    store.pruneInfo(t, Seq(FileStats.le(c, FileStats.LLong(512L))))._1

  test("zorder prunes on both dimensions; cluster only on its own") {
    val wh = java.nio.file.Files.createTempDirectory("graft_z").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", frame())
    val before = store.read("t").as[(Long, Long)].collect().toSet

    assert(store.cluster("t", "a", 8))
    val total = store.fileCount("t")
    assert(kept(store, "t", "a") < total, "cluster must prune its column")
    assert(kept(store, "t", "b") == total,
      "uncorrelated second column should NOT prune under single-col cluster")

    assert(store.clusterZ("t", Seq("a", "b"), 16))
    val totalZ = store.fileCount("t")
    assert(kept(store, "t", "a") < totalZ, "zorder must prune dim 1")
    assert(kept(store, "t", "b") < totalZ, "zorder must prune dim 2")
    assert(store.read("t").as[(Long, Long)].collect().toSet == before,
      "zorder is a layout change — content must be identical")
  }

  test("nulls survive the layout (bucket 0) and unsupported shapes are loud") {
    import org.apache.spark.sql.functions.{col, lit}
    val withNulls = frame().union(
      Seq((0L, 7L)).toDF("a", "b")
        .select(lit(null).cast("bigint").as("a"), col("b")))
    val wh = java.nio.file.Files.createTempDirectory("graft_z2").toString
    val store = new TableStore(spark, wh)
    store.overwrite("n", withNulls)
    assert(store.clusterZ("n", Seq("a", "b"), 4))
    assert(store.read("n").filter("a IS NULL").count() == 1)
    assert(store.read("n").count() == 4097)

    store.overwrite("s", Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    assert(intercept[IllegalArgumentException] {
      store.clusterZ("s", Seq("k", "v"), 2)
    }.getMessage.contains("ZORDER"))
    assert(intercept[IllegalArgumentException] {
      store.clusterZ("s", Seq("k"), 2)
    }.getMessage.contains("at least 2"))
  }
}
