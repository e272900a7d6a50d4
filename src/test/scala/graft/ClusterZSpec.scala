package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.psn.{FileStats, TableStore}

/** TableStore.clusterZ: the multi-dimensional layout. Asserts the
  * properties that justify it: content is identical across the rewrite,
  * file-level pruning engages on BOTH participating columns (where the
  * single-column cluster provably prunes only its own), unsupported
  * shapes are refused loudly, and — q53's reason to exist — a 2-d box
  * query over the shared Z-address ([[TableStore.zOrdered]], the layout
  * of both OPTIMIZE … ZORDER and q53's events copy) reads a fraction of
  * the rows the same query reads over a single-column (time-sorted)
  * layout. q53's DuckDB oracle proves the ANSWER is layout-independent;
  * this spec proves the layout does what it claims on a corpus big
  * enough for the statistics to bite.
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

  /** Rows the parquet reader actually produced (post row-group skip).
    * Call with AQE off so the scan node is reachable in the executed
    * plan (query stages hide their subtrees from TreeNode.collect). */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("z-order layout beats a time-sorted layout on a 2-d box query") {
    // AQE off for the whole test: partition coalescing would collapse the
    // 256 range partitions of these (tiny) layouts into a handful of wide
    // files, erasing exactly the statistics granularity under test. (At
    // production file sizes there is nothing to coalesce.)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try zOrderBody()
    finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  private def zOrderBody(): Unit = {
    import org.apache.spark.sql.functions._
    // 200k synthetic events, uniform over a 1024×1024 (user, hour) grid.
    val base = spark.range(200000L).select(
      col("id"),
      pmod(xxhash64(concat(lit("u:"), col("id"))), lit(1024)).as("user"),
      pmod(xxhash64(concat(lit("h:"), col("id"))), lit(1024)).as("hour"),
      (col("id") % 97).cast("double").as("value"))

    val zDir = Files.createTempDirectory("zorder").toString
    val tDir = Files.createTempDirectory("timesorted").toString
    // 256 output files ≈ the min/max granularity parquet row groups give
    // a production-sized file for free; each z file covers one ~64×64
    // (user, hour) cell of the 16×16 equi-depth buckets, each
    // time-sorted file a ~4-hour stripe.
    TableStore.zOrdered(base, Seq("user", "hour"), 256)
      .write.mode("overwrite").parquet(zDir)
    base
      .repartitionByRange(256, col("hour")).sortWithinPartitions(col("hour"))
      .write.mode("overwrite").parquet(tDir)

    // user-narrow × hour-wide box: the single-column (time) sort serves
    // the hour predicate only, so it must read every user for 256 hours;
    // the z cells serve both predicates at once.
    def box(df: DataFrame): DataFrame = df
      .filter(col("user").between(256, 319) && col("hour").between(256, 511))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))

    assert(box(spark.read.parquet(zDir)).collect().toSeq ==
      box(spark.read.parquet(tDir)).collect().toSeq,
      "the answer must be layout-independent")

    // fresh frames: executedPlan is cached per Dataset, and scanRows
    // needs one planned under AQE-off
    val zRead = scanRows(box(spark.read.parquet(zDir)))
    val tRead = scanRows(box(spark.read.parquet(tDir)))
    // time-sorted reads ~25% of rows (256 of 1024 hours); the z cells
    // read ~1/16 of that box (64 of 1024 users, cell-quantized). Assert a
    // conservative 3× so bucket-boundary effects can't flake the test.
    assert(zRead * 3 < tRead,
      s"z-order read $zRead rows, time-sorted read $tRead")
    assert(tRead < 200000L, "time-sorted layout should itself prune")
  }
}
