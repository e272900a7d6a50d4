package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.psn.{FileStats, TableStore}
import graft.psn.FileStats.LLong

/** Every reader of a table with a deletion vector equals the LEFT-ANTI
  * JOIN reference kept here: the rows the table was written with, minus
  * those whose key a delete named. The table is multi-file and
  * hive-partitioned over values a file path must carry escaped (a space,
  * a `%`), its files span two version directories, and its deletes are
  * seeded random key sets. Then a persisted DV'd read is never served for
  * a later version. */
class DvEquivalenceSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Partition values; "x" is written as one file, the others as several. */
  private val parts = Seq("a b", "50%", "x")

  /** Keys [from, until): v a payload, p the partition. */
  private def batch(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("k"), (col("id") * 7 % 1000).as("v"),
      when(col("id") % 3 === 0, lit(parts(0)))
        .when(col("id") % 3 === 1, lit(parts(1))).otherwise(lit(parts(2))).as("p"))

  /** The reference subtraction: every row written, left-anti-joined with
    * the deleted keys. */
  private def reference(deleted: Set[Long]): DataFrame =
    batch(0, 1200).join(deleted.toSeq.toDF("k"), Seq("k"), "left_anti")

  private def rows(df: DataFrame): Seq[String] =
    df.select("k", "v", "p").collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (rows(got), rows(want))
    assert(g.size == w.size && g == w, s"$what: ${g.size} rows, want ${w.size}")
  }

  test("every reader of a DV'd table equals the left-anti-join reference") {
    val wh = Files.createTempDirectory("graft_dveq").toString
    val store = new TableStore(spark, wh)
    // "a b" and "50%" in two files under v1 and one under v3; "x" in one
    // file under v2 and one under v4
    val rnd = new scala.util.Random(41)
    var deleted = Set.empty[Long]
    val at = scala.collection.mutable.Map.empty[Int, Set[Long]]
    Seq(batch(0, 900).filter(col("p") =!= "x").repartition(2),
      batch(0, 900).filter(col("p") === "x").coalesce(1),
      batch(900, 1200).filter(col("p") =!= "x").coalesce(1),
      batch(900, 1200).filter(col("p") === "x").coalesce(1)).foreach { df =>
      store.append("t", df, Some("p"))
      at(store.headVersion("t")) = deleted
    }
    store.analyze("t")

    def checkVersions(what: String): Unit = store.versions("t").foreach { v =>
      assertSame(store.readVersion("t", v), reference(at(v)), s"$what: readVersion($v)")
    }

    def delete(keys: Set[Long]): Unit = {
      assert(store.deleteRows("t", col("k").isin(keys.toSeq: _*)) == (keys -- deleted).size)
      deleted ++= keys
      at(store.headVersion("t")) = deleted
    }

    (1 to 3).foreach { round =>
      val before = store.headVersion("t")
      val keys = Seq.fill(80)(rnd.nextInt(1200).toLong).toSet
      delete(keys)
      val head = store.headVersion("t")
      val ref = reference(deleted)
      assertSame(store.read("t"), ref, s"round $round: read")
      checkVersions(s"round $round")
      val range = Seq(FileStats.ge("k", LLong(300)), FileStats.le("k", LLong(700)))
      assertSame(store.readWhere("t", range), ref.filter(col("k").between(300, 700)),
        s"round $round: readWhere")
      assertSame(store.readPartitions("t", "p", Seq("a b", "50%")),
        ref.filter(col("p").isin("a b", "50%")), s"round $round: readPartitions")
      val diff = store.diffVersions("t", before, head, "k")
      assert(diff.select("k", "change").collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        (keys -- at(before)).map(_ -> "removed"), s"round $round: diffVersions")
      assert(store.countRows("t") == ref.count(), s"round $round: countRows")
      val byPart = store.informationSchemaPartitions("t").collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(byPart == ref.groupBy("p").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
        s"round $round: informationSchemaPartitions")
    }

    // a clone at the DV'd version behind the head
    val behind = store.versions("t").filter(_ != store.headVersion("t")).max
    store.cloneTable("t", "c", Some(behind))
    assertSame(store.read("c"), reference(at(behind)), "clone")
    assert(store.countRows("c") == reference(at(behind)).count(), "clone: countRows")

    // untouched partitions keep their bitmaps through a partial inherit
    store.mergePartitionedWith("t", "p", Seq("50%"))(identity)
    at(store.headVersion("t")) = deleted
    assertSame(store.read("t"), reference(deleted), "mergePartitionedWith")
    delete(Seq.fill(40)(rnd.nextInt(1200).toLong).toSet)

    // below the size of "x"'s two files together, each is a single-file
    // bin, inherited with its bitmap, while the other partitions' smaller
    // files pack into bins that are rewritten
    val xFiles = StoreFiles.head(store, "t").filter(_.toString.contains("p=x"))
    assert(xFiles.size == 2)
    val before = StoreFiles.head(store, "t")
    assert(store.compact("t", targetBytes = xFiles.toSeq.map(Files.size).sum - 1))
    val after = StoreFiles.head(store, "t")
    assert(xFiles.subsetOf(after) && !before.subsetOf(after),
      "the compaction should keep x's files and rewrite some others")
    at(store.headVersion("t")) = deleted
    assert(StoreFiles.headDv(store, "t").nonEmpty, "inherited bins keep their bitmaps")
    assertSame(store.read("t"), reference(deleted), "compact")
    assert(store.countRows("t") == reference(deleted).count(), "compact: countRows")
    checkVersions("compact")
    delete(Seq.fill(40)(rnd.nextInt(1200).toLong).toSet)
    assert(store.compact("t", targetBytes = 1L)) // every bin is one file
    at(store.headVersion("t")) = deleted
    assertSame(store.read("t"), reference(deleted), "compact, single-file bins")

    // restore the version behind the head
    val prior = store.versions("t").filter(_ != store.headVersion("t")).max
    assert(store.restore("t", prior))
    at(store.headVersion("t")) = at(prior)
    assertSame(store.read("t"), reference(at(prior)), "restore")
    checkVersions("restore")
  }

  test("a persisted read of a DV'd version is never served for a later version") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_dvcache").toString)
    store.overwrite("t", batch(0, 600).repartition(2))
    store.deleteRows("t", col("k") % 5 === 0)
    val v = store.headVersion("t")
    val cached = store.read("t").persist()
    try {
      assert(cached.count() == 480)
      def servedFromCache(df: DataFrame) = df.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }.nonEmpty
      assert(servedFromCache(store.readVersion("t", v)),
        "the same version's read should match the persisted plan")
      store.deleteRows("t", col("k") % 7 === 0)
      val again = store.read("t")
      assert(!servedFromCache(again), "a later version was served the cached rows")
      assertSame(again, reference((0L until 600L).filter(k => k % 5 == 0 || k % 7 == 0).toSet
        ++ (600L until 1200L)), "read after the second delete")
    } finally cached.unpersist()
  }
}
