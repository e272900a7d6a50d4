package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.psn.TableStore

/** TableStore.compact: the small-files maintenance op. Asserts the three
  * properties that make it safe and scale-shaped: logical content is
  * byte-identical across the compaction commit, file count collapses to
  * the bin packing, and files already at target size are inherited by
  * name rather than rewritten — I/O bounded by the SMALL files.
  */
class CompactSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def dataFiles(p: Path): Seq[Path] =
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f))
      .filter { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.toSeq

  private def versionDir(wh: String, table: String): Path = {
    val d = Paths.get(wh, table)
    val v = Files.readString(d.resolve("_current")).trim
    d.resolve(v)
  }

  test("compact packs small appends into one file, content unchanged") {
    val wh = Files.createTempDirectory("compact_wh").toString
    val store = new TableStore(spark, wh)
    (1 to 6).foreach { i =>
      store.append("t", Seq((i.toLong, s"row$i")).toDF("id", "s").coalesce(1))
    }
    val before = store.read("t").collect().map(_.toString).sorted.toSeq
    // each append commits a version that names its base's files
    assert(StoreFiles.head(store, "t").size >= 6)

    assert(store.compact("t"))
    val after = store.read("t").collect().map(_.toString).sorted.toSeq
    assert(after == before)
    assert(StoreFiles.head(store, "t") == dataFiles(versionDir(wh, "t")).toSet)
    assert(dataFiles(versionDir(wh, "t")).size == 1)
  }

  test("files at target size are hard-linked, not rewritten") {
    val wh = Files.createTempDirectory("compact_wh2").toString
    val store = new TableStore(spark, wh)
    // one deliberately-large file, then a trickle of small appends
    store.append("t", (0L until 20000L).toDF("id")
      .withColumn("pad", org.apache.spark.sql.functions
        .md5(org.apache.spark.sql.functions.col("id").cast("string")))
      .coalesce(1))
    (1 to 4).foreach { i =>
      store.append("t", Seq((100000L + i, s"x$i")).toDF("id", "pad")
        .coalesce(1))
    }
    val vOld = versionDir(wh, "t")
    val big = StoreFiles.head(store, "t").maxBy(Files.size)
    val bigSize = Files.size(big)
    val before = store.read("t").count()

    // target below the big file's size → it bins alone → inherited
    assert(store.compact("t", targetBytes = bigSize - 1))
    val vNew = versionDir(wh, "t")
    assert(vNew != vOld)
    val named = StoreFiles.head(store, "t")
    assert(named(big) && !dataFiles(vNew).exists(f => Files.size(f) == bigSize),
      "large file must ride into the new version by name, not as a copy")
    // the four small files packed together, written into the new version
    assert(named.size == 2 && dataFiles(vNew).size == 1)
    assert(store.read("t").count() == before)
  }

  test("many bins rewrite CONCURRENTLY — wall time tracks max-bin, not bin count") {
    val wh = Files.createTempDirectory("compact_wh4").toString
    val store = new TableStore(spark, wh)
    // 4 partition dirs × 5 small appends each = 20 files in 4 bins (the
    // default 128 MB target packs each dir into one bin) → 4 rewrite jobs.
    (1 to 5).foreach { i =>
      store.append("t",
        (0 until 4).map(p => (i.toLong, s"p$p", s"r$i")).toDF("id", "part", "s")
          .repartition(4, org.apache.spark.sql.functions.col("part")), Some("part"))
    }
    val before = store.read("t").collect().map(_.toString).sorted.toSeq
    assert(StoreFiles.head(store, "t").size >= 20)
    assert(store.compact("t", parallelism = 4))
    // one output file per partition directory, content unchanged
    assert(dataFiles(versionDir(wh, "t"))
      .groupBy(_.getParent).values.forall(_.size == 1))
    assert(store.read("t").collect().map(_.toString).sorted.toSeq == before)
    // the scale property: bin rewrites overlap (a driver loop of
    // sequential jobs would show peak 1 and serialize thousands of tiny
    // jobs at 100× small-file counts)
    assert(store.lastCompactConcurrency >= 2,
      s"expected overlapping bin jobs, peak was ${store.lastCompactConcurrency}")
  }

  test("partitioned tables compact within their partition directories") {
    val wh = Files.createTempDirectory("compact_wh3").toString
    val store = new TableStore(spark, wh)
    (1 to 3).foreach { i =>
      store.append("t",
        Seq((i.toLong, "a", s"r$i"), (i.toLong, "b", s"r$i"))
          .toDF("id", "part", "s").repartition(2), Some("part"))
    }
    val before = store.read("t").collect().map(_.toString).sorted.toSeq
    assert(store.compact("t"))
    val vNew = versionDir(wh, "t")
    val parts = Files.list(vNew).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(parts == Set("part=a", "part=b"))
    assert(dataFiles(vNew).groupBy(_.getParent).values.forall(_.size == 1))
    assert(store.read("t").collect().map(_.toString).sorted.toSeq == before)
  }
}
