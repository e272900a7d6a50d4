package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.ops.Sql
import graft.psn.TableStore

/** CHECK constraints: declared via addConstraint / ALTER TABLE, enforced
  * as an assert_true filter fused into every write's plan. Invariants
  * under test: ADD validates existing rows; a violating write ABORTS and
  * leaves the committed table byte-identical (enforcement composes with
  * the commit protocol); NULL passes a CHECK (ANSI — NOT NULL is spelled
  * `x IS NOT NULL`); DROP re-allows and is loud when absent.
  */
class ConstraintsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("ck_wh").toString)

  test("add validates existing rows; violating writes abort on every path") {
    val store = freshStore()
    store.overwrite("t", Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"))
    // existing data already breaks this: never recorded
    intercept[IllegalArgumentException](
      store.addConstraint("t", "big", "x > 15"))
    assert(store.constraints("t").isEmpty)

    store.addConstraint("t", "pos", "x > 0")
    store.append("t", Seq((3L, 30.0)).toDF("k", "x")) // valid: passes
    val before = store.read("t").collect().map(_.toString).sorted.toSeq
    val v = store.versions("t").last
    // an append aborts
    intercept[Throwable](
      store.append("t", Seq((4L, -1.0)).toDF("k", "x")))
    // transactional rewrite aborts, commit never publishes
    intercept[Throwable](
      store.mergeWith("t")(cur => cur.withColumn("x", -col("x"))))
    assert(store.versions("t").last == v)
    assert(store.read("t").collect().map(_.toString).sorted.toSeq == before)
  }

  test("a failed append leaves only an unpublished claim; vacuum sweeps it") {
    val wh = Files.createTempDirectory("ck_wh_claim")
    val store = new TableStore(spark, wh.toString)
    store.overwrite("t", Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"))
    store.addConstraint("t", "pos", "x > 0")
    store.append("t", Seq((3L, 30.0)).toDF("k", "x"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val (versions, before, head) =
      (store.versions("t"), rows(store.read("t")), store.versions("t").max)
    val history = rows(store.history("t"))
    def claims(): Set[Int] = {
      val s = Files.list(wh.resolve("t"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("v\\d+")).map(_.drop(1).toInt).toSet
      finally s.close()
    }
    val dirsBefore = claims()

    intercept[Throwable](store.append("t", Seq((4L, -1.0)).toDF("k", "x")))
    val orphans = claims() -- dirsBefore
    assert(orphans.size == 1 && orphans.head > head, s"claims $orphans")
    // no reader sees the claim: same versions, log, rows, counts and files
    assert(store.versions("t") == versions)
    assert(rows(store.history("t")) == history)
    assert(rows(store.read("t")) == before)
    assert(store.countRows("t") == before.length)
    assert(store.fileCount("t") == store.namedFiles("t", head)._1.length)
    versions.foreach(v => store.readVersion("t", v).collect())

    assert(store.vacuum("t", 0L) == orphans.toSeq)
    assert(claims() == dirsBefore)
    assert(rows(store.read("t")) == before)
  }

  test("NULL passes CHECK (ANSI); IS NOT NULL spells NOT NULL") {
    val store = freshStore()
    store.overwrite("t", Seq((1L, Some(1.0))).toDF("k", "x"))
    store.addConstraint("t", "pos", "x > 0")
    // x = NULL: `x > 0` is NULL, not FALSE — the row passes
    store.append("t", Seq((2L, None: Option[Double])).toDF("k", "x"))
    assert(store.read("t").count() == 2)
    // but an explicit NOT NULL constraint cannot even be DECLARED now
    intercept[IllegalArgumentException](
      store.addConstraint("t", "xnn", "x IS NOT NULL"))
  }

  test("drop re-allows; dropping a missing constraint is loud") {
    val store = freshStore()
    store.overwrite("t", Seq((1L, 1.0)).toDF("k", "x"))
    store.addConstraint("t", "pos", "x > 0")
    store.dropConstraint("t", "pos")
    store.append("t", Seq((2L, -5.0)).toDF("k", "x")) // no longer enforced
    assert(store.read("t").count() == 2)
    intercept[IllegalArgumentException](store.dropConstraint("t", "pos"))
  }

  test("ALTER TABLE verbs parse and dispatch; junk is loud") {
    val store = freshStore()
    store.overwrite("ct", Seq((1L, 5.0)).toDF("k", "x"))
    Sql.runAlter(store,
      "ALTER TABLE `graft-project.store.ct` ADD CONSTRAINT pos CHECK (x > 0)")
    assert(store.constraints("ct") == Seq("pos" -> "x > 0"))
    Sql.runAlter(store, "ALTER TABLE ct DROP CONSTRAINT pos")
    assert(store.constraints("ct").isEmpty)
    // ADD COLUMN is a real verb now (metadata-only evolution)…
    Sql.runAlter(store, "ALTER TABLE ct ADD COLUMN y INT")
    assert(store.read("ct").columns.toSeq == Seq("k", "x", "y"))
    // RENAME COLUMN joined the surface in q99 — it dispatches now, and
    // composes with the metadata-only evolution above: the rewrite must
    // re-declare ITS schema, not inherit the pre-rename sidecar (which
    // would silently null-fill x and hide z)
    Sql.runAlter(store, "ALTER TABLE ct RENAME COLUMN x TO z")
    assert(store.read("ct").columns.toSeq == Seq("k", "z", "y"))
    assert(store.read("ct").select("z").collect().map(_.getDouble(0))
      .toSeq == Seq(5.0))
    // …but DDL outside the surface stays loud.
    intercept[IllegalArgumentException](
      Sql.runAlter(store, "ALTER TABLE ct SET OPTIONS (ttl = 3)"))
    intercept[IllegalArgumentException](
      Sql.runAlter(store, "ALTER TABLE ct ADD CONSTRAINT p-q CHECK (x > 0)"))
  }
}
