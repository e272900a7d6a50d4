package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.psn.{MvAgg, TableStore}

/** Aggregate materialized views (TableStore.createMaterializedView /
  * readMaterialized / refreshMaterializedView): stored rows + append-
  * delta combine must equal the full recompute; a base REWRITE must
  * fall back to the full recompute; REFRESH re-pins the cheap path. */
class MaterializedViewSpec extends AnyFunSuite {
  import TestSpark._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("mv_wh").toString)

  private def rows(store: TableStore, ks: (String, Int, Double)*) = {
    import spark.implicits._
    ks.toSeq.toDF("g", "k", "x")
      .withColumn("x", col("x").cast("decimal(20,2)"))
  }

  private val aggs = Seq(MvAgg("n", "COUNT", "*"), MvAgg("s", "SUM", "x"),
    MvAgg("mn", "MIN", "k"), MvAgg("mx", "MAX", "k"))

  private def got(store: TableStore) =
    store.readMaterialized("mv").orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue(), r.getInt(3), r.getInt(4))).toSeq

  test("fresh MV serves stored rows; append combines; refresh re-pins") {
    val store = freshStore()
    store.overwrite("base", rows(store, ("a", 1, 1.5), ("a", 2, 2.5),
      ("b", 7, 10.0)))
    store.createMaterializedView("mv", "base", Seq("g"), aggs)
    assert(store.mvDeltaFiles("mv") == 0)
    assert(got(store) == Seq(("a", 2L, 4.0, 1, 2), ("b", 1L, 10.0, 7, 7)))

    // append: stored rows are now stale; the read must combine
    store.append("base", rows(store, ("a", 9, 0.5), ("c", 3, 3.0)))
    assert(store.mvDeltaFiles("mv") >= 1)
    assert(got(store) == Seq(("a", 3L, 4.5, 1, 9), ("b", 1L, 10.0, 7, 7),
      ("c", 1L, 3.0, 3, 3)))
    // and the STORED rows really were stale (combine did the work)
    assert(store.read("mv").count() == 2)

    store.refreshMaterializedView("mv")
    assert(store.mvDeltaFiles("mv") == 0)
    assert(store.read("mv").count() == 3)
    assert(got(store) == Seq(("a", 3L, 4.5, 1, 9), ("b", 1L, 10.0, 7, 7),
      ("c", 1L, 3.0, 3, 3)))
  }

  test("a base REWRITE falls back to full recompute (never a wrong fast answer)") {
    val store = freshStore()
    store.overwrite("base", rows(store, ("a", 1, 1.0), ("a", 2, 2.0),
      ("b", 5, 5.0)))
    store.createMaterializedView("mv", "base", Seq("g"), aggs)
    // a transactional rewrite drops the covered files: file algebra is out
    store.mergeWith("base")(_.filter(col("k") =!= 2))
    assert(store.mvDeltaFiles("mv") == 0) // no delta once a covered file is gone
    assert(got(store) == Seq(("a", 1L, 1.0, 1, 1), ("b", 1L, 5.0, 5, 5)))
    // refresh re-pins to the new version; cheap path is back
    store.refreshMaterializedView("mv")
    store.append("base", rows(store, ("b", 6, 1.0)))
    assert(store.mvDeltaFiles("mv") >= 1)
    assert(got(store) == Seq(("a", 1L, 1.0, 1, 1), ("b", 2L, 6.0, 5, 6)))
  }

  test("deletion-vector delete on the base is a version bump → recompute") {
    val store = freshStore()
    store.overwrite("base", rows(store, ("a", 1, 1.0), ("a", 2, 2.0)))
    store.createMaterializedView("mv", "base", Seq("g"), aggs)
    store.deleteRows("base", col("k") === 1)
    assert(store.mvDeltaFiles("mv") == 0) // a new vector file: no delta
    assert(got(store) == Seq(("a", 1L, 2.0, 2, 2)))
    // refreshed over the deleted-from base, the view grows incrementally
    // again: an append keeps every covered file and the same vector files
    store.refreshMaterializedView("mv")
    store.append("base", rows(store, ("a", 5, 1.0)))
    assert(store.mvDeltaFiles("mv") == 1)
    assert(got(store) == Seq(("a", 2L, 3.0, 2, 5)))
  }

  test("SQL front-end: restricted select list enforced loudly") {
    val store = freshStore()
    store.overwrite("base", rows(store, ("a", 1, 1.0)))
    val dir = "/root/testdata/sf0.001"
    graft.ops.Sql.runScript(spark, store, dir,
      """CREATE MATERIALIZED VIEW `p.d.m` AS
        |  SELECT g, COUNT(*) AS n, SUM(x) AS s, MIN(k) AS mn,
        |    MAX(k) AS mx
        |  FROM `p.d.base` GROUP BY g;""".stripMargin)
    assert(store.isMaterializedView("m"))
    assert(store.readMaterialized("m").count() == 1)
    // AVG is outside the combinable class — loud, like BigQuery
    intercept[IllegalArgumentException] {
      graft.ops.Sql.runScript(spark, store, dir,
        "CREATE MATERIALIZED VIEW `p.d.m2` AS SELECT g, AVG(x) AS a " +
          "FROM `p.d.base` GROUP BY g;")
    }
    // a select-list key missing from GROUP BY is loud
    intercept[IllegalArgumentException] {
      graft.ops.Sql.runScript(spark, store, dir,
        "CREATE MATERIALIZED VIEW `p.d.m3` AS SELECT g, k, COUNT(*) AS n " +
          "FROM `p.d.base` GROUP BY g;")
    }
    // REFRESH on a non-MV is loud
    intercept[IllegalArgumentException] {
      graft.ops.Sql.runScript(spark, store, dir,
        "REFRESH MATERIALIZED VIEW `p.d.base`;")
    }
  }

  test("hive-partitioned base keeps its partition column through the delta") {
    val store = freshStore()
    import spark.implicits._
    def part(ks: (String, Int)*) = ks.toSeq.toDF("g", "k")
    store.append("pb", part(("a", 1), ("b", 2)), Some("g"))
    store.createMaterializedView("pmv", "pb", Seq("g"),
      Seq(MvAgg("n", "COUNT", "*"), MvAgg("mx", "MAX", "k")))
    store.append("pb", part(("a", 9)), Some("g"))
    assert(store.mvDeltaFiles("pmv") >= 1)
    val out = store.readMaterialized("pmv").orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq(("a", 2L, 9), ("b", 1L, 2)))
  }

  test("direct DML on an MV is refused; dropping a pinned base is refused") {
    val store = freshStore()
    store.append("base", rows(store, ("a", 1, 1.0), ("b", 2, 2.0)))
    store.createMaterializedView("mv", "base", Seq("g"), aggs)
    val extra = rows(store, ("c", 3, 3.0))
      .groupBy(col("g")).agg(count(lit(1)).as("n"),
        sum(col("x")).as("s"), min(col("k")).as("mn"),
        max(col("k")).as("mx"))
    // every user mutator refuses the derived table
    intercept[IllegalArgumentException] { store.append("mv", extra) }
    intercept[IllegalArgumentException] { store.overwrite("mv", extra) }
    intercept[IllegalArgumentException] {
      store.mergeWith("mv")(cur => cur)
    }
    intercept[IllegalArgumentException] {
      store.deleteRows("mv", col("g") === "a")
    }
    // the base cannot vanish under the view; retiring the view first works
    intercept[IllegalArgumentException] { store.drop("base") }
    store.drop("mv")
    store.drop("base")
    assert(!store.exists("base"))
    // REFRESH (the sanctioned maintenance verb) still writes fine
    val store2 = freshStore()
    store2.append("base", rows(store2, ("a", 1, 1.0)))
    store2.createMaterializedView("mv", "base", Seq("g"), aggs)
    store2.append("base", rows(store2, ("a", 5, 4.0)))
    store2.refreshMaterializedView("mv")
    assert(store2.mvDeltaFiles("mv") == 0)
  }
}
