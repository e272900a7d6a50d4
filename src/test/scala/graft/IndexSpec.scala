package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Indexes, Sql}
import graft.psn.TableStore

/** Secondary-index surface (r14 verdict next-1/next-8): indexes are
  * committed store tables with a base-state stamp; a probe of an index
  * whose base advanced — by ANY write shape — must refuse loudly, never
  * silently serve stale candidates; REFRESH INDEX is the explicit heal;
  * lifecycle guards mirror the MV discipline (drop-cascade, rename
  * refusal, view refusal). */
class IndexSpec extends AnyFunSuite {
  import TestSpark._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("idx_wh").toString)

  private def seed(store: TableStore): Unit = {
    import spark.implicits._
    store.overwrite("docs",
      Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("id", "body"))
  }

  test("every base write shape staleness-gates the probe; REFRESH heals") {
    import spark.implicits._
    val store = freshStore()
    seed(store)
    Sql.runCreateIndex(spark, store,
      "CREATE INDEX di ON docs (id, body) USING HASH")
    assert(Indexes.probe(spark, store, "di").count() == 3)

    // append: a new version over more files -> stale
    store.append("docs", Seq((4L, "aa")).toDF("id", "body"))
    val e1 = intercept[IllegalArgumentException](
      Indexes.probe(spark, store, "di"))
    assert(e1.getMessage.contains("STALE") &&
      e1.getMessage.contains("REFRESH INDEX di"))
    Sql.runRefreshIndex(spark, store, "REFRESH INDEX di")
    val h = Indexes.probe(spark, store, "di")
      .groupBy("h").count().filter(col("count") > 1).collect()
    assert(h.length == 1 && h.head.getLong(1) == 3) // "aa" x3

    // rewrite (merge/overwrite): version bump -> stale
    store.overwrite("docs", Seq((9L, "zz")).toDF("id", "body"))
    intercept[IllegalArgumentException](Indexes.probe(spark, store, "di"))
    Sql.runRefreshIndex(spark, store, "REFRESH INDEX di")
    assert(Indexes.probe(spark, store, "di").count() == 1)

    // the gate errs toward refusal: even a zero-row append's file
    // lands as staleness, and REFRESH restores service unchanged
    store.append("docs", Seq.empty[(Long, String)].toDF("id", "body"))
    Sql.runRefreshIndex(spark, store, "REFRESH INDEX di")
    assert(Indexes.probe(spark, store, "di").count() == 1)
  }

  test("lifecycle guards: view refusal, duplicate refusal, OR REPLACE, drop-cascade, rename refusal") {
    import spark.implicits._
    val store = freshStore()
    seed(store)
    store.createView("dv", "SELECT id FROM docs")
    // indexes attach to stored tables, not logical views
    intercept[IllegalArgumentException](Sql.runCreateIndex(spark, store,
      "CREATE INDEX vi ON dv (id, id) USING HASH"))
    Sql.runCreateIndex(spark, store,
      "CREATE INDEX di ON docs (id, body) USING HASH")
    intercept[IllegalArgumentException](Sql.runCreateIndex(spark, store,
      "CREATE INDEX di ON docs (id, body) USING HASH"))
    Sql.runCreateIndex(spark, store,
      "CREATE OR REPLACE INDEX di ON docs (id, body) USING HASH")
    // unsupported kind is loud
    intercept[IllegalArgumentException](Sql.runCreateIndex(spark, store,
      "CREATE INDEX k2 ON docs (id, body) USING BTREE"))

    // rename refused while an index pins the base by name
    val e = intercept[IllegalArgumentException](Sql.runAlter(store,
      "ALTER TABLE docs RENAME TO docs2"))
    assert(e.getMessage.contains("di"))

    // DROP TABLE cascades: the index dies with its base (the view must
    // go first — viewsReferencing guards the base independently)
    store.dropView("dv")
    Sql.runDrop(store, "DROP TABLE docs")
    assert(!Indexes.exists(store, "di"))
    intercept[IllegalArgumentException](
      Sql.runDrop(store, "DROP INDEX di"))
    Sql.runDrop(store, "DROP INDEX IF EXISTS di") // not-found-ok
  }

  test("index tables are hidden derived state: never listed as user tables") {
    import spark.implicits._
    val store = freshStore()
    seed(store)
    Sql.runCreateIndex(spark, store,
      "CREATE INDEX di ON docs (id, body) USING HASH")
    assert(store.tables() == Seq("docs"))
    assert(Indexes.list(store) == Seq("di"))
  }
}
