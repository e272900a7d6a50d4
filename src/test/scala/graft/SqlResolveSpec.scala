package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sql
import graft.psn.TableStore

/** One relation resolver for every statement's query: a store table binds
  * by its qualified or bare name wherever a statement reads it, a logical
  * view binds its stored SQL where it is referenced, a WITH name stays the
  * CTE, and time-travel pins bind inside DML subqueries too. */
class SqlResolveSpec extends AnyFunSuite {
  import SqlSurfaceSpec.sortedRows
  import TestSpark._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("resolve_wh").toString)

  test("INSERT … SELECT, CTAS and CREATE VIEW read a store table by its qualified name") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("qt", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    Sql.runCtas(spark, store, sf,
      "CREATE TABLE qc AS SELECT k, v FROM `graft-project.store.qt` " +
        "WHERE k = 1")
    Sql.runInsert(spark, store, sf,
      "INSERT INTO qc SELECT k, v FROM `graft-project.store.qt` WHERE k = 2")
    assert(sortedRows(store.read("qc")) == Seq(Seq(1L, 10L), Seq(2L, 20L)))
    Sql.runCtas(spark, store, sf,
      "CREATE VIEW qv AS SELECT k FROM `graft-project.store.qt` WHERE v > 10")
    Sql.runCtas(spark, store, sf, "CREATE TABLE qn AS SELECT k FROM qv")
    assert(sortedRows(store.read("qn")) == Seq(Seq(2L)))
  }

  test("MERGE USING a store logical view binds the view's stored SQL") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("mt", Seq((1L, 1L), (2L, 2L)).toDF("k", "v"))
    store.overwrite("mraw", Seq((2L, 20L), (3L, 30L), (4L, -1L))
      .toDF("k", "v"))
    Sql.runCtas(spark, store, sf,
      "CREATE VIEW mpos AS SELECT k, v FROM mraw WHERE v > 0")
    Sql.runMerge(spark, store,
      """MERGE INTO mt t USING mpos s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(sortedRows(store.read("mt")) ==
      Seq(Seq(1L, 1L), Seq(2L, 20L), Seq(3L, 30L)))
  }

  test("a view pins its base by qualified name; a WITH name pins nothing") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("qb", Seq((1L, 5L)).toDF("k", "v"))
    Sql.runCtas(spark, store, sf,
      "CREATE VIEW qbv AS SELECT k FROM `graft-project.store.qb`")
    assert(store.viewsReferencing("qb") == Seq("qbv"))
    intercept[IllegalArgumentException](Sql.runDrop(store, "DROP TABLE qb"))
    intercept[IllegalArgumentException](
      Sql.runAlter(store, "ALTER TABLE qb RENAME TO qb2"))
    Sql.runDrop(store, "DROP VIEW qbv")
    // a CTE named like the base is the view's own relation, not the base
    store.createView("ctev", "WITH qb AS (SELECT 1 AS k) SELECT k FROM qb")
    assert(store.viewsReferencing("qb").isEmpty)
    Sql.runDrop(store, "DROP TABLE qb")
    assert(!store.exists("qb"))
  }

  test("a CTE named like a store table resolves to the CTE") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("ct", Seq((1L, 10L)).toDF("k", "v"))
    Sql.runCtas(spark, store, sf,
      """CREATE TABLE cto AS
        |WITH ct AS (SELECT CAST(7 AS BIGINT) AS k, CAST(70 AS BIGINT) AS v)
        |SELECT k, v FROM ct""".stripMargin)
    assert(sortedRows(store.read("cto")) == Seq(Seq(7L, 70L)))
  }

  test("a CREATE OR REPLACE VIEW that makes a view cycle is loud when the view is referenced") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("cyb", Seq(1L).toDF("k"))
    Sql.runScript(spark, store, sf,
      """CREATE VIEW ca AS SELECT k FROM cyb;
        |CREATE VIEW cb AS SELECT k FROM ca;""".stripMargin)
    Sql.runCtas(spark, store, sf,
      "CREATE OR REPLACE VIEW ca AS SELECT k FROM cb")
    // loud (never a StackOverflowError, which is not an Exception)
    val e = intercept[Exception](Sql.runCtas(spark, store, sf,
      "CREATE TABLE cyo AS SELECT k FROM ca"))
    assert(e.getMessage.contains("ca"))
    assert(!store.exists("cyo"))
  }

  test("DELETE … IN (SELECT … VERSION AS OF 1) reads v1's keys and commits on the head") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("dt", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    store.overwrite("dt", Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v"))
    val head = store.versions("dt").max
    Sql.runDelete(spark, store,
      "DELETE FROM dt WHERE k IN (SELECT k FROM dt VERSION AS OF 1)")
    assert(sortedRows(store.read("dt")) == Seq(Seq(3L, "c"), Seq(4L, "d")))
    assert(store.versions("dt").max == head + 1)
    assert(store.readVersion("dt", head).count() == 4)
  }

  test("a DELETE predicate's scalar subquery reads the store") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("ds", Seq((1L, 5L), (2L, 50L), (3L, 500L)).toDF("k", "v"))
    assert(Sql.runDeleteWhere(spark, store,
      "DELETE FROM ds WHERE v > (SELECT AVG(v) FROM `graft-project.store.ds`)")
      == 1L)
    assert(sortedRows(store.read("ds")) == Seq(Seq(1L, 5L), Seq(2L, 50L)))
  }
}
