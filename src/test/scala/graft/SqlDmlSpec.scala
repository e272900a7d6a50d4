package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sql
import graft.psn.TableStore

/** Statement-level DML front-end (VERDICT r7 missing-1): the reference
  * executes its upsert as SQL text (main.py:274-284 `UPDATE … FROM temp
  * WHERE target.id = temp.id`); Sql.runDml must accept that literal
  * statement and route it through TableStore.mergeWith with BigQuery's
  * UPDATE-FROM semantics. */
class SqlDmlSpec extends AnyFunSuite {
  import SqlSurfaceSpec.{sameAsSpark, sortedRows}
  import TestSpark._

  /** The reference's statement VERBATIM (main.py:274-284), fully-qualified
    * backticked ids and all — only the table ids' project/dataset prefix
    * differs, which the parser discards. */
  private val referenceText =
    """
    UPDATE `my-project.playstation.game` target
    SET target.last_played_date_time = temp.last_played_date_time,
        target.play_count = temp.play_count,
        target.play_duration = temp.play_duration
    FROM `my-project.playstation.game_temp` temp
    WHERE target.id = temp.id
    """

  test("parses the reference's literal UPDATE-FROM text") {
    import spark.implicits._
    val store = freshStore()
    val cols = Seq("id", "last_played_date_time", "play_count", "play_duration")
    store.overwrite("game", Seq((1L, "t1", 10L, "PT1H"),
      (2L, "t2", 20L, "PT2H")).toDF(cols: _*))
    store.overwrite("game_temp", Seq((2L, "t2b", 21L, "PT3H")).toDF(cols: _*))
    Sql.runDml(spark, store, referenceText)
    // the project.dataset prefix is discarded: the store's own `game`
    // took every SET column from the matched temp row, `game_temp` is
    // untouched
    assert(sortedRows(store.read("game")) == Seq(
      Seq(1L, "t1", 10L, "PT1H"), Seq(2L, "t2b", 21L, "PT3H")))
    assert(sortedRows(store.read("game_temp")) ==
      Seq(Seq(2L, "t2b", 21L, "PT3H")))
  }

  test("alias-flipped WHERE and unqualified SET lhs parse; junk is loud") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("t1", Seq((1L, 10L), (2L, 20L)).toDF("k2", "x"))
    store.overwrite("t2", Seq((1L, 4L)).toDF("k", "y"))
    Sql.runDml(spark, store,
      "UPDATE t1 a SET x = b.y FROM t2 b WHERE b.k = a.k2")
    assert(sortedRows(store.read("t1")) == Seq(Seq(1L, 4L), Seq(2L, 20L)))
    // column-column arithmetic is part of the surface (the
    // running-balance shape)
    Sql.runDml(spark, store,
      "UPDATE t1 a SET a.x = a.x - b.y FROM t2 b WHERE a.k2 = b.k")
    assert(sortedRows(store.read("t1")) == Seq(Seq(1L, 0L), Seq(2L, 20L)))
    intercept[IllegalArgumentException] { // FROM without alias and WHERE
      Sql.runDml(spark, store, "UPDATE t1 a SET a.x = b.y FROM t2")
    }
    intercept[IllegalArgumentException] { // WHERE names a third alias
      Sql.runDml(spark, store,
        "UPDATE t1 a SET a.x = b.y FROM t2 b WHERE a.k2 = c.k")
    }
    assert(sortedRows(store.read("t1")) == Seq(Seq(1L, 0L), Seq(2L, 20L)))
  }

  test("multi-predicate WHERE: one join equality plus literal residuals") {
    import spark.implicits._
    val store = freshStore()
    def d(iso: String) = java.sql.Date.valueOf(iso)
    store.overwrite("t1", Seq(
      (1L, 1L, d("1994-06-01"), d("1994-01-01"), 0L),
      (2L, 1L, d("1995-06-01"), d("1996-01-01"), 0L),
      (3L, 2L, d("1996-06-01"), d("1990-01-01"), 0L))
      .toDF("k", "j", "d", "e", "x"))
    store.overwrite("t2", Seq((1L, 1L, 60000L, 7L), (2L, 2L, 60000L, 8L),
      (3L, 2L, 10L, 9L)).toDF("k", "j", "v", "y"))
    Sql.runDml(spark, store,
      "UPDATE t1 a SET a.x = b.y FROM t2 b " +
        "WHERE a.k = b.k AND a.d >= DATE '1995-01-01' AND b.v > 50000")
    // k=1 fails the target-side date guard, k=3 the source-side value
    // guard: both stay untouched
    assert(store.read("t1").select("k", "x").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 0L), (2L, 8L), (3L, 0L)))
    // two join equalities and a column-vs-column residual execute, and
    // equal Spark's own left join over the same inputs
    val oracle = (on: String) =>
      "SELECT a.k, a.j, a.d, a.e, CASE WHEN b.k IS NULL THEN a.x " +
        s"ELSE b.y END FROM t1_in a LEFT JOIN t2_in b ON $on"
    sameAsSpark(store, "t1",
      "UPDATE t1 a SET a.x = b.y FROM t2 b WHERE a.k = b.k AND a.j = b.j",
      oracle("a.k = b.k AND a.j = b.j"), "t1", "t2")
    sameAsSpark(store, "t1",
      "UPDATE t1 a SET a.x = b.y FROM t2 b WHERE a.k = b.k AND a.d >= a.e",
      oracle("a.k = b.k AND a.d >= a.e"), "t1", "t2")
  }

  test("CASE expressions execute in SET, connectives in the condition included") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("t1", Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))
      .toDF("k", "x", "n"))
    store.overwrite("t2", Seq((1L, 500L, 5L), (2L, 50L, 20L))
      .toDF("k", "amt", "v"))
    Sql.runDml(spark, store,
      "UPDATE t1 a SET a.x = CASE WHEN b.amt > 100 THEN 'H' ELSE a.x END " +
        "FROM t2 b WHERE a.k = b.k")
    assert(sortedRows(store.read("t1")) ==
      Seq(Seq(1L, "H", 0L), Seq(2L, "b", 0L), Seq(3L, "c", 0L)))
    // AND in the CASE condition executes and equals Spark's own CASE
    sameAsSpark(store, "t1",
      "UPDATE t1 a SET a.n = CASE WHEN b.v > 1 AND b.v < 9 THEN 1 " +
        "ELSE 2 END FROM t2 b WHERE a.k = b.k",
      "SELECT a.k, a.x, CASE WHEN b.k IS NULL THEN a.n " +
        "WHEN b.v > 1 AND b.v < 9 THEN 1 ELSE 2 END " +
        "FROM t1_in a LEFT JOIN t2_in b ON a.k = b.k", "t1", "t2")
  }

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("dml_wh").toString)

  test("runDml on the reference text: matched rows take source values (including NULL), unmatched untouched") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game",
      Seq((1L, "t1", 10L, "PT1H"), (2L, "t2", 20L, "PT2H"),
        (3L, "t3", 30L, "PT3H"))
        .toDF("id", "last_played_date_time", "play_count", "play_duration"))
    // id=1 gets new values; id=2 gets an explicit NULL duration (UPDATE is
    // assignment, not coalesce); id=3 is unmatched
    store.overwrite("game_temp",
      Seq((1L, "t1b", 11L, Some("PT9H")), (2L, "t2b", 22L, None))
        .toDF("id", "last_played_date_time", "play_count", "play_duration"))
    Sql.runDml(spark, store, referenceText)
    val got = store.read("game").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)))).toSeq
    assert(got == Seq(
      (1L, "t1b", 11L, Some("PT9H")),
      (2L, "t2b", 22L, None),
      (3L, "t3", 30L, Some("PT3H"))))
    // the update went through the versioned commit protocol
    assert(store.versions("game").nonEmpty)
  }

  test("SET is simultaneous assignment: every rhs reads the PRE-update " +
      "row (the swap statement works)") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("acct", Seq((1L, 100L, 7L)).toDF("id", "a", "b"))
    store.overwrite("acct_src", Seq((1L, 1000L)).toDF("id", "amt"))
    // a and b swap THROUGH the source row's amt: if assignments chained
    // (each reading the half-updated row), b would see the new a
    Sql.runDml(spark, store,
      """UPDATE acct t SET t.a = t.b + s.amt, t.b = t.a + s.amt
        |FROM acct_src s WHERE t.id = s.id""".stripMargin)
    val got = store.read("acct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1007L, 1100L))) // old b + amt, old a + amt
  }

  test("target-side WHERE residuals leave failing matched rows " +
      "UNTOUCHED (never deleted, never updated)") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("g2", Seq((1L, 10L, 5L), (2L, 20L, 50L))
      .toDF("id", "v", "guard"))
    store.overwrite("g2_src", Seq((1L, 111L), (2L, 222L))
      .toDF("id", "nv"))
    Sql.runDml(spark, store,
      "UPDATE g2 t SET t.v = s.nv FROM g2_src s " +
        "WHERE t.id = s.id AND t.guard > 10")
    val got = store.read("g2").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 222L))) // id=1 fails the guard
  }

  test("multi-match source keys are an error, not a silent pick") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game", Seq((1L, 5L)).toDF("id", "play_count"))
    store.overwrite("game_temp",
      Seq((1L, 6L), (1L, 7L)).toDF("id", "play_count"))
    val e = intercept[IllegalArgumentException] {
      Sql.runDml(spark, store,
        "UPDATE `p.d.game` t SET t.play_count = s.play_count " +
          "FROM `p.d.game_temp` s WHERE t.id = s.id")
    }
    assert(e.getMessage.contains("multiple rows"))
  }

  test("source falls back to a session temp view when not in the store") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game", Seq((1L, 5L), (2L, 6L)).toDF("id", "play_count"))
    Seq((2L, 60L)).toDF("id", "play_count")
      .createOrReplaceTempView("dml_updates_view")
    Sql.runDml(spark, store,
      "UPDATE game t SET t.play_count = s.play_count " +
        "FROM dml_updates_view s WHERE t.id = s.id")
    assert(store.read("game").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 5L), (2L, 60L)))
  }

  private val mergeText =
    """
    MERGE INTO `my-project.playstation.game` t
    USING `my-project.playstation.game_src` s
    ON t.id = s.id
    WHEN MATCHED THEN UPDATE SET t.play_count = s.play_count
    WHEN NOT MATCHED THEN INSERT (id, play_count)
      VALUES (s.id, s.play_count)
    """

  test("parses MERGE INTO: DELETE clauses, predicated WHENs, reachability; junk is loud") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game", Seq((1L, 10L), (3L, 30L)).toDF("id", "play_count"))
    store.overwrite("game_src",
      Seq((1L, 11L), (2L, 22L)).toDF("id", "play_count"))
    Sql.runMerge(spark, store, mergeText)
    assert(sortedRows(store.read("game")) ==
      Seq(Seq(1L, 11L), Seq(2L, 22L), Seq(3L, 30L)))
    // the full clause surface executes: predicated DELETE (target-side
    // pred), unpredicated UPDATE behind it, predicated INSERT
    // (source-side pred) — in statement order
    store.overwrite("a", Seq((1L, "F", 10L), (2L, "O", 20L), (3L, "O", 30L))
      .toDF("id", "status", "v"))
    store.overwrite("b", Seq((1L, 11L), (2L, 22L), (4L, 5L), (5L, 50L))
      .toDF("id", "v"))
    Sql.runMerge(spark, store,
      "MERGE INTO a t USING b s ON t.id = s.id " +
        "WHEN MATCHED AND t.status = 'F' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET t.v = s.v " +
        "WHEN NOT MATCHED AND s.v > 10 THEN INSERT (id, v) " +
        "VALUES (s.id, s.v)")
    assert(sortedRows(store.read("a")) ==
      Seq(Seq(2L, "O", 22L), Seq(3L, "O", 30L), Seq(5L, null, 50L)))
    // a bare DELETE-only statement is legal ANSI MERGE
    Sql.runMerge(spark, store,
      "MERGE INTO a t USING b s ON t.id = s.id WHEN MATCHED THEN DELETE")
    assert(sortedRows(store.read("a")) == Seq(Seq(3L, "O", 30L)))
    // reachability rule: a non-final unpredicated clause in a match
    // group makes later clauses dead code — loud, not silent
    intercept[IllegalArgumentException] {
      Sql.runMerge(spark, store, "MERGE INTO a t USING b s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET t.v = s.v")
    }
    intercept[IllegalArgumentException] { // pred on a third alias
      Sql.runMerge(spark, store, "MERGE INTO a t USING b s ON t.id = s.id " +
        "WHEN MATCHED AND x.v = 1 THEN DELETE")
    }
    intercept[IllegalArgumentException] { // misaligned INSERT list
      Sql.runMerge(spark, store,
        mergeText.replace("(id, play_count)", "(id)"))
    }
    assert(sortedRows(store.read("a")) == Seq(Seq(3L, "O", 30L)))
  }

  test("runMerge executes DELETE + predicated clauses, first-match-wins in statement order") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game",
      Seq((1L, "F", 10L), (2L, "O", 20L), (3L, "F", 30L))
        .toDF("id", "status", "v"))
    store.overwrite("game_src",
      Seq((1L, 11L), (2L, 22L), (4L, 5L), (5L, 50L)).toDF("id", "v"))
    Sql.runMerge(spark, store,
      """MERGE INTO game t USING game_src s ON t.id = s.id
        |WHEN MATCHED AND t.status = 'F' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED AND s.v > 10 THEN INSERT (id, v)
        |  VALUES (s.id, s.v)
        |""".stripMargin)
    val got = store.read("game").orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq
    assert(got == Seq(
      // id=1 matched, status F → DELETE fires first
      (2L, Some("O"), 22L), // matched, not F → falls through to UPDATE
      (3L, Some("F"), 30L), // target-only → untouched (F pred needs a match)
      // id=4 source-only, v=5 ≤ 10 → insert pred fails → NOT inserted
      (5L, None, 50L))) // source-only, v>10 → inserted, status NULL
    assert(store.versions("game").nonEmpty)
  }

  test("runMerge: two predicated UPDATEs dispatch per-row; unmatched-by-clause rows pass through") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game",
      Seq((1L, "A", 0L), (2L, "B", 0L), (3L, "C", 0L))
        .toDF("id", "grp", "v"))
    store.overwrite("game_src",
      Seq((1L, 100L, 200L), (2L, 100L, 200L), (9L, 100L, 200L))
        .toDF("id", "va", "vb"))
    Sql.runMerge(spark, store,
      """MERGE INTO game t USING game_src s ON t.id = s.id
        |WHEN MATCHED AND t.grp = 'A' THEN UPDATE SET t.v = s.va
        |WHEN MATCHED AND t.grp = 'B' THEN UPDATE SET t.v = s.vb
        |""".stripMargin)
    val got = store.read("game").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // no NOT MATCHED clause: source-only rows are ignored, not
    // null-inserted; a matched row neither pred hits keeps its value
    assert(got == Seq((1L, "A", 100L), (2L, "B", 200L), (3L, "C", 0L)))
  }

  test("runMerge: matched updated, unmatched source inserted (absent cols NULL), unmatched target kept") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game",
      Seq((1L, "t1", 10L), (3L, "t3", 30L))
        .toDF("id", "title", "play_count"))
    store.overwrite("game_src",
      Seq((1L, "x1", 11L), (2L, "x2", 22L))
        .toDF("id", "title", "play_count"))
    Sql.runMerge(spark, store, mergeText)
    val got = store.read("game").orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, Some("t1"), 11L), // updated: only play_count is in SET
      (2L, None, 22L), // inserted: title absent from the INSERT list
      (3L, Some("t3"), 30L))) // untouched
    assert(store.versions("game").nonEmpty)
  }

  test("runMerge: null or duplicate source keys are loud errors") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game", Seq((1L, 5L)).toDF("id", "play_count"))
    store.overwrite("game_src",
      Seq((Some(1L), 6L), (None, 7L)).toDF("id", "play_count"))
    val e = intercept[IllegalArgumentException] {
      Sql.runMerge(spark, store, mergeText)
    }
    assert(e.getMessage.contains("null or non-unique"))
  }

  private val deleteText =
    """
    DELETE FROM `my-project.playstation.game` t
    WHERE t.id IN (SELECT id FROM `my-project.playstation.game_gone`)
    """

  test("DELETE … IN (subquery) rewrites; other predicates take the deletion vector") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game",
      Seq((1L, "t1"), (2L, "t2"), (3L, "t3")).toDF("id", "title"))
    store.overwrite("game_gone", Seq(2L).toDF("id"))
    Sql.runDelete(spark, store, deleteText)
    assert(sortedRows(store.read("game")) ==
      Seq(Seq(1L, "t1"), Seq(3L, "t3")))
    // alias-free target and bare WHERE column
    store.overwrite("t1", Seq(1L, 2L, 3L).toDF("k"))
    store.overwrite("t2", Seq(3L).toDF("k2"))
    Sql.runDelete(spark, store,
      "DELETE FROM t1 WHERE k IN (SELECT k2 FROM t2)")
    assert(sortedRows(store.read("t1")) == Seq(Seq(1L), Seq(2L)))
    // a literal predicate takes the deletion-vector route: no data file
    // is rewritten
    val files = store.fileCount("t1")
    assert(Sql.runDeleteWhere(spark, store, "DELETE FROM t1 WHERE k = 1") == 1L)
    assert(store.fileCount("t1") == files)
    assert(sortedRows(store.read("t1")) == Seq(Seq(2L)))
    // a filtered tombstone subquery executes and equals Spark's anti join
    store.overwrite("t", Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("k", "v"))
    store.overwrite("s", Seq((1L, 1L), (2L, 5L), (3L, 9L)).toDF("k", "v"))
    sameAsSpark(store, "t",
      "DELETE FROM t a WHERE a.k IN (SELECT k FROM s WHERE s.v > 1)",
      "SELECT a.* FROM t_in a LEFT ANTI JOIN " +
        "(SELECT k FROM s_in WHERE v > 1) b ON a.k = b.k", "t", "s")
    intercept[IllegalArgumentException] { // WHERE names a third alias
      Sql.runDelete(spark, store,
        "DELETE FROM t a WHERE b.k IN (SELECT k FROM s)")
    }
    assert(sortedRows(store.read("t")) == Seq(Seq(1L, 0L)))
  }

  test("runDelete: tombstoned rows gone, others untouched, commit versioned; null/duplicate tombstones are no-ops") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game",
      Seq((1L, "t1"), (2L, "t2"), (3L, "t3")).toDF("id", "title"))
    // duplicate and NULL tombstone keys must not over- or under-delete
    store.overwrite("game_gone",
      Seq(Some(2L), Some(2L), None).toDF("id"))
    Sql.runDelete(spark, store, deleteText)
    assert(store.read("game").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "t1"), (3L, "t3")))
    assert(store.versions("game").nonEmpty)
  }

  test("runDelete: tombstones fall back to a session temp view") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game", Seq((1L, 5L), (2L, 6L)).toDF("id", "play_count"))
    Seq(1L).toDF("id").createOrReplaceTempView("dml_tombstones_view")
    Sql.runDelete(spark, store,
      "DELETE FROM game t WHERE t.id IN (SELECT id FROM dml_tombstones_view)")
    assert(store.read("game").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("runCtas: SELECT may derive from corpus views AND store tables; OR REPLACE overwrites; junk is loud") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("seed", Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    val name = Sql.runCtas(spark, store, sf,
      """CREATE TABLE `p.d.derived` AS
        |SELECT s.k, s.v, (SELECT COUNT(*) FROM region) AS n_regions
        |FROM seed s WHERE s.k = 2""".stripMargin)
    assert(name == "derived" && store.exists("derived"))
    val got = store.read("derived").collect()
    assert(got.length == 1 && got.head.getString(1) == "y")
    assert(got.head.getLong(2) ==
      graft.tables.Tables.region(spark, sf).count())
    // OR REPLACE re-creates with new content through the versioned commit
    Sql.runCtas(spark, store, sf,
      "CREATE OR REPLACE TABLE derived AS SELECT k FROM seed")
    assert(store.read("derived").collect().length == 2)
    assert(store.tables().contains("derived"))
    // CREATE VIEW routes to the logical-view path (round 13)...
    Sql.runCtas(spark, store, sf,
      "CREATE VIEW seed_keys AS SELECT k FROM seed")
    assert(store.isView("seed_keys"))
    // ...while genuinely unsupported DDL stays loud
    intercept[IllegalArgumentException] {
      Sql.runCtas(spark, store, sf, "CREATE INDEX i ON seed (k)")
    }
  }

  test("parses INSERT INTO … SELECT; junk column lists are loud") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("game", Seq((1L, 10L)).toDF("id", "v"))
    store.overwrite("src", Seq((2L, 20L)).toDF("id", "v"))
    Sql.runInsert(spark, store, sf,
      "INSERT INTO `p.d.game` (v, id) SELECT v, id FROM src")
    Sql.runInsert(spark, store, sf, "INSERT INTO game SELECT * FROM src")
    // VALUES rows are in the surface too
    Sql.runInsert(spark, store, sf, "INSERT INTO game (id, v) VALUES (3L, 30L)")
    assert(sortedRows(store.read("game")) == Seq(Seq(1L, 10L), Seq(2L, 20L),
      Seq(2L, 20L), Seq(3L, 30L)))
    intercept[IllegalArgumentException] { // expression in the column list
      Sql.runInsert(spark, store, sf,
        "INSERT INTO game (id + 1) SELECT id FROM src")
    }
    intercept[IllegalArgumentException] { // duplicate column
      Sql.runInsert(spark, store, sf,
        "INSERT INTO game (id, id) SELECT id, v FROM src")
    }
    assert(store.read("game").count() == 4)
  }

  test("runInsert appends through the store; absent listed columns ride as typed NULLs") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("log",
      Seq((1L, 10L, "a")).toDF("id", "v", "tag"))
    Seq((2L, 20L)).toDF("k", "n").createOrReplaceTempView("ins_src_view")
    Sql.runInsert(spark, store, sf,
      "INSERT INTO `p.d.log` (id, v) SELECT k, n FROM ins_src_view")
    val got = store.read("log").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(got == Seq((1L, 10L, Some("a")), (2L, 20L, None)))
  }

  test("runInsert is loud on schema drift, arity mismatch, unknown columns, missing target") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("log", Seq((1L, 10L)).toDF("id", "v"))
    Seq(("x", 20L)).toDF("k", "n").createOrReplaceTempView("ins_bad_view")
    // bare INSERT with a mismatched SELECT schema: the append assert
    // fires (string k into long id is schema drift, not a silent cast)
    val e = intercept[IllegalArgumentException] {
      Sql.runInsert(spark, store, sf,
        "INSERT INTO log SELECT k AS id, n AS v FROM ins_bad_view")
    }
    assert(e.getMessage.contains("schema drift"))
    intercept[IllegalArgumentException] { // column list vs SELECT arity
      Sql.runInsert(spark, store, sf,
        "INSERT INTO log (id) SELECT k, n FROM ins_bad_view")
    }
    intercept[IllegalArgumentException] { // column not in the target
      Sql.runInsert(spark, store, sf,
        "INSERT INTO log (nope, v) SELECT k, n FROM ins_bad_view")
    }
    intercept[IllegalArgumentException] { // target must already exist
      Sql.runInsert(spark, store, sf,
        "INSERT INTO ghost SELECT k FROM ins_bad_view")
    }
    // nothing was appended by any of the loud paths
    assert(store.read("log").count() == 1)
  }

  test("runTimeTravel pins versions per reference; junk shapes are loud") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("tt", Seq((1L, 10L), (2L, 20L)).toDF("k", "v")) // v1
    store.mergeWith("tt")(cur =>
      cur.select(col("k"), (col("v") * 100).as("v"))) // v2
    def tempViews() = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tempViews()
    val got = Sql.runTimeTravel(spark, store, sf,
      """SELECT cur.k, old.v AS v1, cur.v AS v2
        |FROM tt VERSION AS OF 2 cur
        |JOIN tt VERSION AS OF 1 old ON cur.k = old.k""".stripMargin)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 10L, 1000L), (2L, 20L, 2000L)))
    // no temp view was registered
    assert(tempViews() == before)
    intercept[IllegalArgumentException] { // never-committed version
      Sql.runTimeTravel(spark, store, sf,
        "SELECT * FROM tt VERSION AS OF 9")
    }
    intercept[IllegalArgumentException] { // no version reference
      Sql.runTimeTravel(spark, store, sf, "SELECT 1")
    }
    intercept[IllegalArgumentException] { // DML never time-travels
      Sql.runTimeTravel(spark, store, sf,
        "DELETE FROM tt WHERE k IN (SELECT k FROM tt VERSION AS OF 1)")
    }
  }

  test("splitScript: quote-aware ';' split; unterminated literal is loud") {
    assert(Sql.splitScript("SELECT 1; SELECT 2 ;; SELECT 3") ==
      Seq("SELECT 1", "SELECT 2", "SELECT 3"))
    // a ';' inside a string literal never splits
    assert(Sql.splitScript("SELECT 'a;b' AS x; SELECT 2") ==
      Seq("SELECT 'a;b' AS x", "SELECT 2"))
    intercept[IllegalArgumentException] {
      Sql.splitScript("SELECT 'oops")
    }
  }

  test("splitScript: comments and backtick identifiers never missplit; " +
    "comments are stripped") {
    // ';' inside a -- comment does not split, and the comment is removed
    assert(Sql.splitScript("SELECT 1 -- c;omment\n; SELECT 2") ==
      Seq("SELECT 1", "SELECT 2"))
    // ';' inside /* */ and inside a backticked name do not split
    assert(Sql.splitScript("SELECT /* a;b */ 1; SELECT `we;rd` FROM t") ==
      Seq("SELECT   1", "SELECT `we;rd` FROM t"))
    // a LEADING comment leaves verb dispatch on the first real token
    assert(Sql.splitScript("-- hdr\nDROP TABLE t; /* x */ SELECT 1")
      .map(_.split("\\s+").head) == Seq("DROP", "SELECT"))
    // a comments-only fragment is not a statement
    assert(Sql.splitScript("SELECT 1; -- trailing note") == Seq("SELECT 1"))
    intercept[IllegalArgumentException] {
      Sql.splitScript("SELECT 1 /* open")
    }
    intercept[IllegalArgumentException] {
      Sql.splitScript("SELECT `open")
    }
  }

  test("SET and INSERT VALUES accept one-literal arithmetic; junk stays loud") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq((1L, 100.0, 2L), (2L, 200.0, 3L))
      .toDF("k", "p", "q"))
    store.overwrite("s", Seq((1L, 10.0, 5L), (3L, 30.0, 7L))
      .toDF("k", "p", "q"))
    sameAsSpark(store, "t",
      "UPDATE t a SET a.p = b.p * 1.05, a.q = b.q FROM s b WHERE a.k = b.k",
      "SELECT a.k, CASE WHEN b.k IS NULL THEN a.p ELSE b.p * 1.05 END, " +
        "CASE WHEN b.k IS NULL THEN a.q ELSE b.q END " +
        "FROM t_in a LEFT JOIN s_in b ON a.k = b.k", "t", "s")
    sameAsSpark(store, "t",
      """MERGE INTO t a USING s b ON a.k = b.k
        |WHEN MATCHED THEN UPDATE SET a.p = b.p + 7
        |WHEN NOT MATCHED THEN INSERT (k, p) VALUES (b.k, b.p / 2)
        |""".stripMargin,
      "SELECT coalesce(a.k, b.k), CASE WHEN a.k IS NULL THEN b.p / 2 " +
        "WHEN b.k IS NULL THEN a.p ELSE b.p + 7 END, a.q " +
        "FROM t_in a FULL JOIN s_in b ON a.k = b.k", "t", "s")
    // column-column products and precedence chains
    sameAsSpark(store, "t",
      "UPDATE t a SET a.p = b.p * b.q FROM s b WHERE a.k = b.k",
      "SELECT a.k, CASE WHEN b.k IS NULL THEN a.p ELSE b.p * b.q END, a.q " +
        "FROM t_in a LEFT JOIN s_in b ON a.k = b.k", "t", "s")
    store.overwrite("s2", Seq(5L).toDF("k"))
    sameAsSpark(store, "t",
      """MERGE INTO t a USING s2 b ON a.k = b.k
        |WHEN NOT MATCHED THEN INSERT (k) VALUES (b.k * 2 + 1)""".stripMargin,
      "SELECT k, p, q FROM t_in UNION ALL SELECT 11L, NULL, NULL", "t")
    // function calls execute
    sameAsSpark(store, "t",
      "UPDATE t a SET a.p = round(b.p) FROM s b WHERE a.k = b.k",
      "SELECT a.k, CASE WHEN b.k IS NULL THEN a.p ELSE round(b.p) END, a.q " +
        "FROM t_in a LEFT JOIN s_in b ON a.k = b.k", "t", "s")
    // INSERT VALUES reading the target: loud (no target row exists)
    intercept[IllegalArgumentException] {
      Sql.runMerge(spark, store,
        """MERGE INTO t a USING s b ON a.k = b.k
          |WHEN NOT MATCHED THEN INSERT (k) VALUES (a.k + 1)""".stripMargin)
    }
  }

  test("NOT MATCHED BY SOURCE DELETE parses; source-side pred is loud") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq((1L, 10L, "O"), (2L, 20L, "F"), (3L, 30L, "O"))
      .toDF("k", "v", "status"))
    store.overwrite("s", Seq((1L, 11L), (4L, 44L)).toDF("k", "v"))
    Sql.runMerge(spark, store,
      """MERGE INTO t a USING s b ON a.k = b.k
        |WHEN MATCHED THEN UPDATE SET a.v = b.v
        |WHEN NOT MATCHED BY TARGET THEN INSERT (k, v) VALUES (b.k, b.v)
        |WHEN NOT MATCHED BY SOURCE AND a.status <> 'F' THEN DELETE
        |""".stripMargin)
    // 1 updates, 4 inserts, 3 vanished from the source and is deleted,
    // 2 vanished too but its guard keeps it
    assert(sortedRows(store.read("t")) == Seq(Seq(1L, 11L, "O"),
      Seq(2L, 20L, "F"), Seq(4L, 44L, null)))
    intercept[IllegalArgumentException] { // pred reads the source side
      Sql.runMerge(spark, store,
        """MERGE INTO t a USING s b ON a.k = b.k
          |WHEN NOT MATCHED BY SOURCE AND b.v > 1 THEN DELETE""".stripMargin)
    }
    intercept[IllegalArgumentException] { // UPDATE on the BY SOURCE arm
      Sql.runMerge(spark, store,
        """MERGE INTO t a USING s b ON a.k = b.k
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET a.v = 0""".stripMargin)
    }
    assert(store.read("t").count() == 3)
  }

  test("DROP TABLE: drops committed tables; missing is loud unless IF EXISTS") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("doomed", Seq((1L, "a")).toDF("k", "v"))
    assert(store.exists("doomed"))
    Sql.runDrop(store, "DROP TABLE `graft-project.store.doomed`")
    assert(!store.exists("doomed"))
    intercept[IllegalArgumentException] {
      Sql.runDrop(store, "DROP TABLE doomed") // already gone: loud
    }
    Sql.runDrop(store, "DROP TABLE IF EXISTS doomed") // not_found_ok
    intercept[IllegalArgumentException] {
      Sql.runDrop(store, "DROP TABLE") // no name
    }
  }

  test("FOR SYSTEM_TIME AS OF resolves commit stamps in SQL (both literal forms)") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("stt", Seq((1L, 10L)).toDF("k", "v"))
    val t1 = System.currentTimeMillis()
    Thread.sleep(30)
    store.mergeWith("stt")(cur => cur.select(col("k"),
      (col("v") * 2).as("v")))
    val got = Sql.runTimeTravel(spark, store, sf,
      s"""SELECT old.v AS v_old, cur.v AS v_new
         |FROM `graft-project.store.stt` FOR SYSTEM_TIME AS OF $t1 old
         |JOIN stt FOR SYSTEM_TIME AS OF ${System.currentTimeMillis()} cur
         |  ON old.k = cur.k""".stripMargin).head()
    assert((got.getLong(0), got.getLong(1)) == (10L, 20L))
    // a time before the table existed is loud
    intercept[IllegalArgumentException] {
      Sql.runTimeTravel(spark, store, sf,
        s"SELECT * FROM stt FOR SYSTEM_TIME AS OF ${t1 - 86400000L} x")
    }
  }

  test("ANALYZE + OPTIMIZE script verbs: cluster engages skipping; bare OPTIMIZE compacts; junk is loud") {
    import spark.implicits._
    import graft.psn.FileStats
    val store = freshStore()
    spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 7).as("m"))
      .createOrReplaceTempView("opt_src_view")
    Sql.runScript(spark, store, sf,
      """CREATE TABLE ot AS SELECT k, m FROM opt_src_view;
        |OPTIMIZE `graft-project.store.ot` CLUSTER BY (k) INTO 4 FILES;
        |ANALYZE TABLE ot;""".stripMargin)
    val (kept, total) = store.pruneInfo("ot",
      Seq(FileStats.lt("k", FileStats.LLong(1000))))
    assert(total == 4 && kept < total)
    // bare OPTIMIZE = compaction: fragment, then pack
    (1 to 3).foreach(i => store.append("ot",
      Seq((10000L + i, 0L)).toDF("k", "m").coalesce(1)))
    val before = store.fileCount("ot")
    Sql.runOptimize(spark, store, "OPTIMIZE ot")
    assert(store.fileCount("ot") < before)
    intercept[IllegalArgumentException](
      Sql.runAnalyze(store, "ANALYZE TABLE missing_t"))
    intercept[IllegalArgumentException](
      Sql.runOptimize(spark, store, "OPTIMIZE missing_t"))
    intercept[IllegalArgumentException](
      Sql.runOptimize(spark, store, "OPTIMIZE ot ZORDER BY (k)"))
  }

  test("runScript sequences statements against committed state; junk verbs are loud") {
    import spark.implicits._
    val store = freshStore()
    // seed outside the script so the INSERT has a live source view
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
      .createOrReplaceTempView("script_src_view")
    val n = Sql.runScript(spark, store, sf,
      """CREATE TABLE t1 AS SELECT k, v FROM script_src_view;
        |CREATE TABLE upd AS SELECT k, v * 10 AS v
        |  FROM script_src_view WHERE k = 1;
        |CREATE TABLE gone AS SELECT k FROM script_src_view WHERE k = 3;
        |UPDATE t1 a SET a.v = b.v FROM upd b WHERE a.k = b.k;
        |DELETE FROM t1 a WHERE a.k IN (SELECT k FROM gone);
        |INSERT INTO t1 (k, v) SELECT k + 100, v FROM script_src_view
        |  WHERE k = 2
        |""".stripMargin)
    assert(n == 6)
    // statement 3 saw statement 1+2's tables; 4 deleted from 3's result;
    // 5 appended after the delete
    assert(store.read("t1").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 100L), (2L, 20L), (102L, 20L)))
    // DROP is a script verb now (the reference's nightly job ends with
    // one, main.py:287): it executes mid-lineage…
    assert(Sql.runScript(spark, store, sf, "DROP TABLE gone") == 1)
    assert(!store.exists("gone"))
    // …an unknown verb is still loud…
    intercept[IllegalArgumentException] {
      Sql.runScript(spark, store, sf, "GRANT SELECT ON t1 TO nobody")
    }
    intercept[IllegalArgumentException] {
      Sql.runScript(spark, store, sf, "  ;; ")
    }
  }

  test("VACUUM verb sweeps aged orphan claims; content untouched") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // fake a crashed writer: a claimed-but-unpublished version directory
    val wh = java.nio.file.Paths.get(
      store.read("t").inputFiles.head.stripPrefix("file:"))
      .getParent.getParent
    val orphan = wh.resolve("v99")
    java.nio.file.Files.createDirectory(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk.parquet"), "x")
    // young orphan survives the default window, RETAIN 0 sweeps it
    Sql.runVacuum(store, "VACUUM `graft-project.store.t`")
    assert(java.nio.file.Files.exists(orphan))
    Sql.runVacuum(store, "VACUUM t RETAIN 0 HOURS")
    assert(!java.nio.file.Files.exists(orphan))
    assert(store.read("t").count() == 2)
    intercept[IllegalArgumentException](Sql.runVacuum(store, "VACUUM"))
  }

  test("TRUNCATE TABLE: head empties, schema+constraints survive, history stays restorable") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    store.addConstraint("t", "v_pos", "v > 0")
    Sql.runTruncate(store, "TRUNCATE TABLE `graft-project.store.t`")
    assert(store.read("t").count() == 0)
    // pre-truncate version still time-travels (WRITE_TRUNCATE commits a
    // version, it does not erase history)
    val v1 = store.versions("t").min
    assert(store.readVersion("t", v1).count() == 2)
    val truncated = store.versions("t").max
    // schema survived the empty commit: a matching append lands…
    store.append("t", Seq((3L, 30L)).toDF("k", "v"))
    assert(store.read("t").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // …as a commit of its own: the truncated version stays empty
    assert(store.readVersion("t", truncated).count() == 0)
    // …and the CHECK constraint still enforces
    intercept[Exception] {
      store.append("t", Seq((4L, -1L)).toDF("k", "v"))
    }
    // loud on junk and on missing tables
    intercept[IllegalArgumentException](Sql.runTruncate(store, "TRUNCATE t"))
    intercept[IllegalArgumentException](
      Sql.runTruncate(store, "TRUNCATE TABLE nope"))
  }

  test("ALTER TABLE RENAME TO: versions travel, time travel works under the new name, old name gone, guards loud") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("src", Seq((1L, "a")).toDF("k", "v"))
    // second COMMIT (not an in-place append) so the table has real history
    store.overwrite("src", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val preVersions = store.versions("src")
    assert(preVersions.length == 2)
    Sql.runAlter(store,
      "ALTER TABLE `graft-project.store.src` RENAME TO `graft-project.store.dst`")
    assert(!store.exists("src") && store.exists("dst"))
    // the commit chain travelled: same version set, and the oldest
    // version still reads the pre-append state under the NEW name
    assert(store.versions("dst") == preVersions)
    assert(store.readVersion("dst", preVersions.min).count() == 1)
    assert(store.read("dst").count() == 2)
    // target name taken → loud
    store.overwrite("takenx", Seq((9L, "z")).toDF("k", "v"))
    intercept[IllegalArgumentException](
      Sql.runAlter(store, "ALTER TABLE dst RENAME TO takenx"))
    // a logical view pinning the old name blocks the rename
    Sql.runCtas(spark, store, sf, "CREATE VIEW dstv AS SELECT k FROM dst")
    intercept[IllegalArgumentException](
      Sql.runAlter(store, "ALTER TABLE dst RENAME TO dst2"))
    store.dropView("dstv")
    Sql.runAlter(store, "ALTER TABLE dst RENAME TO dst2")
    assert(store.read("dst2").count() == 2)
  }

  test("table/view namespace is mutually exclusive; DROP TABLE refuses views and view-referenced bases") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("base", Seq((1L, 5L)).toDF("k", "v"))
    Sql.runCtas(spark, store, sf, "CREATE VIEW bv AS SELECT k FROM base")
    // CTAS under the view's name is loud (would shadow the stored SQL)
    intercept[IllegalArgumentException] {
      Sql.runCtas(spark, store, sf, "CREATE TABLE bv AS SELECT k FROM base")
    }
    // …as is any direct store write under the name (the funnel check)
    intercept[IllegalArgumentException] {
      store.overwrite("bv", Seq((1L, 1L)).toDF("k", "v"))
    }
    // DROP TABLE refuses the view name (routes to DROP VIEW)…
    intercept[IllegalArgumentException] {
      Sql.runDrop(store, "DROP TABLE IF EXISTS bv")
    }
    // …and refuses dropping a base a live view references
    intercept[IllegalArgumentException] {
      Sql.runDrop(store, "DROP TABLE base")
    }
    Sql.runDrop(store, "DROP VIEW bv")
    Sql.runDrop(store, "DROP TABLE base") // view gone → drop allowed
    assert(!store.exists("base"))
  }

  test("CREATE OR REPLACE VIEW keeps registration order (dependents still resolve)") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("t0", Seq((1L, 10L), (2L, 200L)).toDF("k", "v"))
    assert(Sql.runScript(spark, store, sf,
      """CREATE VIEW v_lo AS SELECT k, v FROM t0 WHERE v < 100;
        |CREATE VIEW v_lo2 AS SELECT k FROM v_lo;
        |""".stripMargin) == 2)
    // replacing the BASE view rewrites its sidecar; its dependent v_lo2
    // must still resolve, through the replaced definition
    Sql.runCtas(spark, store, sf,
      "CREATE OR REPLACE VIEW v_lo AS SELECT k, v FROM t0 WHERE v < 1000")
    val name = Sql.runCtas(spark, store, sf,
      "CREATE TABLE out AS SELECT COUNT(*) AS n FROM v_lo2")
    assert(store.read(name).collect().head.getLong(0) == 2L)
  }

  test("a broken view fails only when referenced, not at unrelated statements") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("wide", Seq((1L, 7L)).toDF("k", "extra"))
    store.overwrite("other", Seq((5L, "x")).toDF("k", "v"))
    Sql.runCtas(spark, store, sf,
      "CREATE VIEW wv AS SELECT k, extra FROM wide")
    // break the view out-of-band: drop the column its SQL projects
    assert(store.dropColumn("wide", "extra"))
    // an UNRELATED statement in the same store still runs (BigQuery's
    // standard views error at use, not at catalog load)
    val name = Sql.runCtas(spark, store, sf,
      "CREATE TABLE ok AS SELECT k FROM other")
    assert(store.read(name).count() == 1)
    // referencing the broken view is loud at ITS resolution
    intercept[Exception] {
      Sql.runCtas(spark, store, sf,
        "CREATE TABLE boom AS SELECT * FROM wv")
    }
  }

  test("MERGE: a NULL-key target row routes through NOT MATCHED BY SOURCE (presence markers, not key nullability)") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("nk", Seq(
      (Option(1L), 10L), (Option.empty[Long], 99L), (Option(3L), 30L))
      .toDF("k", "v"))
    Seq((1L, 11L)).toDF("k", "v")
      .createOrReplaceTempView("nk_src_view")
    Sql.runMerge(spark, store,
      """MERGE INTO nk t USING nk_src_view s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED BY SOURCE THEN DELETE
        |""".stripMargin)
    // the NULL-key row can never match any source row → ANSI/BigQuery
    // classify it NOT MATCHED BY SOURCE → the DELETE arm takes it; keyed
    // rows behave as before (1 updates, 3 deletes)
    assert(store.read("nk").collect().map(r => (r.get(0), r.getLong(1)))
      .toSeq == Seq((1L, 11L)))
  }

  test("TRUNCATE/RENAME refuse read-only and derived state (snapshots, MVs)") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("basey", Seq((1L, 5L)).toDF("k", "v"))
    store.cloneTable("basey", "snapy", None, snapshot = true)
    // a snapshot refuses every write for life — TRUNCATE and RENAME
    // both route through the requireWritable funnel
    intercept[IllegalArgumentException](store.truncate("snapy"))
    intercept[IllegalArgumentException](store.rename("snapy", "snapz"))
    store.createMaterializedView("mvy", "basey", Seq("k"),
      Seq(graft.psn.MvAgg("n", "COUNT", "*")))
    // derived state: TRUNCATE would corrupt the stored combine; RENAME
    // of the base would orphan the _mvdef pin
    intercept[IllegalArgumentException](store.truncate("mvy"))
    intercept[IllegalArgumentException](store.rename("basey", "basez"))
  }

  test("MERGE refuses a TARGET carrying either reserved presence marker") {
    import spark.implicits._
    val store = freshStore()
    // srcMark on the target would otherwise duplicate the column through
    // the full-outer join and die as an ambiguous-reference
    // AnalysisException — the guard must fire first, loudly
    store.overwrite("mkt",
      Seq((1L, true)).toDF("k", "__graft_pres_s"))
    Seq((1L, 2L)).toDF("k", "v").createOrReplaceTempView("mkt_src")
    val e = intercept[IllegalArgumentException](Sql.runMerge(spark, store,
      "MERGE INTO mkt t USING mkt_src s ON t.k = s.k " +
        "WHEN MATCHED THEN DELETE"))
    assert(e.getMessage.contains("__graft_pres_s"))
  }

  test("RENAME refuses a feed-enabled table (live consumers hold the absolute _feed path)") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("fedt", Seq((1L, "a")).toDF("k", "v"))
    store.enableFeed("fedt")
    val e = intercept[IllegalArgumentException](store.rename("fedt", "fedu"))
    assert(e.getMessage.toLowerCase.contains("feed"))
  }

  test("viewsReferencing sees comma-join relations; column lists never block") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("cj_a", Seq((1L, 2L)).toDF("k", "v"))
    store.overwrite("cj_b", Seq((1L, 3L)).toDF("k", "w"))
    store.overwrite("status", Seq((1L, 4L)).toDF("k", "x"))
    store.createView("cj_v",
      "SELECT cj_a.k FROM cj_a, cj_b WHERE cj_a.k = cj_b.k")
    // the second relation of a comma join is a reference
    assert(store.viewsReferencing("cj_b") == Seq("cj_v"))
    // a column named like a table — in SELECT or ORDER BY lists — is not
    store.createView("col_v",
      "SELECT k, status FROM cj_a ORDER BY v, status")
    assert(store.viewsReferencing("status").isEmpty)
    intercept[IllegalArgumentException](store.rename("cj_b", "cj_b2"))
  }

  test("RENAME COLUMN guards: constraint-pinned refusal, duplicate/missing names, snapshot time travel") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("rc", Seq((1L, 5L), (2L, 8L)).toDF("k", "v"))
    store.addConstraint("rc", "vpos", "v > 0")
    // a CHECK pinning the old name refuses (the text would silently
    // stop matching rows after the rename)
    val e = intercept[IllegalArgumentException](
      store.renameColumn("rc", "v", "w"))
    assert(e.getMessage.contains("vpos"))
    store.dropConstraint("rc", "vpos")
    intercept[IllegalArgumentException](store.renameColumn("rc", "x", "y"))
    intercept[IllegalArgumentException](store.renameColumn("rc", "v", "k"))
    val v0 = store.versions("rc").max
    store.renameColumn("rc", "v", "w")
    assert(store.read("rc").columns.toSeq == Seq("k", "w"))
    // each snapshot keeps its OWN column name (the q96 discipline)
    assert(store.readVersion("rc", v0).columns.toSeq == Seq("k", "v"))
    // appends schema-check against the renamed head
    store.append("rc", Seq((3L, 9L)).toDF("k", "w"))
    assert(store.read("rc").count() == 3)
    intercept[IllegalArgumentException](
      store.append("rc", Seq((4L, 9L)).toDF("k", "v")))
  }
}
