package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sql
import graft.psn.TableStore

/** Statement expressions are Catalyst expressions: function calls, AND/OR
  * in CASE conditions and WHEN predicates, nested CASE and composite join
  * keys execute, and each result equals Spark's own SQL recomputed over the
  * same inputs. */
class SqlSurfaceSpec extends AnyFunSuite {
  import SqlSurfaceSpec._
  import TestSpark._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("surface_wh").toString)

  /** t(k, p, n, x, st) and s(k, p, n, v, w): keys 1 and 3 match, 2 is
    * target-only, 4 and 5 source-only; NULLs in both n columns. */
  private def seeded(): TableStore = {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq(
      (1L, 100.25, Some(7L), 12L, "O"), (2L, 200.5, None, 3L, "F"),
      (3L, 300.75, Some(9L), 20L, "O")).toDF("k", "p", "n", "x", "st"))
    store.overwrite("s", Seq(
      (1L, 10.55, None, 6L, 2L), (3L, 30.45, Some(4L), 2L, 11L),
      (4L, 40.35, Some(5L), 8L, 0L), (5L, 50.15, None, 1L, 3L))
      .toDF("k", "p", "n", "v", "w"))
    store
  }

  test("round and coalesce execute in SET and in INSERT VALUES") {
    val store = seeded()
    sameAsSpark(store, "t",
      """UPDATE t a SET a.p = round(b.p * 1.1, 1), a.n = coalesce(b.n, a.n)
        |FROM s b WHERE a.k = b.k""".stripMargin,
      """SELECT a.k,
        |  CASE WHEN b.k IS NULL THEN a.p ELSE round(b.p * 1.1, 1) END,
        |  CASE WHEN b.k IS NULL THEN a.n ELSE coalesce(b.n, a.n) END,
        |  a.x, a.st
        |FROM t_in a LEFT JOIN s_in b ON a.k = b.k""".stripMargin, "t", "s")
    sameAsSpark(store, "t",
      """MERGE INTO t a USING s b ON a.k = b.k
        |WHEN NOT MATCHED THEN INSERT (k, p, n, x)
        |  VALUES (b.k, round(b.p, 0), coalesce(b.n, -1L), b.v)""".stripMargin,
      """SELECT k, p, n, x, st FROM t_in
        |UNION ALL
        |SELECT b.k, round(b.p, 0), coalesce(b.n, -1L), b.v, NULL
        |FROM s_in b LEFT ANTI JOIN t_in a ON a.k = b.k""".stripMargin,
      "t", "s")
  }

  test("AND/OR execute in a CASE condition and in a WHEN predicate") {
    val store = seeded()
    sameAsSpark(store, "t",
      """UPDATE t a
        |SET a.st = CASE WHEN b.v > 1 AND (b.w < 9 OR a.n IS NULL)
        |  THEN 'Y' ELSE 'N' END
        |FROM s b WHERE a.k = b.k""".stripMargin,
      """SELECT a.k, a.p, a.n, a.x,
        |  CASE WHEN b.k IS NULL THEN a.st
        |       WHEN b.v > 1 AND (b.w < 9 OR a.n IS NULL) THEN 'Y'
        |       ELSE 'N' END
        |FROM t_in a LEFT JOIN s_in b ON a.k = b.k""".stripMargin, "t", "s")
    sameAsSpark(store, "t",
      """MERGE INTO t a USING s b ON a.k = b.k
        |WHEN MATCHED AND (a.st = 'Y' OR b.v > 5) AND b.w < 9
        |  THEN UPDATE SET a.x = b.v
        |WHEN NOT MATCHED AND (b.v > 4 OR b.w = 3)
        |  THEN INSERT (k, x) VALUES (b.k, b.w)""".stripMargin,
      """SELECT a.k, a.p, a.n,
        |  CASE WHEN b.k IS NOT NULL AND (a.st = 'Y' OR b.v > 5) AND b.w < 9
        |       THEN b.v ELSE a.x END,
        |  a.st
        |FROM t_in a LEFT JOIN s_in b ON a.k = b.k
        |UNION ALL
        |SELECT b.k, NULL, NULL, b.w, NULL
        |FROM s_in b LEFT ANTI JOIN t_in a ON a.k = b.k
        |WHERE b.v > 4 OR b.w = 3""".stripMargin, "t", "s")
  }

  test("nested CASE executes") {
    val store = seeded()
    sameAsSpark(store, "t",
      """UPDATE t a
        |SET a.st = CASE WHEN b.v > 5
        |  THEN CASE WHEN a.x > 10 THEN 'HH' ELSE 'HL' END
        |  ELSE CASE WHEN b.w > 10 THEN 'LH' ELSE 'LL' END END
        |FROM s b WHERE a.k = b.k""".stripMargin,
      """SELECT a.k, a.p, a.n, a.x,
        |  CASE WHEN b.k IS NULL THEN a.st
        |       WHEN b.v > 5 THEN CASE WHEN a.x > 10 THEN 'HH' ELSE 'HL' END
        |       ELSE CASE WHEN b.w > 10 THEN 'LH' ELSE 'LL' END END
        |FROM t_in a LEFT JOIN s_in b ON a.k = b.k""".stripMargin, "t", "s")
  }

  test("a composite ON t.a = s.a AND t.b = s.b key matches on both columns") {
    import spark.implicits._
    val store = freshStore()
    // (1, 1) matches; (1, 2) and (2, 1) share one key column each, so they
    // are unmatched on both sides
    store.overwrite("ct", Seq((1L, 1L, 10L), (1L, 2L, 20L), (2L, 2L, 30L))
      .toDF("a", "b", "v"))
    store.overwrite("cs", Seq((1L, 1L, 11L), (2L, 1L, 21L), (3L, 3L, 31L))
      .toDF("a", "b", "v"))
    sameAsSpark(store, "ct",
      """MERGE INTO ct t USING cs s ON t.a = s.a AND t.b = s.b
        |WHEN MATCHED THEN UPDATE SET t.v = s.v * 100
        |WHEN NOT MATCHED THEN INSERT (a, b, v) VALUES (s.a, s.b, s.v)
        |WHEN NOT MATCHED BY SOURCE AND t.v > 25 THEN DELETE""".stripMargin,
      """SELECT coalesce(t.a, s.a), coalesce(t.b, s.b),
        |  CASE WHEN t.a IS NULL THEN s.v WHEN s.a IS NULL THEN t.v
        |       ELSE s.v * 100 END
        |FROM ct_in t FULL JOIN cs_in s ON t.a = s.a AND t.b = s.b
        |WHERE NOT (s.a IS NULL AND t.v > 25)""".stripMargin, "ct", "cs")
    // a composite UPDATE … FROM key, too
    sameAsSpark(store, "ct",
      """UPDATE ct t SET t.v = s.v FROM cs s
        |WHERE t.a = s.a AND t.b = s.b""".stripMargin,
      """SELECT t.a, t.b, CASE WHEN s.a IS NULL THEN t.v ELSE s.v END
        |FROM ct_in t LEFT JOIN cs_in s ON t.a = s.a AND t.b = s.b""".stripMargin,
      "ct", "cs")
  }

  test("a source-only ON conjunct keeps the rows it filters in the MERGE probe when an INSERT can take them") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("ft", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    // rows failing s.flag = 1 never match, so WHEN NOT MATCHED inserts them
    store.overwrite("fnull", Seq[(Option[Long], Long, Long)](
      (Some(1L), 11L, 1L), (None, 99L, 0L)).toDF("k", "v", "flag"))
    store.overwrite("fdup", Seq((1L, 11L, 1L), (3L, 30L, 0L), (3L, 31L, 0L))
      .toDF("k", "v", "flag"))
    val before = sortedRows(store.read("ft"))
    Seq("fnull", "fdup").foreach { src =>
      val e = intercept[IllegalArgumentException](Sql.runScript(spark, store,
        sf, s"""MERGE INTO ft t USING $src s ON t.k = s.k AND s.flag = 1
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin))
      assert(e.getMessage.contains("null or non-unique"), e.getMessage)
    }
    assert(sortedRows(store.read("ft")) == before)
    // without an INSERT the filtered rows reach no clause, and the MERGE runs
    sameAsSpark(store, "ft",
      """MERGE INTO ft t USING fdup s ON t.k = s.k AND s.flag = 1
        |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin,
      """SELECT t.k, coalesce(s.v, t.v)
        |FROM ft_in t LEFT JOIN (SELECT * FROM fdup_in WHERE flag = 1) s
        |ON t.k = s.k""".stripMargin, "ft", "fdup")
    // with unique keys the INSERT takes the filtered row
    store.overwrite("fok", Seq((1L, 11L, 1L), (3L, 30L, 0L))
      .toDF("k", "v", "flag"))
    sameAsSpark(store, "ft",
      """MERGE INTO ft t USING fok s ON t.k = s.k AND s.flag = 1
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin,
      """SELECT coalesce(t.k, s.k), coalesce(s.v, t.v)
        |FROM ft_in t FULL JOIN (SELECT * FROM fok_in WHERE flag = 1) s
        |ON t.k = s.k
        |UNION ALL
        |SELECT k, v FROM fok_in WHERE flag <> 1""".stripMargin, "ft", "fok")
  }

  test("an assignment to a column the target lacks is loud, not a no-op") {
    val store = seeded()
    val before = sortedRows(store.read("t"))
    Seq(
      "UPDATE t a SET a.nope = b.p FROM s b WHERE a.k = b.k",
      """MERGE INTO t a USING s b ON a.k = b.k
        |WHEN NOT MATCHED THEN INSERT (k, nope) VALUES (b.k, b.p)""".stripMargin
    ).foreach { st =>
      val e = intercept[IllegalArgumentException](
        Sql.runScript(spark, store, sf, st))
      assert(e.getMessage.contains("nope"), st)
    }
    assert(sortedRows(store.read("t")) == before)
  }

  test("a self-join UPDATE … FROM reads both aliases of one table") {
    import spark.implicits._
    val store = freshStore()
    store.overwrite("acct", Seq((1L, "O", 10.0), (2L, "O", 20.0),
      (3L, "F", 30.0)).toDF("k", "st", "c"))
    sameAsSpark(store, "acct",
      """UPDATE acct t
        |SET t.c = CASE WHEN u.st = 'O' AND t.c > 15 THEN round(t.c * 1.1, 1)
        |  ELSE t.c END
        |FROM acct u WHERE t.k = u.k""".stripMargin,
      """SELECT k, st,
        |  CASE WHEN st = 'O' AND c > 15 THEN round(c * 1.1, 1) ELSE c END
        |FROM acct_in""".stripMargin, "acct")
  }
}

object SqlSurfaceSpec {
  import TestSpark._

  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** Run `stmt` as a script against `store`; `target` must then equal
    * `oracle` — Spark's own SQL over the same inputs, evaluated before the
    * statement runs, each input table `t` visible as the view `t_in`. */
  def sameAsSpark(store: TableStore, target: String, stmt: String,
      oracle: String, inputs: String*): Unit = {
    inputs.foreach(t => store.read(t).createOrReplaceTempView(s"${t}_in"))
    val want =
      try sortedRows(spark.sql(oracle))
      finally inputs.foreach(t => spark.catalog.dropTempView(s"${t}_in"))
    Sql.runScript(spark, store, sf, stmt)
    val got = sortedRows(store.read(target))
    assert(got == want, s"\n$stmt\n got: $got\nwant: $want")
  }
}
