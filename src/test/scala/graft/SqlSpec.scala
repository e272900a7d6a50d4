package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL front-end parity: the same logical queries through `Sql.run`
  * (corpus tables bound in Spark's parse) must equal the DataFrame
  * formulations (one Catalyst engine, two front-ends — mirroring the
  * reference's shipped-SQL surface). */
class SqlSpec extends AnyFunSuite {
  import TestSpark._

  test("SQL q01 (pricing summary) equals the DataFrame plan") {
    val viaSql = graft.ops.Sql.run(spark, sf,
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    val viaDf = ops.Relational.q01PricingSummary(spark, sf)
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
    assert(viaSql.exceptAll(viaDf).count() == 0)
    assert(viaDf.exceptAll(viaSql).count() == 0)
  }

  test("SQL semi/anti joins equal the DataFrame plans") {
    val sqlSemi = graft.ops.Sql.run(spark, sf,
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey IN
        |  (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 48)"""
        .stripMargin)
    val dfSemi = ops.Relational.q04SemiJoin(spark, sf)
    assert(sqlSemi.exceptAll(dfSemi).count() == 0)
    val sqlAnti = graft.ops.Sql.run(spark, sf,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)
    val dfAnti = ops.Relational.q05AntiJoin(spark, sf)
    assert(sqlAnti.count() == dfAnti.count())
  }

  test("custom Catalyst expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    // md5: matches the built-in (bit-identical digest, different kernel)
    val m = spark.sql(
      "SELECT graft_md5('hello') AS g, md5('hello') AS b").head
    assert(m.getString(0) == m.getString(1))
    // vec kernels over a real embedding, vs the HOF formulation
    val v = graft.ops.Sql.run(spark, sf,
      """SELECT graft_vec_dot(embedding, embedding) AS d,
        |  graft_vec_norm(embedding) AS n,
        |  aggregate(zip_with(embedding, embedding,
        |    (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |    CAST(0.0 AS DOUBLE), (a, x) -> a + x) AS hof
        |FROM embeddings WHERE vec_id = 0""".stripMargin).head
    assert(v.getDouble(0) == v.getDouble(2))
    assert(math.abs(math.sqrt(v.getDouble(0)) - v.getDouble(1)) < 1e-12)
    // usable inside a full SQL query through the engine's SQL front-end
    val dedup = graft.ops.Sql.run(spark, sf,
      """SELECT count(DISTINCT graft_md5(text)) AS n_unique
        |FROM documents""".stripMargin).head.getLong(0)
    assert(dedup > 0)
  }

  test("q20 HLL approx distinct lands within tolerance for every group") {
    val verdicts = ops.Relational.q20ApproxDistinct(spark, sf)
    assert(verdicts.count() > 0)
    assert(verdicts.filter(!col("parts_within_tol") ||
      !col("supps_within_tol")).count() == 0)
  }
}
