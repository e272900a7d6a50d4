package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** 100 TB-posture mechanics, demonstrated at test scale: bucketed co-located
  * joins (no shuffle exchange on either side) and salted aggregation for
  * skewed keys. */
class ScaleSpec extends AnyFunSuite {
  import TestSpark._

  test("bucketed tables join without a shuffle exchange") {
    val o = graft.tables.Tables.orders(spark, sf)
    val l = graft.tables.Tables.lineitem(spark, sf)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      // same result as the plain-parquet join
      val expect = l.join(o, col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // AQE runtime filters: a selective filter on the build side injects a
    // bloom-filter semi-join predicate into the probe-side scan, cutting
    // shuffle volume before the join. At 100 TB the application-side size
    // threshold (default 10 GB) triggers naturally; test data is far below
    // it, so the threshold is lowered to demonstrate the mechanics.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val l = graft.tables.Tables.lineitem(spark, sf)
      val o = graft.tables.Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 450000)
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
      assert(j.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "expected a bloom-filter runtime filter on the probe side")
      // the filter is pure pruning: result equals the unfiltered-plan join
      val expect = {
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        val n = l.join(o, col("l_orderkey") === col("o_orderkey")).count()
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        n
      }
      assert(j.count() == expect)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("q02 plan: filters and projection reach the parquet scan") {
    val plan = ops.Relational.q02FilterProject(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_discount,0.05)"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp"), plan.take(2000))
  }

  test("q15 plan: every dimension joins via broadcast") {
    val plan = ops.Relational.q15StarJoin(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("partitioned fact table: date filter prunes partition directories") {
    import java.nio.file.Files
    val wh = Files.createTempDirectory("graft_part").toString
    val store = new graft.psn.TableStore(spark, wh)
    val facts = graft.tables.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    store.append("facts", facts, Some("month"))
    // hive-style layout on disk, inside the committed version directory
    assert(Files.readString(
      java.nio.file.Paths.get(wh, "facts", "_current")).trim == "v1")
    assert(new java.io.File(s"$wh/facts/v1").listFiles()
      .exists(_.getName.startsWith("month=")))
    val pruned = store.read("facts").filter(col("month") === "1996-03")
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [isnotnull(month"),
      plan.take(1500))
    val expect = facts.filter(col("month") === "1996-03").count()
    assert(pruned.count() == expect && expect > 0)
  }

  test("csv + orc roundtrips: orders written and re-read losslessly") {
    import java.nio.file.Files
    val o = graft.tables.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val csvDir = Files.createTempDirectory("graft_csv").toString
    o.write.mode("overwrite").option("header", "true").csv(csvDir)
    val csvBack = spark.read.option("header", "true")
      .schema(o.schema).csv(csvDir)
    assert(csvBack.exceptAll(o).count() == 0 &&
      o.exceptAll(csvBack).count() == 0)
    val orcDir = Files.createTempDirectory("graft_orc").toString
    o.write.mode("overwrite").orc(orcDir)
    val orcBack = spark.read.orc(orcDir)
    assert(orcBack.exceptAll(o).count() == 0 &&
      o.exceptAll(orcBack).count() == 0)
  }

  test("json-lines roundtrip: events written and re-read losslessly") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_json").toString
    val ev = graft.tables.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "props")
    ev.write.mode("overwrite").json(out)
    val back = spark.read.json(out)
      .select("event_id", "user_id", "event_type", "value", "props")
    assert(back.count() == ev.count())
    assert(back.exceptAll(
      ev.select(back.columns.map(col): _*)).count() == 0)
  }

  test("salted aggregation matches direct aggregation on a skewed key") {
    import spark.implicits._
    // 90% of rows share one key AND a constant value — the shape that melts
    // a single reducer (and that value-derived salts can't spread).
    val skewed = spark.range(100000)
      .select(col("id"),
        when(col("id") % 10 === 0, col("id") % 7)
          .otherwise(lit(999L)).as("k"),
        when(col("id") % 10 === 0, (col("id") % 100).cast("double"))
          .otherwise(lit(1.0)).as("v"))
    val direct = skewed.groupBy(col("k")).agg(sum(col("v")).as("s"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val salted = graft.ops.Skew
      .saltedSum(skewed, col("k"), col("v"), 16, col("id"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(salted.toSeq == direct.toSeq)
  }
}
