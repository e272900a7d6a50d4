package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.psn.{MvAgg, TableStore}

/** INFORMATION_SCHEMA views (TableStore.informationSchemaTables/Columns):
  * table kinds classified, metadata-only row counts, declared schemas
  * surfaced post-evolution. */
class InfoSchemaSpec extends AnyFunSuite {
  import TestSpark._

  test("TABLES classifies kinds and counts rows from footers only") {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("is_wh").toString)
    store.overwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    store.append("t", Seq((3, "c")).toDF("k", "v"))
    store.cloneTable("t", "snap", snapshot = true)
    store.createMaterializedView("m", "t", Seq("v"),
      Seq(MvAgg("n", "COUNT", "*")))
    val got = store.informationSchemaTables()
      .select(col("table_name"), col("table_type"), col("n_rows"),
        col("n_columns"))
      .orderBy("table_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSeq
    assert(got == Seq(
      ("m", "MATERIALIZED VIEW", 3L, 2),
      ("snap", "SNAPSHOT", 3L, 2),
      ("t", "BASE TABLE", 3L, 2)))
  }

  test("COLUMNS shows the DECLARED schema after metadata-only evolution") {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("is_wh2").toString)
    store.overwrite("e", Seq((1, "a")).toDF("k", "v"))
    assert(store.addColumn("e", "score", "DOUBLE"))
    val cols = store.informationSchemaColumns()
      .filter(col("table_name") === "e")
      .orderBy("ordinal_position").collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(3))).toSeq
    assert(cols == Seq(("k", 1, "INT"), ("v", 2, "STRING"),
      ("score", 3, "DOUBLE")))
  }
}

/** Logical views (stored SQL, re-planned per read) + the PARTITIONS
  * catalog view. */
class ViewsAndPartitionsSpec extends AnyFunSuite {
  import TestSpark._

  test("logical views: lifecycle, freshness, and loud name rules") {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("vw_wh").toString)
    store.overwrite("base", Seq((1, 10), (2, 20)).toDF("k", "x"))
    store.createView("v", "SELECT k, x * 2 AS d FROM base")
    assert(store.isView("v") && store.views() == Seq("v"))
    assert(!store.exists("v")) // a view is not a table
    // a later view may stack on "v"
    store.createView("vv", "SELECT SUM(d) AS s FROM v")
    assert(store.views() == Seq("v", "vv"))
    // CREATE over an existing view needs OR REPLACE; tables refuse the name
    intercept[IllegalArgumentException] {
      store.createView("v", "SELECT 1 AS one")
    }
    store.createView("v", "SELECT k, x * 3 AS d FROM base",
      orReplace = true)
    intercept[IllegalArgumentException] {
      store.createView("base", "SELECT 1 AS one")
    }
    store.dropView("vv")
    intercept[IllegalArgumentException] { store.dropView("vv") }
    assert(store.views() == Seq("v"))
  }

  test("PARTITIONS reports live per-partition rows from metadata only") {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("pc_wh").toString)
    def part(ks: (Int, String)*) = ks.toSeq.toDF("k", "p")
    store.append("t", part((1, "a"), (2, "b"), (3, "a")), Some("p"))
    store.append("t", part((4, "a"), (5, "c")), Some("p"))
    // tombstone one row of partition a: ITS count drops, others hold
    store.deleteRows("t", col("k") === 1)
    val got = store.informationSchemaPartitions("t")
      .orderBy("partition_value").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 2L), ("b", 1L), ("c", 1L)))
    // unpartitioned table: one __NULL__ row covering everything
    store.overwrite("u", part((1, "a"), (2, "b")))
    val gu = store.informationSchemaPartitions("u").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(gu == Seq(("__NULL__", 2L)))
  }
}
