package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.psn.{FileStats, TableStore}
import graft.psn.FileStats.LLong

/** Every read path of the store is one scan of one pinned marker, so on a
  * table that has everything at once — a hive layout, footer stats and
  * blooms, an evolved schema, an in-place append that carries the new
  * column, and a deletion vector — each must agree with `read`, rows and
  * schema: the partition probe, the data-skipping read, the metadata
  * counts, the partition catalog, and a compaction.
  */
class ReadPathSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema")
    assert(rows(got) == rows(want), s"$what: rows")
  }

  test("partition probe, skipping read, counts, catalog and compact agree with read") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_readpath").toString)
    // partition p holds keys [100p, 100p + 100), two files each
    store.append("t", spark.range(0, 400).repartition(2)
      .select(col("id").as("k"), (col("id") * 3).as("v"),
        (col("id") / 100).cast("int").as("p")), Some("p"))
    store.analyze("t")
    store.analyzeBloom("t", Seq("k"), expectedItemsPerFile = 256L)
    assert(store.addColumn("t", "note", "STRING"))
    // in place, into the existing partition directories, with the column
    store.append("t", spark.range(500, 540).select(col("id").as("k"),
      (col("id") * 3).as("v"), concat(lit("n"), col("id")).as("note"),
      (col("id") % 4).cast("int").as("p")), Some("p"))
    // 58 of the first 400 keys, 6 of the appended 40
    assert(store.deleteRows("t", col("k") % 7 === 0) == 64)

    val all = store.read("t")
    assert(all.columns.toSeq == Seq("k", "v", "note", "p"))
    val n = all.count()
    assert(n == 440 - 64)
    assert(all.filter(col("note").isNotNull).count() == 40 - 6)

    assertSame(store.readPartitions("t", "p", Seq(1, 3)),
      all.filter(col("p").isin(1, 3)), "readPartitions")

    val range = Seq(FileStats.ge("k", LLong(150)), FileStats.le("k", LLong(260)))
    val point = Seq(FileStats.eqTo("k", LLong(517)))
    Seq(range, point).foreach { preds =>
      assertSame(store.readWhere("t", preds),
        all.filter(preds.map(FileStats.toColumn).reduce(_ && _)),
        s"readWhere $preds")
      val (kept, total) = store.pruneInfo("t", preds)
      assert(kept < total && total == store.fileCount("t"),
        s"$preds kept $kept of $total files")
    }

    assert(store.countRows("t") == n)
    assert(store.informationSchemaPartitions("t")
      .agg(sum("n_rows")).head().getLong(0) == n)

    val before = rows(all)
    assert(store.compact("t"))
    assert(store.fileCount("t") == 4, "one file per partition directory")
    val compacted = store.read("t")
    assert(compacted.schema == all.schema)
    assert(rows(compacted) == before)
  }
}
