package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.psn.TableStore

/** Schema-on-write at the sink: an in-place append whose schema drifts
  * from the table's would land mixed-schema files in one version
  * directory, where a plain parquet read samples a single footer and the
  * new column silently vanishes. The store must fail the APPEND loudly;
  * the supported widening path is a rewriting commit (overwrite /
  * mergeWith) — a new version — so time travel keeps every snapshot's
  * schema intact.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  import TestSpark._

  private def freshStore() = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_evo").toString)

  test("drifting append fails loudly; same-schema append passes") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    store.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // Same shape, different column ORDER: not drift.
    store.append("t",
      Seq(("c", 3L)).toDF("name", "id").select("name", "id"))
    assert(store.read("t").count() == 3)
    val widened = Seq((4L, "d", 1.5)).toDF("id", "name", "score")
    val e = intercept[IllegalArgumentException] {
      store.append("t", widened)
    }
    assert(e.getMessage.contains("schema drift"), e.getMessage)
    val retyped = Seq((5, "e")).toDF("id", "name") // id INT, not BIGINT
    assert(intercept[IllegalArgumentException] {
      store.append("t", retyped)
    }.getMessage.contains("schema drift"))
    assert(store.read("t").count() == 3, "rejected appends must not land")
  }

  test("widening goes through a rewriting commit; time travel keeps old schema") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    store.append("t", Seq((1L, "a")).toDF("id", "name"))
    val v1 = store.versions("t").max
    val widened = store.read("t")
      .withColumn("score", org.apache.spark.sql.functions.lit(0.5))
    store.overwrite("t", widened)
    assert(store.read("t").columns.toSeq ==
      Seq("id", "name", "score"))
    // The appended-to widened table accepts the new shape...
    store.append("t", Seq((2L, "b", 0.9)).toDF("id", "name", "score"))
    assert(store.read("t").count() == 2)
    // ...and rejects the OLD one now.
    assert(intercept[IllegalArgumentException] {
      store.append("t", Seq((3L, "c")).toDF("id", "name"))
    }.getMessage.contains("schema drift"))
    // Time travel: the v1 snapshot still reads with its own schema.
    assert(store.readVersion("t", v1).columns.toSeq == Seq("id", "name"))
  }

  test("partitioned append: partition-column type inference is not drift") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    store.appendPartitioned("p",
      Seq((1L, 20240101L, "x")).toDF("id", "day", "v"), "day")
    // day was written BIGINT but reads back via partition inference —
    // appending the same frame shape must still pass.
    store.appendPartitioned("p",
      Seq((2L, 20240102L, "y")).toDF("id", "day", "v"), "day")
    assert(store.read("p").count() == 2)
    // A genuinely drifted non-partition column still fails.
    assert(intercept[IllegalArgumentException] {
      store.appendPartitioned("p",
        Seq((3L, 20240103L, 9)).toDF("id", "day", "v"), "day")
    }.getMessage.contains("schema drift"))
  }

  // ---- metadata-only evolution (ALTER TABLE ADD/DROP COLUMN) ----

  private def ino(p: java.nio.file.Path): Any =
    java.nio.file.Files.getAttribute(p, "unix:ino")

  private def dataFilesOf(wh: String, table: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(wh, table)
    val v = java.nio.file.Files.readString(d.resolve("_current")).trim
    java.nio.file.Files.walk(d.resolve(v)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
  }

  test("addColumn is metadata-only: files are hard-linked, reads null-fill") {
    import TestSpark.spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_evo").toString
    val store = new TableStore(spark, wh)
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val before = dataFilesOf(wh, "t").map(ino).toSet
    assert(store.addColumn("t", "score", "DOUBLE"))
    val after = dataFilesOf(wh, "t").map(ino).toSet
    assert(after == before, "evolution must hard-link, not rewrite")
    assert(store.read("t").columns.toSeq == Seq("id", "name", "score"))
    assert(store.read("t").filter("score IS NULL").count() == 2)
    // Post-evolution appends speak the widened schema...
    store.append("t", Seq((3L, "c", 0.9)).toDF("id", "name", "score"))
    val rows = store.read("t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2)))
    assert(rows.toSeq == Seq((1L, true), (2L, true), (3L, false)))
    // ...and the OLD shape is drift, same as ever.
    assert(intercept[IllegalArgumentException] {
      store.append("t", Seq((4L, "d")).toDF("id", "name"))
    }.getMessage.contains("schema drift"))
    // Re-adding an existing column is loud.
    assert(intercept[IllegalArgumentException] {
      store.addColumn("t", "score", "DOUBLE")
    }.getMessage.contains("already exists"))
  }

  test("time travel reads each snapshot under ITS schema across evolution") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("id", "name"))
    val v1 = store.versions("t").max
    assert(store.addColumn("t", "score", "DOUBLE"))
    assert(store.readVersion("t", v1).columns.toSeq == Seq("id", "name"))
    assert(store.read("t").columns.toSeq == Seq("id", "name", "score"))
  }

  test("dropColumn hides the data; re-add is refused until a rewrite purges it") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq((1L, "a", 0.5)).toDF("id", "name", "score"))
    assert(store.dropColumn("t", "score"))
    assert(store.read("t").columns.toSeq == Seq("id", "name"))
    // The bytes linger in the linked files — resurrecting the name would
    // surface them as fake data, so the ADD is loud...
    assert(intercept[IllegalArgumentException] {
      store.addColumn("t", "score", "DOUBLE")
    }.getMessage.contains("still physically"))
    // ...until a full rewrite purges the residue.
    store.overwrite("t", store.read("t"))
    assert(store.addColumn("t", "score", "DOUBLE"))
    assert(store.read("t").filter("score IS NULL").count() == 1)
  }

  test("dropColumn is refused while a CHECK constraint references the column") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq((1L, 2.0)).toDF("id", "price"))
    store.addConstraint("t", "price_pos", "price > 0")
    assert(intercept[IllegalArgumentException] {
      store.dropColumn("t", "price")
    }.getMessage.contains("price_pos"))
    store.dropConstraint("t", "price_pos")
    assert(store.dropColumn("t", "price"))
    assert(store.read("t").columns.toSeq == Seq("id"))
  }

  test("compact preserves the declared schema across mixed-physical bins") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    // Several small pre-evolution files + several post-evolution ones in
    // one version directory: the compaction bins MIX physical schemas. A
    // footer-sampling read would drop `score` from the rewritten bin —
    // this is the data-loss regression the declared-schema read closes.
    (1 to 3).foreach(i =>
      store.append("t", Seq((i.toLong, s"a$i")).toDF("id", "name")
        .repartition(1)))
    assert(store.addColumn("t", "score", "DOUBLE"))
    (4 to 6).foreach(i =>
      store.append("t", Seq((i.toLong, s"a$i", i / 10.0))
        .toDF("id", "name", "score").repartition(1)))
    assert(store.compact("t"))
    val out = store.read("t")
    assert(out.columns.toSeq == Seq("id", "name", "score"))
    assert(out.filter("score IS NULL").count() == 3)
    assert(out.filter("score IS NOT NULL").count() == 3)
    // mergeWith (a rewriting commit) also carries the declaration.
    store.mergeWith("t")(df => df.filter("id <= 5"))
    assert(store.read("t").columns.toSeq == Seq("id", "name", "score"))
    assert(store.read("t").count() == 5)
  }

  test("the change feed and evolution exclude each other") {
    import TestSpark.spark.implicits._
    val store = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("id", "name"))
    store.enableFeed("t")
    assert(intercept[IllegalArgumentException] {
      store.addColumn("t", "score", "DOUBLE")
    }.getMessage.contains("feed"))
    val store2 = freshStore()
    store2.overwrite("u", Seq((1L, "a")).toDF("id", "name"))
    assert(store2.addColumn("u", "score", "DOUBLE"))
    assert(intercept[IllegalArgumentException] {
      store2.enableFeed("u")
    }.getMessage.contains("declared"))
  }

  test("rewriting commits seed the schema memo with the footer schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("graft_memo")
    val store = new TableStore(spark, wh.toString)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("at", TimestampType, nullable = false),
      StructField("score", DoubleType),
      StructField("tags", ArrayType(StringType, containsNull = false),
        nullable = false)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, java.sql.Timestamp.valueOf("2024-08-01 12:00:00"), 0.5,
        Seq("a")),
      Row(2L, java.sql.Timestamp.valueOf("2024-08-02 12:00:00"), null,
        Seq.empty[String])), schema)
    def head = store.versions("t").max
    def footer = spark.read.parquet(wh.resolve(s"t/v$head").toString).schema
    def assertSeeded(step: String): Unit = {
      assert(store.memoizedSchema("t", head).contains(footer), step)
      // ...so the next read plans from the memo: no footer-inference job
      val c = SparkCounts.of(spark)(store.read("t"))
      assert(c.jobs == 0, s"$step: read ran ${c.jobs} job(s)")
    }
    store.overwrite("t", df)
    assertSeeded("overwrite")
    store.mergeWith("t")(_.withColumn("score", col("score") * 2))
    assertSeeded("mergeWith")
    store.renameColumn("t", "score", "points")
    assertSeeded("renameColumn")
    assert(store.read("t").columns.toSeq == Seq("id", "at", "points", "tags"))
    assert(store.read("t").filter(col("id") === 1L).head()
      .getAs[Double]("points") == 1.0)

    // A declared-schema sidecar still wins over the seeded memo on read:
    // declare the head version with one more column, as an evolution
    // commit would, and the read null-fills it.
    val declared = footer.add(StructField("extra", StringType))
    java.nio.file.Files.writeString(wh.resolve(s"t/_schema.v$head"),
      declared.json)
    val r = store.read("t")
    assert(r.schema == declared)
    assert(r.filter(col("extra").isNull).count() == 2)
  }
}
