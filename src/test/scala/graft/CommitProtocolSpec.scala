package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, udf}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.psn.{MvAgg, TableStore}

/** Named gates for writes a spec must hold open mid-flight: the task
  * evaluating a gated row signals `reached` and waits for `open`. Local
  * mode runs tasks inside the test JVM, so one object serves both sides. */
object CommitGates {
  final class Gate {
    val reached = new CountDownLatch(1)
    val open = new CountDownLatch(1)
    val evaluations = new AtomicInteger(0)
  }
  private val gates = new java.util.concurrent.ConcurrentHashMap[String, Gate]()
  def apply(name: String): Gate = gates.computeIfAbsent(name, _ => new Gate)

  private val pass = udf { (id: Long, name: String) =>
    val g = CommitGates(name)
    g.evaluations.incrementAndGet()
    g.reached.countDown()
    g.open.await(120, TimeUnit.SECONDS)
    id
  }

  /** One row (id, grp, x) whose single task stops at gate `name`. */
  def frame(id: Long, name: String): DataFrame =
    TestSpark.spark.range(id, id + 1, 1, 1).select(
      pass(col("id"), lit(name)).as("id"),
      lit((id % 2).toInt).as("grp"), lit(id * 1.5).as("x"))

  /** Runs `body` on its own thread, collecting what it throws. */
  def thread(errors: java.util.Queue[Throwable])(body: => Unit): Thread = {
    val th = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
    th.start()
    th
  }
}

/** Characterizes the store's commit protocol, one row per committing verb:
  * every commit adds exactly one `_commit.N` marker and advances the head,
  * records its transaction tag, leaves GC holding the head plus one
  * previous version, keeps an analyzed table's stats sidecar on the new
  * head, and leaves the declared schema of an evolved table where the
  * verb's contract puts it (carried, replaced by the written frame, or the
  * restored snapshot's own). Then the three lost-race policies: merges
  * and appends re-apply on the new head — an append that lands during a
  * merge's staging survives it, and two racing first writes both land; a
  * transaction keeps its staged content and publishes at the next free
  * seq. */
class CommitProtocolSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rows(ids: Long*): DataFrame =
    ids.map(i => (i, (i % 2).toInt, i * 1.5)).toDF("id", "grp", "x")

  private def ids(store: TableStore, t: String): Set[Long] =
    store.read(t).select(col("id")).as[Long].collect().toSet

  private def names(d: Path): Seq[String] = {
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toList
    finally s.close()
  }
  private def markerSeqs(wh: Path, t: String): Set[Int] =
    names(wh.resolve(t)).collect {
      case n if n.matches("_commit\\.\\d+") => n.stripPrefix("_commit.").toInt
    }.toSet
  private def versionDirs(wh: Path, t: String): Seq[Int] =
    names(wh.resolve(t)).collect {
      case n if n.matches("v\\d+") => n.drop(1).toInt
    }.sorted
  /** Every regular file under version directory `v` of `t`. */
  private def filesUnder(wh: Path, t: String, v: Int): Seq[Path] = {
    val s = Files.walk(wh.resolve(s"$t/v$v"))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }
  private def lastTag(store: TableStore, t: String): Option[String] =
    Option(store.history(t).orderBy(col("seq").desc).head()
      .getAs[String]("txn_tag"))
  private def shape(st: Option[StructType]): Option[Seq[(String, DataType)]] =
    st.map(_.fields.toSeq.map(f => f.name -> f.dataType))

  /** How a verb's table looks before it runs. `Fresh` verbs create the
    * table `n`; the rest commit over `t`, which has two prior data
    * versions, one evolution commit (`note` added) and a stats sidecar. */
  private sealed trait Layout
  private case object Flat extends Layout
  private case object Partitioned extends Layout
  private case object Mv extends Layout
  private case object Fresh extends Layout

  private case class Verb(name: String, layout: Layout, tagged: Boolean,
      declared: Option[StructType] => Option[StructType] = identity)(
      val run: (TableStore, Option[String]) => Unit)

  private val replacement = rows(7, 8).withColumn("y", lit("q"))
  private def withNote(df: DataFrame) =
    df.withColumn("note", lit(null).cast(StringType))

  private val verbs = Seq(
    Verb("deleteRows", Flat, tagged = true) { (s, tag) =>
      assert(s.deleteRows("t", col("id") === 1L, tag) == 1L)
    },
    Verb("restore", Flat, tagged = true, declared = _ => None) { (s, tag) =>
      assert(s.restore("t", s.versions("t").min, tag))
    },
    Verb("cloneTable", Fresh, tagged = true) { (s, tag) =>
      s.cloneTable("t", "n", txnTag = tag)
    },
    Verb("overwrite", Flat, tagged = true,
        declared = _ => Some(replacement.schema)) { (s, tag) =>
      s.overwrite("t", replacement, tag)
    },
    Verb("append (first write)", Fresh, tagged = false,
        declared = _ => None) { (s, _) =>
      s.append("n", rows(1, 2))
    },
    Verb("truncate", Flat, tagged = false) { (s, _) => s.truncate("t") },
    Verb("createLike", Fresh, tagged = false, declared = _ => None) {
      (s, _) => s.createLike("t", "n")
    },
    Verb("refreshMaterializedView", Mv, tagged = false) { (s, _) =>
      s.append("b", rows(4))
      s.refreshMaterializedView("t")
    },
    Verb("append (first write, tagged)", Fresh, tagged = true,
        declared = _ => None) { (s, tag) =>
      s.append("n", rows(1, 2), None, tag)
    },
    Verb("append (first write, partitioned)", Fresh, tagged = true,
        declared = _ => None) { (s, tag) =>
      s.append("n", rows(1, 2), Some("grp"), tag)
    },
    Verb("append", Flat, tagged = true) { (s, tag) =>
      s.append("t", withNote(rows(9)), None, tag)
    },
    Verb("append (partitioned)", Partitioned, tagged = true) { (s, tag) =>
      s.append("t", withNote(rows(9)), Some("grp"), tag)
    },
    Verb("mergeWith", Flat, tagged = true,
        declared = _.map(_.add(StructField("y", IntegerType)))) { (s, tag) =>
      s.mergeWith("t", txnTag = tag)(_.withColumn("y", lit(1)))
    },
    Verb("mergePartitionedWith", Partitioned, tagged = true) { (s, tag) =>
      s.mergePartitionedWith("t", "grp", Seq(1), txnTag = tag)(identity)
    },
    Verb("compact", Flat, tagged = false) { (s, _) => assert(s.compact("t")) },
    Verb("addColumn", Flat, tagged = true,
        declared = _.map(_.add(StructField("extra", IntegerType)))) {
      (s, tag) => assert(s.addColumn("t", "extra", "INT", tag))
    },
    Verb("dropColumn", Flat, tagged = true,
        declared = _.map(st => StructType(st.fields.filterNot(_.name == "x")))) {
      (s, tag) => assert(s.dropColumn("t", "x", tag))
    },
    Verb("cluster", Flat, tagged = true) { (s, tag) =>
      assert(s.cluster("t", "id", 2, tag))
    },
    Verb("clusterZ", Flat, tagged = true) { (s, tag) =>
      assert(s.clusterZ("t", Seq("id", "x"), 2, tag))
    },
    Verb("commitTransaction", Flat, tagged = true,
        declared = _ => Some(replacement.schema)) { (s, tag) =>
      s.commitTransaction(Seq("t" -> replacement), tag)
    })

  /** Builds `t` for `layout`: two data versions, an evolution commit and
    * a stats sidecar (the MV instead gets two refreshes and a sidecar). */
  private def setUp(store: TableStore, layout: Layout): Unit = layout match {
    case Partitioned =>
      store.append("t", rows(1, 2, 3, 4), Some("grp"))
      store.mergePartitionedWith("t", "grp", Seq(0))(identity)
      assert(store.addColumn("t", "note", "STRING"))
      store.analyze("t")
    case Mv =>
      store.overwrite("b", rows(1, 2))
      store.createMaterializedView("t", "b", Seq("grp"),
        Seq(MvAgg("n", "COUNT", "*"), MvAgg("s", "SUM", "x")))
      store.append("b", rows(3))
      store.refreshMaterializedView("t")
      store.analyze("t")
    case Flat | Fresh =>
      store.overwrite("t", rows(1, 2, 3, 4))
      store.overwrite("t", rows(1, 2, 3, 4, 5, 6))
      assert(store.addColumn("t", "note", "STRING"))
      store.analyze("t")
  }

  verbs.foreach { verb =>
    test(s"${verb.name}: one marker, tag, GC window, stats and declared schema") {
      val wh = Files.createTempDirectory("graft_commit")
      val store = new TableStore(spark, wh.toString)
      setUp(store, verb.layout)
      val tag = if (verb.tagged) Some(s"cp:${verb.name.length}") else None
      val declaredBefore = store.declaredSchema("t")
      val t = if (verb.layout == Fresh) "n" else "t"
      val seqsBefore = if (verb.layout == Fresh) Set.empty[Int]
        else markerSeqs(wh, t)
      val headBefore = if (verb.layout == Fresh) 0 else store.versions(t).max

      verb.run(store, tag)

      val seqsAfter = markerSeqs(wh, t)
      val last = seqsBefore.maxOption.getOrElse(0) + 1
      assert(seqsAfter.max == last && !seqsBefore(last),
        s"exactly one new marker: $seqsBefore -> $seqsAfter")
      val head = store.versions(t).max
      assert(head > headBefore, s"head must advance past v$headBefore")
      if (verb.tagged) assert(lastTag(store, t) == tag)
      if (verb.layout == Fresh) {
        assert(seqsAfter == Set(1) && versionDirs(wh, t) == Seq(head))
      } else {
        // GC: the head plus the version it replaced, nothing older — an
        // older version directory keeps only files those two name
        assert(seqsAfter == Set(last - 1, last), s"markers $seqsAfter")
        assert(store.versions(t) == Seq(headBefore, head),
          s"versions ${store.versions(t)}")
        val named = Seq(headBefore, head).flatMap { v =>
          val (data, dv) = store.namedFiles(t, v)
          data ++ dv
        }.toSet
        versionDirs(wh, t).filterNot(Set(headBefore, head)).foreach { v =>
          assert(v < headBefore, s"v$v survived GC above the window")
          val stray = filesUnder(wh, t, v).filterNot(named)
          assert(stray.isEmpty, s"v$v keeps files no retained version names: $stray")
        }
        assert(Files.exists(wh.resolve(s"$t/_stats.v$head")),
          "an analyzed table keeps a stats sidecar on the new head")
      }
      assert(shape(store.declaredSchema(t)) ==
        shape(verb.declared(declaredBefore)))
      store.read(t).collect() // the new head reads under its declared schema
    }
  }

  test("mergeWith re-applies its transform on the head that beat it") {
    val wh = Files.createTempDirectory("graft_commit_race")
    val store = new TableStore(spark, wh.toString)
    store.overwrite("t", rows(1, 2))
    var calls = 0
    store.mergeWith("t", txnTag = Some("race:1")) { cur =>
      calls += 1
      if (calls == 1) store.mergeWith("t")(_.unionByName(rows(100)))
      cur.unionByName(rows(200))
    }
    assert(calls == 2, "the losing transform runs again on the new head")
    assert(ids(store, "t") == Set(1L, 2L, 100L, 200L))
    assert(markerSeqs(wh, "t").max == 3)
    assert(lastTag(store, "t") == Some("race:1"))
  }

  test("mergeWith's publish gate runs beside staging; when it throws, nothing publishes") {
    val wh = Files.createTempDirectory("graft_commit_gate")
    val store = new TableStore(spark, wh.toString)
    store.overwrite("t", rows(1, 2))
    val (head0, seqs0) = (store.versions("t").max, markerSeqs(wh, "t"))
    val staging = CommitGates("cp-gate-stage")
    val e = intercept[IllegalStateException] {
      store.mergeWith("t", publishGate = Some { () =>
        // the staging write is mid-flight while the gate runs
        if (!staging.reached.await(120, TimeUnit.SECONDS))
          throw new AssertionError("the gate did not overlap the staging write")
        staging.open.countDown()
        throw new IllegalStateException("fact append failed")
      })(_.unionByName(CommitGates.frame(100, "cp-gate-stage")))
    }
    assert(e.getMessage == "fact append failed")
    assert(store.versions("t").max == head0 && markerSeqs(wh, "t") == seqs0)
    assert(ids(store, "t") == Set(1L, 2L))
  }

  test("a publish gate that commits to the same table forces one lost race; " +
    "the re-stage does not re-run the gate") {
    val wh = Files.createTempDirectory("graft_commit_gate_race")
    val store = new TableStore(spark, wh.toString)
    store.overwrite("t", rows(1, 2))
    val gateRuns = new AtomicInteger(0)
    var calls = 0
    store.mergeWith("t", publishGate = Some { () =>
      gateRuns.incrementAndGet()
      store.mergeWith("t")(_.unionByName(rows(100)))
    }) { cur =>
      calls += 1
      cur.unionByName(rows(200))
    }
    assert(calls == 2, "exactly one lost race: the transform re-applies once")
    assert(gateRuns.get == 1, "the gate runs once")
    assert(ids(store, "t") == Set(1L, 2L, 100L, 200L))
    assert(markerSeqs(wh, "t").max == 3)
  }

  test("an append made during a merge's staging is in the head afterwards; " +
    "the merge re-applies once") {
    val wh = Files.createTempDirectory("graft_commit_append_merge")
    val store = new TableStore(spark, wh.toString)
    store.overwrite("t", rows(1, 2))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val calls = new AtomicInteger(0)
    // the merge pins v1 and stays mid-staging…
    val merge = CommitGates.thread(errors)(store.mergeWith("t") { cur =>
      calls.incrementAndGet()
      cur.unionByName(CommitGates.frame(100, "cp-append-merge"))
    })
    assert(CommitGates("cp-append-merge").reached.await(120, TimeUnit.SECONDS))
    // …while an append commits over the same base
    store.append("t", rows(3))
    CommitGates("cp-append-merge").open.countDown()
    merge.join()
    assert(errors.isEmpty, errors.toString)

    assert(ids(store, "t") == Set(1L, 2L, 3L, 100L), "the append survives the merge")
    assert(calls.get == 2, "the merge lost one race and re-applied once")
    assert(markerSeqs(wh, "t").max == 3)
  }

  test("two racing first appends both land") {
    val wh = Files.createTempDirectory("graft_commit_first_race")
    val store = new TableStore(spark, wh.toString)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // both appends find no table and stay mid-staging…
    val a = CommitGates.thread(errors)(
      store.append("n", CommitGates.frame(1, "cp-first-a")))
    val b = CommitGates.thread(errors)(
      store.append("n", CommitGates.frame(2, "cp-first-b")))
    assert(CommitGates("cp-first-a").reached.await(120, TimeUnit.SECONDS))
    assert(CommitGates("cp-first-b").reached.await(120, TimeUnit.SECONDS))
    // …then one publishes the table, and only then does the other finish
    CommitGates("cp-first-a").open.countDown()
    a.join()
    CommitGates("cp-first-b").open.countDown()
    b.join()
    assert(errors.isEmpty, errors.toString)

    assert(ids(store, "n") == Set(1L, 2L), "the second first-write is not dropped")
    assert(markerSeqs(wh, "n").max == 2)
  }

  test("mergePartitionedWith re-applies its transform on the head that beat it") {
    val wh = Files.createTempDirectory("graft_commit_prace")
    val store = new TableStore(spark, wh.toString)
    store.append("t", rows(1, 2, 3, 4), Some("grp"))
    var calls = 0
    store.mergePartitionedWith("t", "grp", Seq(1), txnTag = Some("race:2")) {
      touched =>
        calls += 1
        if (calls == 1)
          store.mergePartitionedWith("t", "grp", Seq(0))(
            _.unionByName(rows(100)))
        touched.unionByName(rows(201))
    }
    assert(calls == 2, "the losing transform runs again on the new head")
    assert(ids(store, "t") == Set(1L, 2L, 3L, 4L, 100L, 201L))
    assert(markerSeqs(wh, "t").max == 3)
    assert(lastTag(store, "t") == Some("race:2"))
  }

  test("a transaction beaten during staging publishes its staged state at the next seq") {
    val wh = Files.createTempDirectory("graft_commit_trace")
    val store = new TableStore(spark, wh.toString)
    store.overwrite("t", rows(1))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // the competing overwrite claims first and stays mid-write…
    val competitor = CommitGates.thread(errors)(
      store.overwrite("t", CommitGates.frame(50, "cp-competitor")))
    assert(CommitGates("cp-competitor").reached.await(120, TimeUnit.SECONDS))
    // …the transaction claims next and stays mid-staging…
    val txn = CommitGates.thread(errors)(store.commitTransaction(
      Seq("t" -> CommitGates.frame(60, "cp-txn")), Some("race:3")))
    assert(CommitGates("cp-txn").reached.await(120, TimeUnit.SECONDS))
    // …then the competitor commits, and only then does the staging finish
    CommitGates("cp-competitor").open.countDown()
    competitor.join()
    assert(markerSeqs(wh, "t").max == 2)
    CommitGates("cp-txn").open.countDown()
    txn.join()
    assert(errors.isEmpty, errors.toString)

    assert(ids(store, "t") == Set(60L), "the staged state wins")
    assert(CommitGates("cp-txn").evaluations.get == 1,
      "a rebased transaction is staged once, never re-applied")
    assert(markerSeqs(wh, "t") == Set(2, 3))
    assert(lastTag(store, "t") == Some("race:3"))
  }
}

/** A rebasing commit can publish a version numbered BELOW the head it
  * replaces — its claim predates the competitor's. The post-commit GC
  * sweeps versions below the replaced head, and must not sweep the one
  * it just published. */
class RebasedCommitGcSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("a transaction that claimed before a competing commit survives its own GC") {
    val wh = Files.createTempDirectory("graft_commit_low")
    val store = new TableStore(spark, wh.toString)
    store.overwrite("t", Seq((1L, 1, 1.5)).toDF("id", "grp", "x"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // the transaction claims v2 and stays mid-staging…
    val txn = CommitGates.thread(errors)(store.commitTransaction(
      Seq("t" -> CommitGates.frame(60, "low-txn")), Some("low:1")))
    assert(CommitGates("low-txn").reached.await(120, TimeUnit.SECONDS))
    // …while an overwrite claims v3 and commits it at seq 2
    store.overwrite("t", Seq((50L, 0, 75.0)).toDF("id", "grp", "x"))
    // the staging claim v2 has no marker yet: time travel does not list it
    assert(store.versions("t") == Seq(1, 3))
    CommitGates("low-txn").open.countDown()
    txn.join()
    assert(errors.isEmpty, errors.toString)

    // the transaction published v2 at seq 3, over v3
    val log = store.history("t").orderBy("seq").as[(Int, Int, Long, String)]
      .collect().map { case (seq, v, _, tag) => (seq, v, tag) }.toSeq
    assert(log.last == ((3, 2, "low:1")), log.toString)
    assert(store.read("t").select("id").as[Long].collect().toSeq == Seq(60L))
    // the replaced head v3 is retained one commit behind the new head and
    // stays listed and readable, though its number is above the head's
    assert(store.versions("t") == Seq(2, 3))
    assert(store.readVersion("t", 3).select("id").as[Long].collect().toSeq ==
      Seq(50L))
  }
}
