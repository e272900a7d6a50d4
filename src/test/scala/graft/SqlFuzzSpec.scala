package graft

import java.nio.file.{Files, Path}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Indexes, Sql}
import graft.psn.TableStore

/** Differential fuzz of the statement dispatcher (r14 verdict next-3):
  * Spark's parser for the standard verbs, the UPDATE … FROM split and the
  * Graft-only regexes. The risk class is a SILENT MISPARSE — a formatting
  * variant that matches the wrong branch or binds the wrong identifier.
  * Each generated case renders statements from a STRUCTURED template (so
  * the intended effect is known independently of the parser) under
  * randomized keyword case, whitespace (spaces / tabs / newlines),
  * backtick quoting, project.dataset qualification, and trailing-semicolon
  * choices, executes them against a real store and asserts their EFFECT.
  * Near-miss malformed statements must throw loudly — never execute as
  * something else. */
class SqlFuzzSpec extends AnyFunSuite {
  import TestSpark._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  // ---- statement renderer: keyword-case / whitespace / quoting fuzz

  /** One rendering style, drawn per statement. */
  private case class Style(kwCase: Int, ws: Seq[String], quote: Boolean,
      qualify: Boolean, semi: Boolean)

  private val styleGen: Gen[Style] = for {
    kwCase <- Gen.choose(0, 2) // 0 as-is, 1 lower, 2 upper
    ws <- Gen.listOfN(8,
      Gen.oneOf(" ", "  ", "\n", "\t", " \n ", "\n\t ")).map(_.toSeq)
    quote <- Gen.oneOf(true, false)
    qualify <- Gen.oneOf(true, false)
    semi <- Gen.oneOf(true, false)
  } yield Style(kwCase, ws, quote, qualify, semi)

  /** Tokens: ("k", keyword) | ("i", identifier) | ("p", punctuation glued
    * to the previous token). Rendering joins with style whitespace. */
  private def render(tokens: Seq[(String, String)], st: Style): String = {
    var w = 0
    def nextWs: String = { val s = st.ws(w % st.ws.length); w += 1; s }
    val sb = new StringBuilder
    tokens.zipWithIndex.foreach { case ((kind, tok), ix) =>
      val t = kind match {
        case "k" => st.kwCase match {
          case 1 => tok.toLowerCase
          case 2 => tok.toUpperCase
          case _ => tok
        }
        case "i" if tok.contains("#") => // table slot: quote/qualify
          val bare = tok.stripPrefix("#")
          if (st.qualify) s"`graft-fuzz.ds.$bare`"
          else if (st.quote) s"`$bare`"
          else bare
        case _ => tok
      }
      if (ix > 0 && kind != "p") sb.append(nextWs)
      sb.append(t)
    }
    if (st.semi) sb.append(";")
    sb.toString
  }

  /** The four DML statements, as template tokens. */
  private val update = Seq(
    "k" -> "UPDATE", "i" -> "#tgt_t", "i" -> "a",
    "k" -> "SET", "i" -> "a.c1", "p" -> " = ", "i" -> "b.c1",
    "p" -> ",", "i" -> "a.c2", "p" -> " = ", "i" -> "b.c2",
    "k" -> "FROM", "i" -> "#src_t", "i" -> "b",
    "k" -> "WHERE", "i" -> "a.k", "p" -> " = ", "i" -> "b.k")
  private val merge = Seq(
    "k" -> "MERGE", "k" -> "INTO", "i" -> "#mt", "i" -> "t",
    "k" -> "USING", "i" -> "#ms", "i" -> "s",
    "k" -> "ON", "i" -> "t.k", "p" -> " = ", "i" -> "s.k",
    "k" -> "WHEN", "k" -> "MATCHED", "k" -> "THEN",
    "k" -> "UPDATE", "k" -> "SET", "i" -> "t.v", "p" -> " = ",
    "i" -> "s.v",
    "k" -> "WHEN", "k" -> "NOT", "k" -> "MATCHED", "k" -> "THEN",
    "k" -> "INSERT", "p" -> "(", "i" -> "k", "p" -> ",", "i" -> "v",
    "p" -> ")",
    "k" -> "VALUES", "p" -> "(", "i" -> "s.k", "p" -> ",",
    "i" -> "s.v", "p" -> ")")
  private val delete = Seq(
    "k" -> "DELETE", "k" -> "FROM", "i" -> "#dt", "i" -> "t",
    "k" -> "WHERE", "i" -> "t.k", "k" -> "IN",
    "p" -> "(", "k" -> "SELECT", "i" -> "k2",
    "k" -> "FROM", "i" -> "#ds", "p" -> ")")
  private val insert = Seq(
    "k" -> "INSERT", "k" -> "INTO", "i" -> "#it",
    "p" -> "(", "i" -> "a", "p" -> ",", "i" -> "b", "p" -> ")",
    "k" -> "SELECT", "i" -> "x", "p" -> ",", "i" -> "y",
    "k" -> "FROM", "i" -> "z")

  /** A three-row store holding every table the four statements touch,
    * written once; each style runs against its own file copy. */
  private lazy val template: Path = {
    import spark.implicits._
    val wh = Files.createTempDirectory("fuzz_tpl")
    val store = new TableStore(spark, wh.toString)
    store.overwrite("tgt_t", Seq((1L, 10L, 100L), (2L, 20L, 200L),
      (3L, 30L, 300L)).toDF("k", "c1", "c2"))
    store.overwrite("src_t", Seq((1L, 11L, 111L), (3L, 33L, 333L),
      (4L, 44L, 444L)).toDF("k", "c1", "c2"))
    store.overwrite("mt", Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"))
    store.overwrite("ms", Seq((2L, 22L), (3L, 33L), (5L, 55L)).toDF("k", "v"))
    store.overwrite("dt", Seq(1L, 2L, 3L).toDF("k"))
    store.overwrite("ds", Seq(2L, 3L, 9L).toDF("k2"))
    store.overwrite("it", Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("a", "b"))
    store.overwrite("z", Seq((7L, 70L), (8L, 80L), (9L, 90L)).toDF("x", "y"))
    wh
  }

  /** Per style: the four statements rendered and run as ONE script against
    * a fresh copy of the template store. */
  private lazy val fuzzed: Seq[(String, TableStore)] =
    sample(styleGen, 60).map { st =>
      val wh = Files.createTempDirectory("fuzz_wh").resolve("wh")
      val from = template
      val walk = Files.walk(from)
      try walk.forEach(p => Files.copy(p, wh.resolve(from.relativize(p))))
      finally walk.close()
      val store = new TableStore(spark, wh.toString)
      val script =
        Seq(update, merge, delete, insert).map(render(_, st)).mkString(";\n")
      assert(Sql.runScript(spark, store, sf, script) == 4, script)
      (script, store)
    }

  private def rows(store: TableStore, t: String): Seq[Seq[Any]] =
    SqlSurfaceSpec.sortedRows(store.read(t))

  /** Runs each near-miss against a store holding every table they name —
    * t(k, x, v, a), t1(k, x), t2(k, y), s(k, v), z(x, y) — so a throw can
    * only be the refusal of the text itself: loud, not a missing-table
    * error, and no table changed. Returns the store; each test then runs
    * a repaired statement on it, which shows the store would have executed
    * a near-miss that parsed. */
  private def refusedAsText(run: (TableStore, String) => Any)(
      nearMisses: String*): TableStore = {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("fuzz_near").toString)
    store.overwrite("t", Seq((1L, 10L, 100L, 1000L), (2L, 20L, 200L, 2000L))
      .toDF("k", "x", "v", "a"))
    store.overwrite("t1", Seq((1L, 10L), (2L, 20L)).toDF("k", "x"))
    store.overwrite("t2", Seq((1L, 5L)).toDF("k", "y"))
    store.overwrite("s", Seq((1L, 11L)).toDF("k", "v"))
    store.overwrite("z", Seq((7L, 70L)).toDF("x", "y"))
    val tables = Seq("t", "t1", "t2", "s", "z")
    val before = tables.map(rows(store, _))
    nearMisses.foreach { st =>
      val e = intercept[IllegalArgumentException](run(store, st))
      assert(!e.getMessage.contains("does not exist"), s"$st: ${e.getMessage}")
    }
    assert(tables.map(rows(store, _)) == before)
    store
  }

  test("UPDATE-FROM parses to the template under formatting fuzz; near-misses are loud") {
    fuzzed.foreach { case (script, store) =>
      // matched rows take both SET columns; 2 is unmatched, 4 source-only
      assert(rows(store, "tgt_t") == Seq(Seq(1L, 11L, 111L),
        Seq(2L, 20L, 200L), Seq(3L, 33L, 333L)), script)
      assert(rows(store, "src_t").length == 3, script)
    }
    // near-misses: must throw, never misparse
    val store = refusedAsText(Sql.runDml(spark, _, _))(
      "UPDATE t SET x = 1",                       // no FROM
      "UPDATE t1 a SET a.x = b.y FROM t2 b",      // no WHERE
      "UPDATE t1 a SET FROM t2 b WHERE a.k = b.k" // empty SET
    )
    Sql.runDml(spark, store, "UPDATE t1 a SET a.x = b.y FROM t2 b WHERE a.k = b.k")
    assert(rows(store, "t1") == Seq(Seq(1L, 5L), Seq(2L, 20L)))
  }

  test("MERGE INTO parses to the template under formatting fuzz; near-misses are loud") {
    fuzzed.foreach { case (script, store) =>
      assert(rows(store, "mt") == Seq(Seq(1L, 10L), Seq(2L, 22L),
        Seq(3L, 33L), Seq(5L, 55L)), script)
    }
    val store = refusedAsText(Sql.runMerge(spark, _, _))(
      "MERGE INTO t USING s ON t.k = s.k",          // no WHEN clause
      "MERGE INTO t USING s WHEN MATCHED THEN DELETE", // no ON
      "MERGE t USING s ON t.k = s.k WHEN MATCHED THEN DELETE" // no INTO
    )
    Sql.runMerge(spark, store,
      "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE")
    assert(rows(store, "t") == Seq(Seq(2L, 20L, 200L, 2000L)))
  }

  test("DELETE-IN and INSERT INTO parse to their templates under formatting fuzz; near-misses are loud") {
    fuzzed.foreach { case (script, store) =>
      assert(rows(store, "dt") == Seq(Seq(1L)), script)
      assert(rows(store, "it") == Seq(Seq(1L, 10L), Seq(2L, 20L),
        Seq(3L, 30L), Seq(7L, 70L), Seq(8L, 80L), Seq(9L, 90L)), script)
    }
    val store = refusedAsText(Sql.runScript(spark, _, sf, _))(
      "DELETE t WHERE k IN (SELECT k FROM s)", // no FROM
      "INSERT t (a) SELECT x FROM z"           // no INTO
    )
    Sql.runScript(spark, store, sf,
      "DELETE FROM t WHERE k IN (SELECT k FROM s); INSERT INTO t (a) SELECT x FROM z")
    assert(rows(store, "t") == Seq(Seq(2L, 20L, 200L, 2000L),
      Seq(null, null, null, 7L)))
  }

  test("DDL verbs execute correctly under formatting fuzz; junk verbs and near-misses are loud") {
    import spark.implicits._
    val cases = sample(styleGen, 8)
    cases.zipWithIndex.foreach { case (st, i) =>
      val store = new TableStore(spark,
        Files.createTempDirectory(s"fuzz_wh_$i").toString)
      store.overwrite("ft", Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
      // CREATE TABLE … COPY (writable) and CREATE SNAPSHOT TABLE … CLONE
      Sql.runClone(store, render(Seq(
        "k" -> "CREATE", "k" -> "TABLE", "i" -> "#fc",
        "k" -> "COPY", "i" -> "#ft"), st))
      assert(store.read("fc").count() == 2 && !store.isSnapshot("fc"),
        s"style $i")
      Sql.runClone(store, render(Seq(
        "k" -> "CREATE", "k" -> "SNAPSHOT", "k" -> "TABLE", "i" -> "#fs",
        "k" -> "CLONE", "i" -> "#ft"), st))
      assert(store.isSnapshot("fs"), s"style $i")
      // TRUNCATE
      Sql.runTruncate(store, render(Seq(
        "k" -> "TRUNCATE", "k" -> "TABLE", "i" -> "#ft"), st))
      assert(store.read("ft").count() == 0, s"style $i")
      // ALTER RENAME TO
      Sql.runAlter(store, render(Seq(
        "k" -> "ALTER", "k" -> "TABLE", "i" -> "#ft",
        "k" -> "RENAME", "k" -> "TO", "i" -> "#ft2"), st))
      assert(store.exists("ft2") && !store.exists("ft"), s"style $i")
      // CREATE INDEX / REFRESH INDEX / DROP INDEX
      Sql.runCreateIndex(spark, store, render(Seq(
        "k" -> "CREATE", "k" -> "INDEX", "i" -> "fi",
        "k" -> "ON", "i" -> "#ft2",
        "p" -> "(", "i" -> "k", "p" -> ",", "i" -> "v", "p" -> ")",
        "k" -> "USING", "k" -> "HASH"), st))
      assert(Indexes.list(store) == Seq("fi"), s"style $i")
      Sql.runRefreshIndex(spark, store, render(Seq(
        "k" -> "REFRESH", "k" -> "INDEX", "i" -> "fi"), st))
      Sql.runDrop(store, render(Seq(
        "k" -> "DROP", "k" -> "INDEX", "i" -> "fi"), st))
      assert(Indexes.list(store).isEmpty, s"style $i")
      // DROP TABLE
      Sql.runDrop(store, render(Seq(
        "k" -> "DROP", "k" -> "TABLE", "i" -> "#ft2"), st))
      assert(!store.exists("ft2"), s"style $i")
    }
    // near-miss DDL + junk verbs stay loud through the script dispatcher
    val store = new TableStore(spark,
      Files.createTempDirectory("fuzz_wh_junk").toString)
    store.overwrite("jt", Seq((1L, 2L)).toDF("k", "v"))
    Seq(
      "TRUNCATE jt",                      // missing TABLE
      "DROP TABL jt",                     // typo'd object
      "CREATE INDEX i ON jt (k) USING HASH", // arity: needs (key, col)
      "ALTER TABLE jt RENAME jt2",        // missing TO
      "CREATE SNAPSHOT TABLE s2 COPY jt", // SNAPSHOT pairs with CLONE only
      "FROBNICATE jt",                    // unknown verb
      "COMMIT"                            // COMMIT without BEGIN
    ).foreach { s =>
      intercept[IllegalArgumentException](
        Sql.runScript(spark, store, "/root/testdata/sf0.001", s))
    }
    // the near-misses changed nothing
    assert(store.read("jt").count() == 1)
  }
}
