package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, reverse}
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Artifacts, TextOps3, TextOps4}

/** The trained per-corpus models of t45 (WordPiece vocabulary), t54 (BPE
  * merge list) and t55 (DSIR bucket counts) are committed artifacts read
  * through `Artifacts`' one row memo — the contract PqArtifactSpec pins
  * for the ANN codebooks: a cold JVM serves the committed models without
  * retraining, and a regenerated corpus rebuilds them instead of serving
  * the old ones.
  */
class ModelArtifactSpec extends AnyFunSuite {
  import TestSpark._

  private def copyCorpus(): Path = {
    val dst = Files.createTempDirectory("graft_model_corpus")
    val src = Files.list(Paths.get(sf))
    try src.iterator().asScala.foreach(f =>
      Files.copy(f, dst.resolve(f.getFileName)))
    finally src.close()
    dst
  }

  /** t45, t54 and t55 over `dir`, each as its rendered rows. */
  private def models(s: SparkSession, dir: Path): Seq[Seq[String]] =
    Seq(TextOps3.t45WordpieceTokenize _, TextOps4.t54BpeApply _,
      TextOps4.t55DsirSelect _)
      .map(q => q(s, dir.toString).collect().map(_.toString).toSeq)

  private def withIndexRoot(body: String => Unit): Unit = {
    val root = Files.createTempDirectory("graft_model_idx").toString
    spark.conf.set("spark.graft.indexDir", root)
    Artifacts.dropMemoForTest()
    try body(root)
    finally {
      spark.conf.unset("spark.graft.indexDir")
      Artifacts.dropMemoForTest()
    }
  }

  test("cold JVM, warm store: t45/t54/t55 serve their committed models, zero rebuilds") {
    withIndexRoot { _ =>
      val dir = copyCorpus()
      val b0 = Artifacts.buildCount.get()
      val warm = models(spark, dir)
      assert(Artifacts.buildCount.get() == b0 + 3,
        "t45, t54 and t55 must each commit one model artifact")
      // simulate process death: every in-JVM memo and cached result
      // dropped; only the store's committed tables survive
      Artifacts.dropMemoForTest()
      spark.catalog.clearCache()
      val cold = models(spark, dir)
      assert(Artifacts.buildCount.get() == b0 + 3,
        "cold JVM retrained a model instead of reading the store")
      assert(cold == warm, "store-served model diverged")
    }
  }

  test("models rebuild when documents is regenerated in place, matching a fresh corpus") {
    withIndexRoot { root =>
      val dir = copyCorpus()
      val before = models(spark, dir)
      // regenerate documents in place: every text reversed, so every
      // model trained on it (vocabulary, merges, bucket counts) changes
      val staged = Files.createTempDirectory("graft_model_regen")
      spark.read.parquet(s"$sf/documents.parquet")
        .withColumn("text", reverse(col("text")))
        .coalesce(1).write.mode("overwrite").parquet(staged.toString)
      val part = Files.list(staged)
      val file =
        try part.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally part.close()
      Files.move(file, dir.resolve("documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val fresh = copyCorpus()
      Files.copy(dir.resolve("documents.parquet"),
        fresh.resolve("documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)

      // a new process over the regenerated corpus: fresh memos, no cached
      // results (a consumer's persisted output of the old corpus would
      // otherwise match a stale model's plan), and a session whose corpus
      // scans list the new file
      Artifacts.dropMemoForTest()
      spark.catalog.clearCache()
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.indexDir", root)
      val b0 = Artifacts.buildCount.get()
      val regenerated = models(s2, dir)
      assert(Artifacts.buildCount.get() == b0 + 3,
        "a moved corpus fingerprint must rebuild all three models")
      val expected = models(spark, fresh)
      assert(before != expected,
        "the regenerated corpus must change the output")
      Seq("t45", "t54", "t55").zip(regenerated.zip(expected)).foreach {
        case (q, (got, want)) =>
          assert(got == want, s"$q served a model of the old corpus")
      }
      // the rebuilds' GC aged the first build's versions out, and every
      // version-keyed sidecar with them: beside the commit log, a table
      // root holds only version directories and `_<name>.v<N>` sidecars
      // of versions still on disk
      def entries(p: Path): Seq[Path] = {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq finally s.close()
      }
      val VersionDir = "v(\\d+)".r
      val Sidecar = "_\\w+\\.v(\\d+)".r
      val tables = entries(Paths.get(root)).flatMap(entries)
      assert(tables.nonEmpty)
      tables.foreach { t =>
        val names = entries(t).map(_.getFileName.toString)
        val onDisk = names.collect { case VersionDir(v) => v }.toSet
        names.filterNot(n => n == "_current" || n.matches("_commit\\.\\d+"))
          .foreach {
            case VersionDir(_) => ()
            case n @ Sidecar(v) =>
              assert(onDisk(v), s"$t: sidecar $n outlived its version")
            case n => fail(s"$t: $n is neither a version nor a version-keyed sidecar")
          }
      }
    }
  }
}
