package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Records the expected output of the registry workload's queries
  * ([[Lists.registry]]: row count and [[Canon]] hash) in the benchmark's
  * `expected.tsv` format, and reports on
  * stderr each query's wall time and the artifact tables it built. With an
  * output directory it also writes each result as parquet plus
  * `oracle_sql.json`, the layout the oracle checker
  * (`tools/check_oracle.py <dataDir> <outDir>`) compares against DuckDB.
  *
  * Usage: Record <dataDir> <runRoot> <expected.tsv> [<oracleOutDir>]
  */
object Record {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val root = Paths.get(args(1))
    val out = Paths.get(args(2))
    val dump = args.lift(3)
    val spark = Session.local(Runtime.getRuntime.availableProcessors(), root)
    val qs = Lists.registry.map(Queries.byKey)
    val idx = root.resolve("indexes")
    var built = RegistryRun.artifactTables(idx)
    val lines = qs.map { q =>
      val t0 = System.nanoTime()
      val r = try Right(Queries.execute(spark, q, dataDir))
        catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val nowBuilt = RegistryRun.artifactTables(idx)
      val newArtifacts = nowBuilt - built
      built = nowBuilt
      val line = r match {
        case Right(res) =>
          dump.foreach { d =>
            spark.createDataFrame(res.collected.toList.asJava, res.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$d/${q.name}")
          }
          Seq(q.name, res.rows.toString, Canon.hash(res.schema, res.collected))
        case Left(e) =>
          System.err.println(s"[record] ${q.name} failed: ${e.getMessage}")
          Seq(q.name, "-1", "error")
      }
      System.err.println(f"[record] ${line.mkString("\t")}\t$secs%.3f s\t$newArtifacts artifact(s)")
      line.mkString("\t")
    }
    Files.writeString(out, lines.mkString("", "\n", "\n"))
    dump.foreach { d =>
      val oracle = graft.SparkEntry.oracleSql
        .filter { case (k, _) => qs.exists(_.name == k) }
      Files.writeString(Paths.get(d, "oracle_sql.json"),
        Json.obj(oracle.toSeq.sortBy(_._1)))
    }
    spark.stop()
  }
}
