package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Q

/** Expected output of one registry query, recorded at the seed commit. */
final case class Expected(name: String, rows: Long, hash: String)

object Expected {
  def parse(lines: Seq[String]): Map[String, Expected] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t")
      f(0) -> Expected(f(0), f(1).toLong, f(2))
    }.toMap

  def load(p: Path): Map[String, Expected] =
    parse(scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().toSeq)
}

/** One sweep over a fixed query list in a seeded order: each query's plan
  * is built and every row collected, timed on its own; the rows are then
  * checked against the recorded expectation outside the timed window. */
final class RegistryRun(spark: SparkSession, queries: Seq[Q], dataDir: String,
    expected: Map[String, Expected]) {
  val wall = mutable.LinkedHashMap.empty[String, Double]
  val bad = mutable.ArrayBuffer.empty[String]

  /** `wrap` runs around each timed query (a trace span); `between` runs
    * after it, outside the timed window. */
  def sweep(wrap: (String, => Unit) => Unit = (_, body) => body,
      between: () => Unit = () => ()): Unit =
    queries.foreach { q =>
      var res: Either[Throwable, Queries.Result] = Left(null)
      val t0 = System.nanoTime()
      wrap(q.name, { res = try Right(Queries.execute(spark, q, dataDir))
        catch { case e: Throwable => Left(e) } })
      wall(q.name) = (System.nanoTime() - t0) / 1e9
      between()
      spark.catalog.clearCache()
      val ok = res match {
        case Right(r) => expected.get(q.name).exists { e =>
          e.rows == r.rows && e.hash == Canon.hash(r.schema, r.collected)
        }
        case Left(e) =>
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          false
      }
      if (!ok) {
        bad += q.name
        System.err.println(s"[perfbench] ${q.name}: output differs from the recorded expectation")
      }
    }

  def sweepSeconds: Double = wall.values.sum
}

object RegistryRun {

  /** Fisher–Yates with the run's seed: the same seed gives the same order. */
  def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.toArray
    val r = new java.util.SplittableRandom(seed)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Tables in the artifact store under `indexRoot` (one warehouse per
    * corpus, one table per artifact). */
  def artifactTables(indexRoot: Path): Int =
    Daily.listing(indexRoot).keys.map(_.split('/')).collect {
      case parts if parts.length >= 3 => parts(0) + "/" + parts(1)
    }.toSet.size
}
