package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.psn.Ingest

class BenchSpec extends AnyFunSuite {

  /** Everything a seed feeds the program: each day's API records and
    * trophy counts, rendered as text. */
  private def inputs(seed: Long, shape: LibraryShape, days: Int): String = {
    val sim = new PsnSim(seed, shape)
    val sb = new StringBuilder
    (0 to days).foreach { d =>
      if (d > 0) sim.nextDay()
      sb ++= sim.trophySummary.toString
      sim.records().foreach(r => sb ++= r.toString += '\n')
    }
    sb.toString
  }

  test("the same seed gives byte-identical inputs and query order") {
    val shape = LibraryShape(300, 1, 5, 0.5)
    assert(inputs(7, shape, 5).getBytes("UTF-8") sameElements inputs(7, shape, 5).getBytes("UTF-8"))
    assert(Lists.ordered(7) == Lists.ordered(7))
  }

  test("a different seed gives different inputs and query order") {
    val shape = LibraryShape(300, 1, 5, 0.5)
    assert(inputs(7, shape, 5) != inputs(8, shape, 5))
    assert(Lists.ordered(7) != Lists.ordered(8))
    assert(Lists.ordered(8).sorted == Lists.registry.sorted)
    // the cold-start queries stay first whatever the seed
    assert((1 to 20).map(s => Lists.ordered(s).take(Lists.first.size)).toSet == Set(Lists.first))
  }

  test("the generator's ground truth follows its days") {
    val sim = new PsnSim(3, LibraryShape(100, 2, 2, 1.0))
    (1 to 4).foreach(_ => sim.nextDay())
    assert(sim.expectedPerDay == Seq.fill(4)((1L, 2L)))
    assert(sim.expectedDeltaRows == 8)
    assert(sim.expectedSnapshotRows == 5)
    assert(sim.expectedGames.size == 104)
  }

  test("tail: highest percentile with at least ten samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0, 100)))
    assert(Stats.tail((1 to 40).map(_.toDouble)) == ((30.0, 75.0, 40)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((10.0, 50.0, 20)))
    // below the median the rule names no tail: the maximum stands in
    assert(Stats.tail((1 to 19).map(_.toDouble)) == ((19.0, 100.0, 19)))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0, 3)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("every printed metric name is declared in BENCHMARK.json") {
    val root = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def declared(key: String) = root.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Main.Workloads)
  }

  test("metric rendering refuses undeclared or missing names") {
    val ok = Metrics.endToEnd.map(_._1 -> 1.5).toMap
    assert(Metrics.render(Metrics.endToEnd, ok).contains("\"op_p50_s\":{\"value\":1.5,\"unit\":\"s\"}"))
    assertThrows[IllegalArgumentException](Metrics.render(Metrics.endToEnd, ok - "pass_s"))
    assertThrows[IllegalArgumentException](Metrics.render(Metrics.endToEnd, ok + ("x" -> 1.0)))
  }

  test("the recorded expectations are exactly the listed registry queries") {
    val exp = Expected.load(Paths.get("expected.tsv"))
    assert(exp.keySet == Lists.registry.map(k => Queries.byKey(k).name).toSet)
  }

  test("generated ids and ISO durations agree with the pipeline's cleanup") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val sim = new PsnSim(11, LibraryShape(200, 1, 5, 0.0))
      val raw = sim.records()
      val got = Ingest.cleanGameTitles(raw.toDS().toDF())
        .select("id", "play_count", "play_duration").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got.keySet == sim.expectedGames.keySet)
      assert(got.map { case (k, v) => k -> v._1 } == sim.expectedGames)
      (0 until 4).foreach { style =>
        val secs = raw.indices.map(_ * 3671L + 59)
        val df = secs.map(s => PsnSim.isoDuration(s, style)).toDF("d")
          .select(graft.expr.Exprs.isoDurationSeconds($"d"))
        assert(df.as[Double].collect().toSeq == secs.map(_.toDouble), s"style $style")
      }
    } finally spark.stop()
  }
}
