package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --root <private dir> --data <sf dir> --expected <tsv> --launch-ms <epoch ms>
  *
  * Prints a detail line and then, as the last stdout line, the result
  * object (`correct`, `attempted`, `failed`, `metrics`). With `--trace 0`
  * the metrics are the end-to-end ones; with `--trace 1` the workload runs
  * three times on fresh state — untraced, traced, untraced — and the
  * metrics are the per-layer ones of the traced pass plus the tracing
  * overhead (traced pass minus the untraced pass after it). Exits 1 when
  * any output check fails. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: Path, data: String, expected: Path, launchMs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("root")).toAbsolutePath, need("data"), Paths.get(need("expected")),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  val Workloads: Seq[String] = Seq("daily_user", "registry")

  /** What one pass of a workload produced. */
  final case class PassOut(
      attempted: Int, failed: Int,
      opNames: Seq[String],         // one entry per day / query
      opWall: Seq[Double],
      passS: Double,                // sum of the operations' walls
      liveHeapMb: Double,
      spaceAmp: Double,
      layers: Map[String, Double])  // empty when untraced

  private var phaseT0 = 0L
  /** Progress on stderr: seconds since launch at each phase boundary. */
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - phaseT0) / 1000.0}%.2f s: $what")

  /** The line before the result: what was run, the weather witness, and
    * per-operation detail. */
  private def detail(a: Args, before: Double, after: Double, more: Seq[(String, Any)]): Unit =
    System.out.println(Json.obj(Seq("detail" -> RawJson(Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "witness_before_s" -> before, "witness_after_s" -> after) ++ more)))))

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    phaseT0 = args.launchMs
    require(Workloads.contains(args.workload),
      s"unknown workload ${args.workload}; one of ${Workloads.mkString(", ")}")
    require(Files.isDirectory(Paths.get(args.data)), s"no data directory ${args.data}")
    val heap = new HeapWatch
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.local(cores, args.root)
    var exit = 0
    try {
      phase("session ready")
      // The first Spark job of a cold JVM: it also absorbs generic codegen
      // and JIT start-up, and its time is kept out of setup_s.
      val before = Witness.yardstick(spark, cores)
      val w = Workload(args.workload, spark, args, cores)
      w.prepare()
      val setupS = (System.currentTimeMillis() - args.launchMs) / 1000.0 - before
      phase("prepared")
      val plain = w.pass(heap, None)
      phase("pass done")
      // A traced run continues with a traced and then an untraced pass, each
      // on fresh state; the first (cold) pass only warms up. The JIT still
      // warms a little from pass to pass, so traced minus the later
      // untraced pass slightly overstates the tracing overhead.
      val (traced, extra) =
        if (!args.trace) (None, Seq.empty)
        else {
          def again(tr: Option[Tracer]) = { w.reset(); w.pass(heap, tr) }
          val tr = new Tracer(spark, heap)
          val b = try again(Some(tr)) finally tr.close()
          (Some(b), Seq(again(None)))
        }
      val after = Witness.yardstick(spark, cores)
      phase("witness done")
      val all = (plain +: extra) ++ traced.toSeq
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum
      val metrics = traced match {
        case None =>
          val (tailV, tailP, n) = Stats.tail(plain.opWall)
          detail(args, before, after, Seq("ops" -> n, "op_tail_percentile" -> tailP,
            "op_walls_s" -> RawJson(Json.obj(plain.opNames.zip(plain.opWall)))))
          Metrics.render(Metrics.endToEnd, Map(
            "setup_s" -> setupS,
            "op_p50_s" -> Stats.median(plain.opWall),
            "op_tail_s" -> tailV,
            "pass_s" -> plain.passS,
            "live_heap_mb" -> plain.liveHeapMb,
            "space_amp" -> plain.spaceAmp))
        case Some(t) =>
          val untraced = extra.head.passS
          detail(args, before, after, Seq("passes_s" -> Seq(plain.passS, t.passS, untraced)))
          // Layers a workload does not exercise read 0.
          Metrics.render(Metrics.perLayer, Metrics.perLayer.map(_._1 -> 0.0).toMap ++ t.layers ++
            Map("trace.pass_s" -> t.passS, "trace.overhead_s" -> (t.passS - untraced)))
      }
      val correct = failed == 0
      if (!correct) exit = 1
      System.out.println(Json.obj(Seq(
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> RawJson(metrics))))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        exit = 2
    } finally {
      heap.close()
      spark.stop()
    }
    System.exit(exit)
  }
}

/** A pre-rendered JSON fragment. */
final case class RawJson(s: String) { override def toString: String = s }

/** The machine-weather witness: a fixed CPU-bound Spark job of the same
  * shape as the repository Bench's yardstick (xxhash64 over an in-memory
  * range, XOR-reduced), at a quarter of its size. Timed once before and
  * once after the run and reported beside the metrics, never as one. */
object Witness {
  def yardstick(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 64000000L, 1, cores).selectExpr("xxhash64(id) AS h")
      .selectExpr("bit_xor(h) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }
}
