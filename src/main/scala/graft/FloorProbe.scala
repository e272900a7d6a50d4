package graft


/** Job-floor decomposition: `runMain graft.FloorProbe <query> [sfDir]`
  * answers where a small query's fixed per-run cost lives — planning
  * (analysis+optimization, driver-side), execution jobs, or the
  * action/sink overhead around them — and whether AQE's extra
  * re-planning round is a material share at this scale. Medians over
  * repeated warm runs in ONE session, so codegen and parquet-footer
  * caches are already amortized exactly as Bench amortizes them. */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = 21
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def run(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    def planOnly(): Unit = {
      val df = fn(spark, sfDir)
      df.queryExecution.executedPlan // force analysis+optimization+planning
      ()
    }

    (1 to 3).foreach(_ => run()) // warm
    val full = median((1 to reps).map(_ => timed(run())))
    val plan = median((1 to reps).map(_ => timed(planOnly())))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    (1 to 3).foreach(_ => run())
    val noAqe = median((1 to reps).map(_ => timed(run())))
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    println(f"== $name floor (median of $reps warm runs, local[$cpus]) ==")
    println(f"full run (plan+exec+sink): $full%8.4f s")
    println(f"plan only (analyze+optimize+physical): $plan%8.4f s")
    println(f"full with AQE off:         $noAqe%8.4f s")
    println(f"residual exec+sink (AQE on):  ${full - plan}%8.4f s")
    spark.stop()
  }
}
