package perfbench

/** Every metric the benchmark prints, with its unit. BENCHMARK.json lists
  * the same names; a spec keeps the two in step. */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",            // launch to the first timed operation
    "op_p50_s" -> "s",           // median of one day / one query
    "op_tail_s" -> "s",          // highest percentile with >= 10 ops above it
    "pass_s" -> "s",             // all timed days / one sweep
    "live_heap_mb" -> "MB",      // median heap in use after a full GC per op
    "space_amp" -> "ratio")      // bytes on disk / bytes written once plainly

  val psnStages: Seq[String] = Seq("ingest", "new_games", "deltas", "append", "merge")

  val modules: Seq[String] = Queries.modules.map(_._1)

  val perLayer: Seq[(String, String)] =
    (psnStages :+ "other" :+ "driver_other" :+ "day_mean").map(s => s"psn.${s}_s" -> "s") ++
      Seq(
        "client.fetch_s" -> "s",
        "store.commits" -> "count",
        "store.files_written" -> "count",
        "store.bytes_written" -> "bytes",
        "store.write_amp" -> "ratio",
        "store.live_files" -> "count",
        "spark.actions" -> "count",
        "spark.jobs" -> "count",
        "spark.stages" -> "count",
        "spark.tasks" -> "count",
        "spark.plan_s" -> "s",
        "spark.exec_s" -> "s",
        "spark.core_util" -> "ratio",
        "spark.shuffle_write_bytes" -> "bytes",
        "spark.shuffle_read_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes",
        "spark.storage_peak_mb" -> "MB",
        "jvm.gc_s" -> "s") ++
      modules.map(m => s"$m.s" -> "s") ++
      Seq(
        "artifacts.tables_built" -> "count",
        "artifacts.bytes_written" -> "bytes",
        "trace.pass_s" -> "s",
        "trace.overhead_s" -> "s")

  /** The result's `metrics` object for `values`, in the declared order;
    * fails when a declared metric is missing or an undeclared one appears. */
  def render(declared: Seq[(String, String)], values: Map[String, Double]): String = {
    val names = declared.map(_._1).toSet
    require(values.keySet == names,
      s"metric set mismatch: missing ${names -- values.keySet}, undeclared ${values.keySet -- names}")
    Json.obj(declared.map { case (k, u) =>
      k -> RawJson(Json.obj(Seq("value" -> values(k), "unit" -> u)))
    })
  }
}
