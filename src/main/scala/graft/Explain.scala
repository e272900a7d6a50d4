package graft


/** Plan-audit tool: `runMain graft.Explain <q1[,q2,…]> <sfDir> [outDir]`
  * prints the formatted physical plan and times two executions
  * (cold+warm, noop sink per the optimization guide §1.4 — a bare
  * count() lets Catalyst drop final sorts and prune subtrees, so it can
  * time LESS work than the query declares). With an outDir, each plan
  * goes to `<outDir>/<name>_<suffix>.txt` (suffix from
  * SPARK_GRAFT_PLAN_SUFFIX, default "plan").
  * Used to audit pushdown / broadcast / codegen spans per SURVEY's
  * 100 TB posture checklist. */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val spark = Sessions.local(Sessions.cpus)
      // fresh artifact root: plan timings must include honest artifact
      // probes, never another run's committed index (the Bench contract)
      .config("spark.graft.indexDir",
        java.nio.file.Files.createTempDirectory("graft_explain_idx").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      outDir match {
        case Some(d) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"${name}_$suffix.txt"), plan)
          println(s"== $name -> $d/${name}_$suffix.txt")
        case None =>
          println(s"== $name"); println(plan)
      }
      val runs = sys.env.get("SPARK_GRAFT_EXPLAIN_RUNS")
        .map(_.toInt).getOrElse(2)
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"$name RUN$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
