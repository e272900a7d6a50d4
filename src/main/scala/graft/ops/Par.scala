package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Parallelism repair for under-split scans.
  *
  * Parquet split counts follow input BYTES (`maxPartitionBytes`), so a
  * few-MB table arrives as one split even when the downstream work —
  * explodes, regex chains, digest hashing — is compute-bound, and
  * everything before the first exchange serializes on one core. Two
  * related traps documented in PLANS.md (round 4):
  *
  *   - a bare `repartition(col)` exchange is AQE-coalesced by its input
  *     bytes, blind to downstream fanout — partition counts must be
  *     explicit;
  *   - the scan itself may be a single split.
  *
  * `fanOut` repairs the second conditionally: it repartitions only when
  * the scan's split count is below the session parallelism, so at
  * production scale (thousands of splits) it is a plan no-op and the
  * shuffle only exists where it pays for itself. Use a key column that
  * spreads rows uniformly (an id, not a low-cardinality attribute). */
object Par {
  /** NOTE: `d.rdd` forces the child's physical planning on the driver to
    * read the real split count — milliseconds at query-build time, where
    * every current caller sits. Do NOT move this into a per-batch or
    * per-microbatch path; there, read the parallelism once outside the
    * loop (or use the stats-guarded optimizer rule
    * [[graft.plans.RepairUnderParallelGenerate]], which does this check
    * inside Catalyst without a driver-side plan materialization). */
  def fanOut(d: DataFrame, key: String): DataFrame = {
    val p = d.sparkSession.sparkContext.defaultParallelism
    if (d.rdd.getNumPartitions < p) d.repartition(p, col(key)) else d
  }

  /** Run INDEPENDENT driver actions concurrently through a bounded pool
    * (optimization guide §2.6: the scheduler happily runs several jobs at
    * once inside one application — actions are only sequential because
    * driver code calls them sequentially, and FIFO scheduling back-fills
    * a finishing job's straggler tail with the next job's tasks).
    * Results return in input order; a failure propagates once EVERY thunk
    * has finished, so no write still runs when the caller sees it.
    * Use ONLY for genuinely independent work (distinct store tables or
    * output paths): concurrent writers to the SAME table would race
    * their commits. */
  def concurrently[A](parallelism: Int)(thunks: Seq[() => A]): Seq[A] =
    if (thunks.length <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(parallelism, thunks.length)))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try thunks.map(t => scala.concurrent.Future(t()))
        .map(scala.concurrent.Await.ready(_,
          scala.concurrent.duration.Duration.Inf))
        .map(_.value.get.get)
      finally pool.shutdown()
    }
}
