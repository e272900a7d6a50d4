package perfbench

/** The fixed query list of the registry workload (registry short keys):
  * at least one query from every registry module, so that each module's
  * layer time can move. A run sweeps it once: [[first]] in this order, then
  * [[rest]] in an order shuffled by the seed. It is about 37 s of cold
  * sweep on a 4-core box at sf0.1; see README.md for why these queries. */
object Lists {

  /** The store/DML statements, always first and in this order: a cheap
    * read takes the session's first-plan penalty, then a deletion-vector
    * DELETE, a MERGE, a BEGIN…COMMIT transaction and a CHECK-constraint
    * INSERT (commit machinery, statement parsing, many small actions per
    * statement). Fixing their places keeps the JIT warm-up, which lasts
    * about as long as they do, on the same queries in every run instead of
    * on whichever queries the seed puts first. */
  val first: Seq[String] = Seq(
    "q02",                              // ops.Relational
    "q78", "q57", "q98", "q73")         // ops.Storage, Sql, Sql, Storage

  /** Read-only queries: the persist-heavy e35, the artifact-building t36
    * (count-min token counts) and one query of every other module, most
    * of them 1.5–3 s so that the median query sits inside a cluster of
    * similar ones rather than at the edge between cheap and costly. */
  val rest: Seq[String] = Seq(
    "q33", "q53", "q52", "q55",         // ops.Relational2, Bucketed, Skew, Quality
    "t03", "t34", "t36", "t54",         // ext.TextOps, TextOps2, TextOps3, TextOps4
    "e35", "e28", "s06", "m01")         // ext.SimilarityOps, SimilarityOps2, EventOps, MultimodalOps

  val registry: Seq[String] = first ++ rest

  /** The sweep order for `seed`. */
  def ordered(seed: Long): Seq[String] = first ++ RegistryRun.shuffled(rest, seed)
}
