package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.tables.Tables._
import graft.ops.Out._

/** Similarity search over the `embeddings` table (`embedding ARRAY<FLOAT>`).
  *
  * All vector math uses higher-order functions (`zip_with` + `aggregate`) —
  * codegen-free but executor-side and shuffle-free per row; elements are cast
  * float→double *before* multiply so both engines run the identical IEEE op
  * sequence (float cast is exact; sequential left-fold sum matches DuckDB's
  * list_sum order).
  *
  * Scale design: brute-force top-k is the correctness baseline (broadcast the
  * query set — it is small by construction — against a partitioned candidate
  * scan; per-partition top-k via window). The LSH sign-bucket variant is the
  * 100 TB path: candidates reduce to an equi-join on bucket id.
  */
object SimilarityOps {

  /** Sequential double-precision dot product / L2 norm of float arrays —
    * codegen'd kernels (graft.functions.VecOps), bit-identical to the HOF
    * `aggregate(zip_with(...))` formulation and the DuckDB oracle. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecOps.graft_vec_dot(a, b)

  private def norm2(a: Column): Column =
    graft.functions.VecOps.graft_vec_norm(a)

  /** e01: L2 norms — the map-only vector kernel. */
  def e01VectorNorms(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        round(norm2(col("embedding")), 6).as("l2_norm"),
        size(col("embedding")).cast("long").as("dim"))
      .sortedWide("vec_id")

  val e01Oracle: String =
    """SELECT vec_id, label,
      |round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |  x -> x * x))), 6) AS l2_norm,
      |len(embedding) AS dim
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** e02: brute-force cosine top-k (k=10) for query vectors vec_id < 5.
    * Query side broadcasts; ranking uses the *rounded* score plus candidate
    * id so ordering is engine-deterministic. */
  def e02CosineTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Precompute each vector's norm once (N rows), not once per pair
    // (N×Q rows) — at scale this cuts the pair-stage FLOPs to the dot
    // product alone.
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("cnorm"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cnorm").as("qnorm"))
    val cos = round(
      dot(col("qe"), col("embedding")) / (col("qnorm") * col("cnorm")), 4)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_r").desc, col("cid"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), cos.as("cos_r"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .withColumn("rnk", col("rnk").cast("long"))
      .sortedSmall("qid", "rnk")
  }

  val e02Oracle: String =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
      |      FROM embeddings),
      |p AS (SELECT qid, cid,
      |        round(list_cosine_similarity(qe, ce), 4) AS cos_r
      |      FROM q, c WHERE cid <> qid),
      |r AS (SELECT qid, cid, cos_r,
      |        row_number() OVER (PARTITION BY qid
      |                           ORDER BY cos_r DESC, cid) AS rnk
      |      FROM p)
      |SELECT qid, cid, cos_r, rnk FROM r WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin

  /** Sign-LSH bucket over the first `bits` stride-8 dimensions. `bits` is
    * THE capacity knob of every bucket-blocked query (e03/e04/e10/e15/e16):
    * expected bucket size is n / 2^bits, so pair volume in a bucket
    * self-join is ~n² / 2^bits — production sizing picks
    * bits ≈ log2(n / target_bucket). THIS implementation caps at 16 bits
    * (two interleave passes over 64 dims = 16 defined hyperplanes; 64k
    * buckets ≈ hundreds of millions of vectors at thousands per bucket) —
    * the ~24-bit sizing a 100 TB corpus wants needs a third interleave
    * offset (64-dim embeddings leave room; extend `dim` below), and
    * `BucketProbe` can only probe widths this cap admits. The gate
    * queries pin bits = 4 so the DuckDB oracle replays the same 16
    * buckets; BucketBitsSpec proves the refinement property that makes
    * the knob safe to turn: buckets at b+1 bits partition buckets at b
    * bits, so candidate sets only shrink. */
  private[graft] def signBucketOf(bits: Int): Column = {
    require(bits >= 1 && bits <= 16, s"supported sign bits: 1..16, got $bits")
    val bit = (d: Int) =>
      when(element_at(col("embedding"), d) > 0f, 1L).otherwise(0L)
    // bit j reads dim 8j+1 for j<8 (the original layout — gate oracles
    // depend on it) and dim 8(j-8)+5 for j>=8 (offset-4 interleave), so
    // widening appends low bits and the refinement property holds at
    // every width.
    val dim = (j: Int) => if (j < 8) 8 * j + 1 else 8 * (j - 8) + 5
    (0 until bits).map(j => bit(dim(j)) * (1L << (bits - 1 - j)))
      .reduce(_ + _)
  }

  private def signBucket: Column = signBucketOf(4)

  /** e03: LSH sign-buckets — the ANN scale path: bucket id becomes the join
    * key for candidate generation, collapsing the candidate set by ~16×. */
  def e03LshBuckets(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("vec_id"), col("label"), signBucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("label")).as("n_labels"),
        min(col("vec_id")).as("min_vec"))
      .sortedSmall("bucket")

  val e03Oracle: String =
    """WITH b AS (SELECT vec_id, label,
      |  CAST(CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END +
      |   CASE WHEN embedding[9] > 0 THEN 4 ELSE 0 END +
      |   CASE WHEN embedding[17] > 0 THEN 2 ELSE 0 END +
      |   CASE WHEN embedding[25] > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket
      |  FROM embeddings)
      |SELECT bucket, COUNT(*) AS n_vecs,
      |  COUNT(DISTINCT label) AS n_labels, MIN(vec_id) AS min_vec
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** e04: bucketed ANN — same top-k contract as e02 but candidates are
    * restricted to the query's LSH bucket (plus rank within bucket). This is
    * the query users run at 100 TB; recall vs e02 is the quality metric. */
  def e04AnnBucketed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = embeddings(s, dir).select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("cnorm"), signBucket.as("bucket"))
    val q = bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cnorm").as("qnorm"), col("bucket").as("qb"))
    val cos = round(
      dot(col("qe"), col("embedding")) / (col("qnorm") * col("cnorm")), 4)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_r").desc, col("cid"))
    bucketed.join(broadcast(q),
        col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), cos.as("cos_r"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .withColumn("rnk", col("rnk").cast("long"))
      .sortedSmall("qid", "rnk")
  }

  val e04Oracle: String =
    """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
      |  (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END +
      |   CASE WHEN embedding[9] > 0 THEN 4 ELSE 0 END +
      |   CASE WHEN embedding[17] > 0 THEN 2 ELSE 0 END +
      |   CASE WHEN embedding[25] > 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, ce AS qe, bucket AS qb
      |      FROM b WHERE vec_id < 5),
      |p AS (SELECT qid, vec_id AS cid,
      |        round(list_cosine_similarity(qe, ce), 4) AS cos_r
      |      FROM q JOIN b ON b.bucket = q.qb AND b.vec_id <> q.qid),
      |r AS (SELECT qid, cid, cos_r,
      |        row_number() OVER (PARTITION BY qid
      |                           ORDER BY cos_r DESC, cid) AS rnk
      |      FROM p)
      |SELECT qid, cid, cos_r, rnk FROM r WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin

  /** e05: embedding-cosine near-duplicate detection, blocked on `label`
    * (the blocking key stands in for an LSH/IVF bucket: candidates are
    * generated by an equi-join, never all-pairs). Threshold 0.4 is a demo
    * value for this corpus (max pairwise cosine ≈ 0.51); production
    * near-dup dedup uses ~0.95. */
  def e05CosineDedup(s: SparkSession, dir: String): DataFrame =
    e05Of(embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding")),
      Some(s -> dir))
      .sortedWide("label", "a", "b")

  /** Representative level ([[canonVecs]]' argument with the blocking
    * label folded into the canonical key — two vectors are interchangeable
    * only if BOTH the label and the array match): the label equi-join,
    * cosine and threshold are pure functions of (label, embedding), so
    * rep pairs expand to the doc-level list exactly (measured hazard:
    * 265.0 s at the 100× replica pre-canonicalization — every duplicate
    * group pays k² inside its label block). */
  private[graft] def e05Of(vecs: DataFrame,
      art: Option[(SparkSession, String)] = None): DataFrame = {
    val e0 = vecs.select(col("vec_id"), col("label"), col("embedding"),
      norm2(col("embedding")).as("nrm"))
    val key = struct(col("label"), col("embedding"),
      when(col("nrm") === 0, col("vec_id")).otherwise(lit(-1L)).as("z"))
    // The label-keyed canon map (distinct from e10/e15's label-free
    // `vec_canon` — the key folds the blocking label in) is a pure
    // per-corpus artifact; the label-blocked pair join stays live.
    def buildTagged: DataFrame = graft.ext.Canon.tagReps(e0, key, "vec_id")
    val tagged = art match {
      case Some((s, dir)) =>
        Artifacts.materialized(s, "vec_canon_lbl", dir)(buildTagged)
      case None =>
        val t = buildTagged.persist()
        t.count()
        t
    }
    val member = tagged.select(col("vec_id"), col("rep"))
    val reps = tagged.filter(col("vec_id") === col("rep")).drop("rep")
    val grpSz = tagged.groupBy(col("rep")).agg(count(lit(1)).as("grp_n"))
    val a = reps.select(col("vec_id").as("a"), col("label"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = reps.select(col("vec_id").as("b"), col("label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val rp = a.join(b, Seq("label"))
      .filter(col("a") <= col("b"))
      .select(col("label"), col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("cos_r"))
      .filter(col("cos_r") > 0.4)
      .join(grpSz.toDF("a", "grp_n"), "a")
      .filter(col("a") =!= col("b") || col("grp_n") >= 2)
      .drop("grp_n")
    graft.ext.Canon.expandPairs(
      rp.select(col("a").as("ra"), col("b").as("rb"),
        col("label"), col("cos_r")),
      member)
      .select(col("label"), col("a"), col("b"), col("cos_r"))
  }

  /** Pre-canonicalization doc-level e05, kept as the spec reference. */
  private[graft] def naiveLabelCosine(vecs: DataFrame): DataFrame = {
    val e = vecs
      .select(col("vec_id"), col("label"), col("embedding"),
        norm2(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("a"), col("label"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b"), col("label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("label"))
      .filter(col("a") < col("b"))
      .select(col("label"), col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("cos_r"))
      .filter(col("cos_r") > 0.4)
  }

  val e05Oracle: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings)
      |SELECT x.label, x.vec_id AS a, y.vec_id AS b,
      |  round(list_cosine_similarity(x.v, y.v), 4) AS cos_r
      |FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
      |WHERE round(list_cosine_similarity(x.v, y.v), 4) > 0.4
      |ORDER BY x.label, a, b""".stripMargin

  /** e06: IVF ANN — the learned-quantizer scale path. Coarse k-means over
    * DataFrame ops (deterministic seeds = lowest-K vec_ids, 2 Lloyd
    * iterations; assignment = one broadcast join of K centroids against the
    * partitioned vector scan), then search probes only the query's
    * `nprobe`=2 nearest cells. Centroid means go through exact decimal
    * sums ([[graft.expr.Exprs.dsum]]) cast back float, so the whole
    * pipeline is order-independent and the DuckDB oracle below replicates
    * the two Lloyd rounds bit-for-bit (every other op — dot, norm,
    * argmin — is a fixed IEEE sequence in both engines).
    *
    * At 100 TB: centroids are a tiny broadcast table, assignment is a
    * narrow map over the vector scan, and each query touches nprobe/K of
    * the data — the same plan shape as production IVF indexes. */
  /** IVF cell model over full vectors (the e06 recipe: 16 seed cells from
    * the lowest vec_ids, two decimal-exact Lloyd rounds). Returns
    * (codebook (cid, cvec, cn), final assignment (vec_id, embedding,
    * cid)) — shared by e06 and the IVF-PQ composition (e14). */
  // minimize |c|^2 - 2 a·c (== L2 distance up to the constant |a|^2);
  // nearest-cell election is the partial-aggregable min(struct) argmin
  // (the pqModel recipe): same (dist, cid) tie-break as a row_number
  // window, no sort, map-side combine over the K-scored stream. The
  // shared IVF assignment kernel: training rounds, probe-time
  // assignment, and e37's frozen-centroid increment add all route here.
  private[ext] def ivfAssign(vecs: DataFrame,
      cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents))
      .select(col("vec_id"),
        struct(
          (col("cn") * col("cn") -
            dot(col("embedding"), col("cvec")) * 2).as("dist"),
          col("cid"), col("embedding")).as("scored"))
      .groupBy(col("vec_id"))
      .agg(min(col("scored")).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.cid").as("cid"))

  /** Decimal-exact centroid means of an assignment — the shared Lloyd
    * recompute. One shared count + 64 decimal sums, NOT 64 davg's: davg
    * embeds its own count, and 129 aggregate buffers would blow the
    * whole-stage codegen field limit (spark.sql.codegen.maxFields =
    * 100) — the aggregate silently falls back to the interpreted path,
    * ~1 s per Lloyd round (JobProbe-measured). 65 buffers stay
    * codegen'd; the per-dim sum/count quotient is bit-identical to davg
    * (embeddings are non-null, so COUNT(dim) == COUNT(*)). */
  private[ext] def ivfRecompute(assigned: DataFrame): DataFrame = {
    val sums = (0 until 64).map(p =>
      graft.expr.Exprs.dsum(
        element_at(col("embedding"), p + 1).cast("double"), 12)
        .as(s"s$p"))
    assigned
      .groupBy(col("cid"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("cnt")): _*)
      .select(col("cid"),
        array((0 until 64).map(p =>
          (col(s"s$p") / col("cnt")).cast("float")): _*).as("cvec"))
      .withColumn("cn", norm2(col("cvec")))
  }

  private[ext] def ivfModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val kCells = 16
    def assignOver(vecs: DataFrame, cents: DataFrame): DataFrame =
      ivfAssign(vecs, cents)
    // Exact decimal means (order-independent across partitions AND
    // engines) — a double avg() would be float-summation-order
    // dependent, which is what kept e06 oracle-less in round 2. One
    // groupBy with a fixed davg column per dimension (not posexplode +
    // two groupBys): same values, one exchange instead of two — each
    // exchange is a whole AQE stage-job, and job count is what these
    // 5k-vector training chains actually pay for (JobProbe: 59 jobs
    // per e14 execution before this rewrite).
    def recompute(assigned: DataFrame): DataFrame = ivfRecompute(assigned)

    // The trained codebook is a once-per-corpus artifact (memoized,
    // 16×64 floats on the driver). Training caches the vectors
    // PRE-PARTITIONED on vec_id: the cached relation advertises
    // HashPartitioning(vec_id), so both Lloyd rounds' groupBy(vec_id)
    // aggregates run in place — zero exchanges where the uncached chain
    // paid one per pass. Lazy persist: the first round's single
    // broadcast (c0) materializes it, no concurrent-consumer race.
    val trained = Artifacts.model(s, "ivf", dir) {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .persist()
      var cents = e.filter(col("vec_id") < kCells)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .withColumn("cn", norm2(col("cvec")))
      // Lazy persist on the intermediate round (single next-round
      // broadcast consumer); the final codebook collects to the driver,
      // so consumers plan against literal rows, not the Lloyd lineage.
      cents = recompute(assignOver(e, cents)).persist()
      recompute(assignOver(e, cents))
    }
    // The assignment is recomputed per query — a production index PROBE:
    // one broadcast of the codebook against the partitioned vector scan,
    // argmin aggregating in place. Only the training rounds are shared.
    val vecs = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    (trained, assignOver(vecs, trained))
  }

  def e06AnnIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nprobe = 2
    val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val (cents, asg) = ivfModel(s, dir)

    val assigned = asg
      .withColumn("cnorm", norm2(col("embedding")))
      .persist()
    assigned.count()

    // queries probe their nprobe nearest cells
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("cid"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .join(broadcast(cents))
      .select(col("qid"), col("qe"), col("cid"),
        (col("cn") * col("cn") - dot(col("qe"), col("cvec")) * 2).as("dist"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qe"), col("cid"))
      .withColumn("qnorm", norm2(col("qe")))

    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cos_r").desc, col("cid2"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid2"),
        round(dot(col("qe"), col("embedding")) /
          (col("qnorm") * col("cnorm")), 4).as("cos_r"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("cid2").as("cid"), col("cos_r"),
        col("rnk").cast("long").as("rnk"))
      .sortedSmall("qid", "rnk")
  }

  /** DuckDB replica of [[e06AnnIvf]]: same seeds (vec_id < 16), same two
    * Lloyd rounds with decimal-exact means cast float, same |c|²−2a·c
    * assignment, same nprobe=2 probe + rounded-cosine top-10.
    * `list_inner_product` over DOUBLE[] is a sequential left fold —
    * verified bit-identical to the codegen'd VecOps kernels. */
  // dist(v, c) exactly as the Spark side computes it: cn*cn − dot*2
  // with cn = sqrt(Σc²) (sqrt-then-square, NOT Σc² — the lost bits are
  // part of the contract).
  private[ext] def ivfDistSql(v: String, c: String): String =
    s"sqrt(list_inner_product($c, $c)) * sqrt(list_inner_product($c, $c))" +
      s" - list_inner_product($v, $c) * 2"

  /** DuckDB CTE chain replaying [[ivfModel]]'s training + final assignment
    * — e (vectors as DOUBLE[]), c0 seeds, two decimal-exact Lloyd rounds,
    * a3 = the final (vec_id, v, cid) assignment. Shared by e06's probe
    * oracle and e26's cluster-balanced sampler so both gates replay ONE
    * model. */
  private[ext] def ivfAssignSql(src: String, cents: String,
      out: String): String =
    s"""$out AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${ivfDistSql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM $src e CROSS JOIN $cents c)
       |  WHERE rn = 1)""".stripMargin

  /** The CTE chain parameterized by the training population (`eWhere`)
    * and seed election (`seedWhere`) — the default replays e06's
    * full-corpus model; e37 trains on the base partition only. */
  private[ext] def ivfAssignCtesFor(eWhere: String,
      seedWhere: String): String = {
    def recompute(assigned: String, out: String): String =
      s"""$out AS (
         |  SELECT cid, CAST(list(mf ORDER BY pos) AS DOUBLE[]) AS cv FROM (
         |    SELECT cid, pos,
         |      CAST(${graft.expr.Exprs.davgSql("x", 12)} AS FLOAT) AS mf
         |    FROM (SELECT cid, generate_subscripts(v, 1) AS pos,
         |            unnest(v) AS x FROM $assigned)
         |    GROUP BY cid, pos)
         |  GROUP BY cid)""".stripMargin
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings $eWhere),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e $seedWhere),
       |${ivfAssignSql("e", "c0", "a1")},
       |${recompute("a1", "c1")},
       |${ivfAssignSql("e", "c1", "a2")},
       |${recompute("a2", "c2")},
       |${ivfAssignSql("e", "c2", "a3")}""".stripMargin
  }

  private[ext] val ivfAssignCtes: String =
    ivfAssignCtesFor("", "WHERE vec_id < 16")

  val e06Oracle: String = {
    def dist(v: String, c: String): String = ivfDistSql(v, c)
    s"""WITH $ivfAssignCtes,
       |probes AS (
       |  SELECT qid, qv, cid FROM (
       |    SELECT e.vec_id AS qid, e.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dist("e.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c2 c WHERE e.vec_id < 5)
       |  WHERE rn <= 2),
       |p AS (
       |  SELECT p.qid, a.vec_id AS cid,
       |    round(list_inner_product(p.qv, a.v) /
       |      (sqrt(list_inner_product(p.qv, p.qv)) *
       |       sqrt(list_inner_product(a.v, a.v))), 4) AS cos_r
       |  FROM probes p JOIN a3 a ON a.cid = p.cid AND a.vec_id <> p.qid),
       |r AS (
       |  SELECT qid, cid, cos_r,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_r DESC, cid) AS rnk
       |  FROM p)
       |SELECT qid, cid, cos_r, rnk FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  /** e07: recall gate for the IVF index — measures recall@10 of e06 against
    * the brute-force baseline (e02) and asserts it clears 0.5 (observed
    * 0.7–1.0 across sf0.001/0.01/0.1 with nprobe=2 of 16 cells; 0.5 leaves
    * margin for float-order jitter in centroid means). This is the
    * ANN-quality contract a DuckDB oracle *can* check even though the
    * sketch itself is engine-specific. */
  def e07AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val bf = groundTruthTopK(s, dir)
    val ivf = e06AnnIvf(s, dir).select(col("qid"), col("cid"))
      .withColumn("hit", lit(1L))
    bf.join(ivf, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg((sum(coalesce(col("hit"), lit(0L))) / 10.0).as("recall"))
      .select(col("qid"), (col("recall") >= 0.5).as("recall_ok"))
      .sortedSmall("qid")
  }

  val e07Oracle: String =
    """SELECT DISTINCT vec_id AS qid, true AS recall_ok
      |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin

  /** e08: int8 scalar quantization of the embedding column — the storage
    * path that cuts vector bytes 4× before ANN at scale. Per vector:
    * symmetric scale 127/max|x|, quantize q = floor(x·scale + 0.5) (the
    * explicit half-up form — both engines run the identical IEEE sequence,
    * avoiding round() rounding-mode ambiguity), report the quantized
    * checksum and the mean dequantization error. Map-only, no shuffle. */
  def e08QuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    // nullif guards the all-zero vector: 127/0 would be Inf, 0*Inf NaN,
    // and the NaN→long cast throws under ANSI. A null scale makes qsum
    // and mean_err null-coalesce to 0 — the correct quantization of a
    // zero vector (same CASE guard in the oracle).
    val scale = lit(127.0) /
      nullif(array_max(transform(col("v"), x => abs(x))), lit(0.0))
    val q = (x: Column) => floor(x * col("scale") + 0.5)
    embeddings(s, dir)
      .select(col("vec_id"), v.as("v"))
      .withColumn("scale", scale)
      .select(col("vec_id"),
        coalesce(
          aggregate(transform(col("v"), x => q(x)), lit(0.0), _ + _),
          lit(0.0)).cast("long").as("qsum"),
        coalesce(round(
          aggregate(transform(col("v"), x => abs(x - q(x) / col("scale"))),
            lit(0.0), _ + _) / size(col("v")), 6), lit(0.0)).as("mean_err"))
      .sortedWide("vec_id")
  }

  val e08Oracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |s AS (SELECT vec_id, v,
      |        127.0 / nullif(list_max(list_transform(v, x -> abs(x))), 0.0)
      |          AS scale
      |      FROM e)
      |SELECT vec_id,
      |  CAST(coalesce(
      |    list_sum(list_transform(v, x -> floor(x * scale + 0.5))), 0.0)
      |    AS BIGINT) AS qsum,
      |  coalesce(round(list_sum(list_transform(v,
      |    x -> abs(x - floor(x * scale + 0.5) / scale))) / len(v), 6), 0.0)
      |    AS mean_err
      |FROM s ORDER BY vec_id""".stripMargin

  /** e09: quantization-quality contract for SEARCH — top-10 cosine
    * neighbors computed over int8-dequantized vectors must overlap ≥ 0.6
    * with the full-precision top-10 (observed 0.9-1.0 across scales; 0.6
    * leaves margin). Ties e08's storage path to e02's search quality the
    * way e07 ties e06's index to it. Dequantized vectors are doubles, so
    * the kernels here are the HOF forms (the codegen'd VecOps kernels
    * read float arrays). */
  def e09QuantizedSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("scale", lit(127.0) /
        nullif(array_max(transform(col("v"), x => abs(x))), lit(0.0)))
      .withColumn("dq",
        transform(col("v"), x => floor(x * col("scale") + 0.5) / col("scale")))
    def topk(vc: String): DataFrame = {
      val d = e.select(col("vec_id"), col(vc).as("vec"))
      val q = d.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("vec").as("qv"))
      val cos = aggregate(zip_with(col("qv"), col("vec"),
        (a, b) => a * b), lit(0.0), _ + _) /
        (sqrt(aggregate(transform(col("qv"), x => x * x), lit(0.0), _ + _)) *
          sqrt(aggregate(transform(col("vec"), x => x * x), lit(0.0), _ + _)))
      val w = Window.partitionBy(col("qid"))
        .orderBy(round(cos, 4).desc, col("vec_id"))
      d.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
        .select(col("qid"), col("vec_id").as("cid"))
    }
    val quant = topk("dq").withColumn("hit", lit(1L))
    topk("v").join(quant, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg((sum(coalesce(col("hit"), lit(0L))) / 10.0).as("overlap"))
      .select(col("qid"), (col("overlap") >= 0.6).as("search_ok"))
      .sortedSmall("qid")
  }

  val e09Oracle: String =
    """SELECT DISTINCT vec_id AS qid, true AS search_ok
      |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin

  /** e10: embedding near-dup with LSH-bucket blocking — e05's contract
    * (cosine above threshold ⇒ duplicate pair) but candidates come from
    * the sign-LSH bucket equi-join (e03's buckets) instead of a label
    * key: the fully self-contained 100 TB shape, no metadata blocking
    * key required. Near-identical vectors agree on every sign bit, so
    * bucket-blocking loses only pairs straddling a hyperplane — the
    * standard LSH recall trade, bounded here by using the same demo
    * threshold as e05. */
  /** Canonical (bit-identical-embedding-collapsed) vector state —
    * [[graft.ext.Canon]]'s pattern on the embedding array itself (exact
    * float equality; at petabyte scale swap in a 128-bit content hash).
    * Buckets, dot products, norms and cosines are pure functions of the
    * arrays, so identical vectors are indistinguishable to the bucketed
    * pair generators: collapsing before the bucket self-join removes the
    * k² candidate blow-up of a duplicated corpus (100× replica: e15
    * 131.2 s, nearly all within-group pair work). Zero-norm vectors stay
    * singletons BY KEY: cos(v, v) is NULL at norm 0, so identical zero
    * vectors are never doc-level pairs and must not collapse into a
    * connected group. */
  private final case class CanonVecs(
      member: DataFrame, repVecs: DataFrame, grpSz: DataFrame)

  /** `art = Some(session -> corpusDir)` routes the tagged table through
    * [[Artifacts.materialized]] — the canon map is a pure per-corpus
    * function shared by e05/e10/e15 (the minhash-family discipline from
    * [[TextOps]]); synthetic-vector callers (specs) keep the persist
    * path. */
  private def canonVecs(vecs: DataFrame,
      art: Option[(SparkSession, String)] = None): CanonVecs = {
    val e = vecs.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("nrm"))
    val key = struct(col("embedding"),
      when(col("nrm") === 0, col("vec_id")).otherwise(lit(-1L)).as("z"))
    def buildTagged: DataFrame = graft.ext.Canon.tagReps(e, key, "vec_id")
    val tagged = art match {
      case Some((s, dir)) =>
        Artifacts.materialized(s, "vec_canon", dir)(buildTagged)
      case None =>
        val t = buildTagged.persist()
        t.count() // eager: member, repVecs and grpSz all read it
        t
    }
    CanonVecs(
      member = tagged.select(col("vec_id"), col("rep")),
      repVecs = tagged.filter(col("vec_id") === col("rep")).drop("rep"),
      grpSz = tagged.groupBy(col("rep")).agg(count(lit(1)).as("grp_n")))
  }

  /** Representative-level sign-bucket cosine pairs (a ≤ b, cos > 0.4;
    * diagonal rows = duplicate groups with ≥2 members, cos_r = 1.0 by
    * construction) + the canonical vector state — shared by e10/e15. */
  private def lshCosineRepState(vecs: DataFrame,
      art: Option[(SparkSession, String)] = None): (CanonVecs, DataFrame) = {
    val cv = canonVecs(vecs, art)
    val e = cv.repVecs
      .select(col("vec_id"), col("embedding"), col("nrm"),
        signBucket.as("bucket"))
    val a = e.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val rp = a.join(b, Seq("bucket"))
      .filter(col("a") <= col("b"))
      .select(col("bucket"), col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("cos_r"))
      .filter(col("cos_r") > 0.4)
      .join(cv.grpSz.toDF("a", "grp_n"), "a")
      .filter(col("a") =!= col("b") || col("grp_n") >= 2)
      .drop("grp_n")
    (cv, rp)
  }

  def e10LshCosineDedup(s: SparkSession, dir: String): DataFrame =
    e10Of(embeddings(s, dir).select(col("vec_id"), col("embedding")),
      Some(s -> dir))
      .sortedWide("bucket", "a", "b")

  private[graft] def e10Of(vecs: DataFrame,
      art: Option[(SparkSession, String)] = None): DataFrame = {
    // Representative level ([[canonVecs]]); bucket and cos_r are symmetric
    // pair payloads (pure functions of the two arrays), so membership
    // expansion reproduces the doc-level pair list exactly. The canon map
    // is the shared artifact; the bucketed pair join — this query's core —
    // always runs live.
    val (cv, rp) = lshCosineRepState(vecs, art)
    graft.ext.Canon.expandPairs(
      rp.select(col("a").as("ra"), col("b").as("rb"),
        col("bucket"), col("cos_r")),
      cv.member)
      .select(col("bucket"), col("a"), col("b"), col("cos_r"))
  }

  /** The pre-canonicalization doc-level implementation, kept as the spec
    * reference (CanonPairsSpec proves the rep-level path reproduces it on
    * a duplicated corpus). */
  private[graft] def naiveLshCosine(vecs: DataFrame): DataFrame = {
    val e = vecs
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("nrm"), signBucket.as("bucket"))
    val a = e.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("a") < col("b"))
      .select(col("bucket"), col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("cos_r"))
      .filter(col("cos_r") > 0.4)
  }

  val e10Oracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |  (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END +
      |   CASE WHEN embedding[9] > 0 THEN 4 ELSE 0 END +
      |   CASE WHEN embedding[17] > 0 THEN 2 ELSE 0 END +
      |   CASE WHEN embedding[25] > 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings)
      |SELECT CAST(x.bucket AS BIGINT) AS bucket, x.vec_id AS a,
      |  y.vec_id AS b,
      |  round(list_cosine_similarity(x.v, y.v), 4) AS cos_r
      |FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      |WHERE round(list_cosine_similarity(x.v, y.v), 4) > 0.4
      |ORDER BY bucket, a, b""".stripMargin

  /** Deterministic ±1 sign matrix for e11 (8 projected dims × 64 input
    * dims), derived from md5 parity of "rp:j:i" — reproducible anywhere,
    * embedded as literals in BOTH the Spark expression tree and the oracle
    * SQL so the two engines execute the identical IEEE addition chain. */
  private lazy val rpSigns: Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(8, 64) { (j, i) =>
      val h = md.digest(s"rp:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }
  }

  /** e11: random-projection dimensionality reduction 64→8 — the cheap
    * sketch that makes downstream clustering/ANN affordable (Achlioptas
    * ±1 projections preserve pairwise distances in expectation). Map-only
    * and fully codegen'd: each output dim is a literal-signed sum of the
    * input floats, no HOFs, no shuffle — at 100 TB this runs at scan
    * speed inside WholeStageCodegen. */
  def e11RandomProjection(s: SparkSession, dir: String): DataFrame = {
    def proj(j: Int): Column =
      (0 until 64).map { i =>
        element_at(col("embedding"), i + 1).cast("double") * rpSigns(j)(i)
      }.reduce(_ + _)
    embeddings(s, dir)
      .select(col("vec_id") +: col("label") +:
        (0 until 8).map(j => round(proj(j), 6).as(s"r$j")): _*)
      .sortedWide("vec_id")
  }

  val e11Oracle: String = {
    def proj(j: Int): String =
      (0 until 64).map { i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * (${rpSigns(j)(i)})"
      }.mkString(" + ")
    val cols = (0 until 8).map(j => s"round(${proj(j)}, 6) AS r$j")
    s"SELECT vec_id, label, ${cols.mkString(", ")} " +
      "FROM embeddings ORDER BY vec_id"
  }

  private val pqM = 8     // subspaces
  private val pqSub = 8   // dims per subspace
  private val pqK = 16    // centroids per subspace

  /** (vec_id, m, sv): each embedding split into M contiguous subvectors —
    * the PQ decomposition, one exploded row per (vector, subspace). */
  private[ext] def pqSubvectors(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(array((0 until pqM).map(m =>
          slice(col("embedding"), m * pqSub + 1, pqSub)): _*))
          .as(Seq("m", "sv")))

  /** Per-subspace codebooks + assignments, all M subspaces trained in ONE
    * DataFrame chain keyed by m (no per-subspace driver loop): seeds are
    * the first K vectors' subvectors, then two Lloyd rounds with
    * decimal-exact means (the e06 recipe, which DuckDB replicates
    * bit-for-bit). e12 publishes the result through [[pqCodes]]. */

  // argmin by (dist, cid) as a partial-aggregable min(struct) — same
  // tie-break as a row_number window (dist asc, cid asc; cid is unique
  // per (m, candidate) so sv is never reached in the comparison), but
  // map-side combinable: the shuffle carries K× fewer rows than the
  // windowed formulation's full scored stream, and there is no sort.
  private def pqAssignOver(subs: DataFrame, cents: DataFrame): DataFrame =
    subs.join(broadcast(cents), Seq("m"))
      .select(col("vec_id"), col("m"),
        struct(
          (col("cn") * col("cn") - dot(col("sv"), col("cvec")) * 2)
            .as("dist"),
          col("cid"), col("sv")).as("scored"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("scored")).as("best"))
      .select(col("vec_id"), col("m"), col("best.sv").as("sv"),
        col("best.cid").as("cid"))

  // Same decimal-exact means, one groupBy with a fixed davg column per
  // subspace dimension instead of posexplode + two groupBys — one
  // exchange fewer per Lloyd round (the ivfModel recompute rationale).
  private def pqRecompute(assigned: DataFrame): DataFrame = {
    val means = (0 until pqSub).map(p =>
      graft.expr.Exprs.davg(
        element_at(col("sv"), p + 1).cast("double"), 12)
        .cast("float").as(s"m$p"))
    assigned
      .groupBy(col("m"), col("cid"))
      .agg(means.head, means.tail: _*)
      .select(col("m"), col("cid"),
        array((0 until pqSub).map(p => col(s"m$p")): _*).as("cvec"))
      .withColumn("cn", norm2(col("cvec")))
  }

  /** (final assignment (vec_id, m, sv, cid), trained codebook
    * (m, cid, cvec, cn)) — the ENCODE pass planned fresh. Consumers that
    * can probe the STORED index must use [[pqCodes]]/[[pqCodebook]]
    * instead; this stays the build path ([[pqCodes]]' first touch). */
  private[ext] def pqModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val trained = pqCodebook(s, dir)
    // Per-query ENCODE pass (the production probe): one broadcast of the
    // codebooks against the partitioned subvector scan.
    pqEncodePlans.incrementAndGet()
    val subs = pqSubvectors(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    (pqAssignOver(subs, trained), trained)
  }

  /** The trained codebook alone (memoized LocalRelation — K×M rows,
    * [[Artifacts.model]]): the once-per-corpus artifact (M×K rows of K
    * floats on the driver — the Spark ML KMeansModel shape,
    * driver-resident by design at any corpus size). Training runs one
    * scan+explode cached PRE-PARTITIONED on vec_id so every assign
    * pass's groupBy(vec_id, m) aggregates in place — zero exchanges
    * (HashPartitioning(vec_id) satisfies the (vec_id, m) clustering).
    * Lazy persist: the first materializer is round 1's single c0
    * broadcast, sequential, no race; the final collect IS the round-2
    * action, and every consumer broadcast ships literal rows instead of
    * re-planning the Lloyd lineage (JobProbe showed the lineage-walking
    * AQE stage-jobs, not compute, dominate). */
  private[ext] def pqCodebook(s: SparkSession, dir: String): DataFrame =
    Artifacts.model(s, "pq", dir) {
      val subs = pqSubvectors(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .persist()
      var cents = subs.filter(col("vec_id") < pqK)
        .select(col("m"), col("vec_id").as("cid"), col("sv").as("cvec"))
        .withColumn("cn", norm2(col("cvec")))
      cents = pqRecompute(pqAssignOver(subs, cents)).persist()
      pqRecompute(pqAssignOver(subs, cents))
    }

  /** Encode-pass plan counter — the PqArtifactSpec witness that the
    * stored-code consumers (e12/e13/e14/e33) never re-derive the
    * assignment stream once the artifact exists. Counts PLANS of the
    * full-corpus encode (the expensive pass); training Lloyd rounds are
    * already behind the [[Artifacts.model]] memo. */
  private[graft] val pqEncodePlans =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The stored PQ INDEX: (vec_id, m, cid) codes as a materialized
    * artifact ([[Artifacts.materialized]] — the t60 ingest-index
    * discipline). The codes ARE the index PQ ships at scale (M bytes per
    * vector + one shared K×M codebook); e12 publishes them, and every
    * later audit or search (e13/e14/e33) PROBES the stored codes instead
    * of replaying the training/assignment lineage — at 100 TB an index
    * audit must read the index, not rebuild it. First touch per corpus
    * still pays one full encode (that is the index build); everything
    * after is apply-only. */
  private[ext] def pqCodes(s: SparkSession, dir: String): DataFrame =
    Artifacts.materialized(s, "pq_codes", dir)(
      pqModel(s, dir)._1.select(col("vec_id"), col("m"), col("cid")))

  /** Exact-top-k eval fixture (the e02 answer, ids only), computed once
    * per corpus and shared by every recall gate (e07/e13/e14). At scale
    * ground truth IS a precomputed eval table — an inline brute-force
    * pass per ANN query would dwarf the query being evaluated. */
  private[ext] def groundTruthTopK(s: SparkSession, dir: String): DataFrame =
    Artifacts.model(s, "gt", dir)(
      e02CosineTopK(s, dir).select(col("qid"), col("cid")))

  /** The shared CTE chain for the PQ oracle (subspace split → seeds → two
    * Lloyd rounds → final assignment a3 + codebook c2), mirroring
    * the [[pqCodebook]]/[[pqModel]] training exactly — same seeds, same
    * sqrt-then-square
    * distance, same decimal-exact means. */
  private[ext] val pqSqlChain: String = {
    def dist(v: String, c: String): String =
      s"sqrt(list_inner_product($c, $c)) * sqrt(list_inner_product($c, $c))" +
        s" - list_inner_product($v, $c) * 2"
    def assign(cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, m, sv, cid FROM (
         |    SELECT s.vec_id, s.m, s.sv, c.cid,
         |      row_number() OVER (PARTITION BY s.m, s.vec_id
         |        ORDER BY ${dist("s.sv", "c.cv")} ASC, c.cid ASC) AS rn
         |    FROM subs s JOIN $cents c ON c.m = s.m)
         |  WHERE rn = 1)""".stripMargin
    def recompute(assigned: String, out: String): String =
      s"""$out AS (
         |  SELECT m, cid, CAST(list(mf ORDER BY pos) AS DOUBLE[]) AS cv
         |  FROM (
         |    SELECT m, cid, pos,
         |      CAST(${graft.expr.Exprs.davgSql("x", 12)} AS FLOAT) AS mf
         |    FROM (SELECT m, cid, generate_subscripts(sv, 1) AS pos,
         |            unnest(sv) AS x FROM $assigned)
         |    GROUP BY m, cid, pos)
         |  GROUP BY m, cid)""".stripMargin
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |subs AS (
       |  SELECT vec_id, ms.m,
       |    list_slice(v, ms.m * $pqSub + 1, ms.m * $pqSub + $pqSub) AS sv
       |  FROM e, (SELECT unnest(range(0, $pqM)) AS m) ms),
       |c0 AS (SELECT m, vec_id AS cid, sv AS cv FROM subs
       |       WHERE vec_id < $pqK),
       |${assign("c0", "a1")},
       |${recompute("a1", "c1")},
       |${assign("c1", "a2")},
       |${recompute("a2", "c2")},
       |${assign("c2", "a3")}""".stripMargin
  }

  /** e12: product quantization — encode every 64-dim vector as M=8
    * centroid codes (one per 8-dim subspace, K=16 codebooks trained by
    * subspace-keyed Lloyd). 32× compression of the float payload (codes +
    * shared codebooks); the index layout behind ADC search (e13). All M
    * codebooks train in one chain — the subspace id is just another
    * grouping key, so a wider PQ (more subspaces) changes data volume,
    * not plan shape. */
  def e12PqEncode(s: SparkSession, dir: String): DataFrame = {
    val codeCols = (0 until pqM).map(m =>
      max(when(col("m") === m, col("cid"))).as(s"c$m"))
    pqCodes(s, dir)
      .groupBy(col("vec_id"))
      .agg(codeCols.head, codeCols.tail: _*)
      .sortedWide("vec_id")
  }

  val e12Oracle: String = {
    val codeCols = (0 until pqM).map(m =>
      s"MAX(CASE WHEN m = $m THEN cid END) AS c$m").mkString(",\n  ")
    s"""WITH $pqSqlChain
       |SELECT vec_id,
       |  $codeCols
       |FROM a3 GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** e13: PQ-ADC search quality contract — asymmetric distance
    * computation: exact query subvectors scored against candidates'
    * CODEBOOK ENTRIES only (the codes are the index; candidate floats are
    * never touched at query time — that is PQ's entire point at scale:
    * the scan reads M code bytes per vector plus a shared K×M codebook).
    * Per-(query, candidate) partial dots accumulate in decimal so both
    * engines assemble identical top-10 sets; the gate is the MEASURED
    * recall@10 vs the exact brute force (e02), reproduced exactly by the
    * oracle. No fixed floor: this corpus is near-isotropic (max pairwise
    * cosine ≈ 0.5), so brute-force top-10 membership is tie-dominated and
    * a coarse sketch cannot promise one — measured recall (0.2-0.6)
    * still sits two orders above the ~10/N random baseline, which is the
    * honest quality statement. */
  def e13PqSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // probe the STORED index (codes + codebook) — no training, no encode
    val cents = pqCodebook(s, dir)
    val xrep = pqCodes(s, dir)
      .join(broadcast(cents), Seq("m", "cid"))
      .select(col("vec_id"), col("m"), col("cvec"), (col("cn") * col("cn"))
        .as("cn2"))
    val qsubs = pqSubvectors(s, dir).filter(col("vec_id") < 5)
      .toDF("qid", "m", "qsv")
    val qnorms = embeddings(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), norm2(col("embedding")).as("qn"))
    val scored = qsubs.join(xrep, Seq("m"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(
        graft.expr.Exprs.dsum(dot(col("qsv"), col("cvec")), 12).as("adot"),
        graft.expr.Exprs.dsum(col("cn2"), 12).as("rn2"))
      .join(broadcast(qnorms), "qid")
      .select(col("qid"), col("vec_id").as("cid"),
        round(col("adot").cast("double") /
          (col("qn") * sqrt(col("rn2").cast("double"))), 4).as("cos_r"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_r").desc, col("cid"))
    val top = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("cid"), lit(1L).as("hit"))
    groundTruthTopK(s, dir)
      .join(top, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg((sum(coalesce(col("hit"), lit(0L))) / 10.0).as("recall"))
      .sortedSmall("qid")
  }

  val e13Oracle: String = {
    val adot = graft.expr.Exprs.dsumSql(
      "list_inner_product(q.sv, x.cv)", 12)
    val rn2 = graft.expr.Exprs.dsumSql(
      "sqrt(list_inner_product(x.cv, x.cv)) * " +
        "sqrt(list_inner_product(x.cv, x.cv))", 12)
    s"""WITH $pqSqlChain,
       |xrep AS (
       |  SELECT a.vec_id, a.m, c.cv
       |  FROM a3 a JOIN c2 c ON c.m = a.m AND c.cid = a.cid),
       |scored AS (
       |  SELECT q.vec_id AS qid, x.vec_id AS cid,
       |    $adot AS adot, $rn2 AS rn2
       |  FROM subs q JOIN xrep x ON x.m = q.m AND x.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5
       |  GROUP BY 1, 2),
       |qn AS (SELECT vec_id AS qid, sqrt(list_inner_product(v, v)) AS qn
       |       FROM e WHERE vec_id < 5),
       |ranked AS (
       |  SELECT s.qid, s.cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY
       |      round(CAST(s.adot AS DOUBLE) /
       |        (qn.qn * sqrt(CAST(s.rn2 AS DOUBLE))), 4) DESC,
       |      s.cid) AS rnk
       |  FROM scored s JOIN qn ON qn.qid = s.qid),
       |pq10 AS (SELECT qid, cid FROM ranked WHERE rnk <= 10),
       |bf AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_cosine_similarity(q.v, c.v), 4) DESC,
       |        c.vec_id) AS rnk
       |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5)
       |  WHERE rnk <= 10),
       |rec AS (
       |  SELECT bf.qid,
       |    SUM(CASE WHEN pq10.cid IS NULL THEN 0 ELSE 1 END) / 10.0
       |      AS recall
       |  FROM bf LEFT JOIN pq10
       |    ON pq10.qid = bf.qid AND pq10.cid = bf.cid
       |  GROUP BY bf.qid)
       |SELECT qid, recall FROM rec ORDER BY qid""".stripMargin
  }

  /** e14: IVF-PQ — the production ANN architecture, composed from the two
    * indexes the engine already trains: IVF cells prune the candidate set
    * (probe the 2 nearest of 16 cells — the scan touches ~1/8 of the
    * corpus), then PQ/ADC scores ONLY those candidates from their 8-byte
    * codes + the shared codebook. At 100 TB this is the query that works:
    * cell assignment is a partition-pruning key, codes are the only
    * per-vector payload read, and every join here is a broadcast of
    * query-side or codebook-side smalls. Output per query: candidate
    * count (the pruning evidence) and measured recall@10 vs exact brute
    * force, both reproduced exactly by the oracle. */
  def e14IvfPqSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (icents, iasg) = ivfModel(s, dir)
    val cells = iasg.select(col("vec_id"), col("cid").as("cell"))
    // probe the STORED PQ index (codes + codebook) — no training/encode
    val pcents = pqCodebook(s, dir)
    val xrep = pqCodes(s, dir)
      .join(broadcast(pcents), Seq("m", "cid"))
      .select(col("vec_id"), col("m"), col("cvec"),
        (col("cn") * col("cn")).as("cn2"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("cid"))
    val probes = embeddings(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .join(broadcast(icents))
      .select(col("qid"), col("cid"),
        (col("cn") * col("cn") - dot(col("qe"), col("cvec")) * 2)
          .as("dist"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 2)
      .select(col("qid"), col("cid").as("cell"))
    // Two consumers (ADC scoring + the n_cands evidence column) would
    // each re-plan the probe→join subtree as separate AQE stages; one
    // eager materialization of the ~k-row candidate list is cheaper.
    val cands = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .persist()
    cands.count()
    val qsubs = pqSubvectors(s, dir).filter(col("vec_id") < 5)
      .toDF("qid", "m", "qsv")
    val qnorms = embeddings(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), norm2(col("embedding")).as("qn"))
    val scored = cands.join(xrep, "vec_id")
      .join(broadcast(qsubs), Seq("qid", "m"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(
        graft.expr.Exprs.dsum(dot(col("qsv"), col("cvec")), 12).as("adot"),
        graft.expr.Exprs.dsum(col("cn2"), 12).as("rn2"))
      .join(broadcast(qnorms), "qid")
      .select(col("qid"), col("vec_id").as("cid"),
        round(col("adot").cast("double") /
          (col("qn") * sqrt(col("rn2").cast("double"))), 4).as("cos_r"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_r").desc, col("cid"))
    val top = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("cid"), lit(1L).as("hit"))
    val nCands = cands.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_cands"))
    groundTruthTopK(s, dir)
      .join(top, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg((sum(coalesce(col("hit"), lit(0L))) / 10.0).as("recall"))
      .join(broadcast(nCands), "qid")
      .select(col("qid"), col("n_cands"), col("recall"))
      .sortedSmall("qid")
  }

  val e14Oracle: String = {
    // IVF chain over full vectors, CTE names prefixed "i" so it composes
    // with the PQ chain (which owns c0/a1/…) in one WITH.
    def idist(v: String, c: String): String =
      s"sqrt(list_inner_product($c, $c)) * sqrt(list_inner_product($c, $c))" +
        s" - list_inner_product($v, $c) * 2"
    def iassign(cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${idist("e.v", "c.cv")} ASC, c.cid ASC) AS rn
         |    FROM e CROSS JOIN $cents c)
         |  WHERE rn = 1)""".stripMargin
    def irecompute(assigned: String, out: String): String =
      s"""$out AS (
         |  SELECT cid, CAST(list(mf ORDER BY pos) AS DOUBLE[]) AS cv FROM (
         |    SELECT cid, pos,
         |      CAST(${graft.expr.Exprs.davgSql("x", 12)} AS FLOAT) AS mf
         |    FROM (SELECT cid, generate_subscripts(v, 1) AS pos,
         |            unnest(v) AS x FROM $assigned)
         |    GROUP BY cid, pos)
         |  GROUP BY cid)""".stripMargin
    val adot = graft.expr.Exprs.dsumSql(
      "list_inner_product(q.sv, x.cv)", 12)
    val rn2 = graft.expr.Exprs.dsumSql(
      "sqrt(list_inner_product(x.cv, x.cv)) * " +
        "sqrt(list_inner_product(x.cv, x.cv))", 12)
    s"""WITH $pqSqlChain,
       |ic0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |${iassign("ic0", "ia1")},
       |${irecompute("ia1", "ic1")},
       |${iassign("ic1", "ia2")},
       |${irecompute("ia2", "ic2")},
       |${iassign("ic2", "ia3")},
       |probes AS (
       |  SELECT qid, cid AS cell FROM (
       |    SELECT e.vec_id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${idist("e.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN ic2 c WHERE e.vec_id < 5)
       |  WHERE rn <= 2),
       |cands AS (
       |  SELECT pr.qid, a.vec_id
       |  FROM ia3 a JOIN probes pr ON pr.cell = a.cid
       |  WHERE a.vec_id <> pr.qid),
       |xrep AS (
       |  SELECT a.vec_id, a.m, c.cv
       |  FROM a3 a JOIN c2 c ON c.m = a.m AND c.cid = a.cid),
       |scored AS (
       |  SELECT cd.qid, cd.vec_id AS cid, $adot AS adot, $rn2 AS rn2
       |  FROM cands cd
       |  JOIN xrep x ON x.vec_id = cd.vec_id
       |  JOIN subs q ON q.vec_id = cd.qid AND q.m = x.m
       |  GROUP BY 1, 2),
       |qn AS (SELECT vec_id AS qid, sqrt(list_inner_product(v, v)) AS qn
       |       FROM e WHERE vec_id < 5),
       |ranked AS (
       |  SELECT s.qid, s.cid,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY
       |      round(CAST(s.adot AS DOUBLE) /
       |        (qn.qn * sqrt(CAST(s.rn2 AS DOUBLE))), 4) DESC,
       |      s.cid) AS rnk
       |  FROM scored s JOIN qn ON qn.qid = s.qid),
       |pq10 AS (SELECT qid, cid FROM ranked WHERE rnk <= 10),
       |nc AS (SELECT qid, COUNT(*) AS n_cands FROM cands GROUP BY qid),
       |bf AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_cosine_similarity(q.v, c.v), 4) DESC,
       |        c.vec_id) AS rnk
       |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5)
       |  WHERE rnk <= 10),
       |rec AS (
       |  SELECT bf.qid,
       |    SUM(CASE WHEN pq10.cid IS NULL THEN 0 ELSE 1 END) / 10.0
       |      AS recall
       |  FROM bf LEFT JOIN pq10
       |    ON pq10.qid = bf.qid AND pq10.cid = bf.cid
       |  GROUP BY bf.qid)
       |SELECT rec.qid, nc.n_cands, rec.recall
       |FROM rec JOIN nc ON nc.qid = rec.qid
       |ORDER BY rec.qid""".stripMargin
  }

  /** e15: embedding near-dup CLUSTERS — the transitive closure of e10's
    * sign-LSH-blocked cosine pairs, labeling every vector with the
    * smallest vec_id in its component (t12's pointer-doubling recipe on
    * the vector side: per round each node takes the min over itself, its
    * neighbors, and its label's label — O(log diameter) rounds of
    * whole-DataFrame joins, localCheckpoint per round to truncate
    * lineage). Completes the semantic-dedup story: pairs (e05/e10) →
    * clusters → keeper election is a trivial filter. */
  def e15EmbeddingClusters(s: SparkSession, dir: String): DataFrame =
    e15Of(embeddings(s, dir).select(col("vec_id"), col("embedding")),
      Some(s -> dir))
      .sortedWide("vec_id")

  /** The per-corpus embedding-cluster assignment, materialized once per
    * JVM — t12's `clusterMap` discipline on the vector side: downstream
    * consumers (e20's keeper election) read the table a production
    * pipeline would keep next to the corpus instead of re-running the
    * closure; e15 itself always runs the closure live. */
  private[ext] def vecClusterMap(s: SparkSession, dir: String): DataFrame =
    Artifacts.materialized(s, "vec_clusters", dir)(
      e15Of(embeddings(s, dir).select(col("vec_id"), col("embedding")),
        Some(s -> dir)))

  private[graft] def e15Of(vecs: DataFrame,
      art: Option[(SparkSession, String)] = None): DataFrame = {
    // The closure runs on the REPRESENTATIVE graph ([[canonVecs]], the t12
    // argument): within-group doc-level edges (cos_r = 1.0 for identical
    // non-zero vectors sharing every sign bucket) only restate that a
    // group is connected; cross-group doc edges exist iff the rep edge
    // exists; reps are group minima, so the component's smallest member
    // is preserved under collapsing. Zero-norm vectors are keyed as
    // singletons (no within-group edges exist for them at doc level).
    val (cv, rp) = lshCosineRepState(vecs, art)
    // Eager checkpoint before the orientation union — it references edges
    // twice, and the lazy rep-pair join upstream would run twice (the t12
    // lesson). For corpus callers the edge list is a pure per-corpus
    // artifact (t12's `lsh_edges` discipline): pair generation is e10's
    // core and is billed there; the closure — THIS query's core — always
    // runs live.
    def buildEdges: DataFrame = rp
      .filter(col("a") =!= col("b")) // group connectivity is the member map
      .select(col("a"), col("b"))
    val edges = art match {
      case Some((s, dir)) =>
        Artifacts.materialized(s, "vec_edges", dir)(buildEdges)
      case None => buildEdges.localCheckpoint()
    }
    val adj = edges.union(edges.select(col("b"), col("a")))
      .toDF("src", "dst")
    var labels = cv.repVecs
      .select(col("vec_id"), col("vec_id").as("lab")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 20) {
      val nbrMin = labels
        .join(adj, labels("vec_id") === adj("src"))
        .groupBy(col("dst")).agg(min(col("lab")).as("nlab"))
      val hooked = labels
        .join(nbrMin, labels("vec_id") === nbrMin("dst"), "left")
        .select(col("vec_id"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab"))
      val byVec = labels
        .select(col("vec_id").as("lv"), col("lab").as("llab"))
      val updated = hooked
        .join(byVec, hooked("lab") === byVec("lv"), "left")
        .select(col("vec_id"),
          least(col("lab"), coalesce(col("llab"), col("lab"))).as("lab"))
        .localCheckpoint()
      rounds += 1
      changed =
        if (rounds < 3) 1L
        else updated.as("u")
          .join(labels.as("l"), "vec_id")
          .filter(col("u.lab") < col("l.lab")).count()
      labels = updated
    }
    // Expand: every vector inherits its representative's component label.
    cv.member.join(labels.toDF("rep", "cluster"), "rep")
      .select(col("vec_id"), col("cluster"))
  }

  val e15Oracle: String =
    """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |  (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END +
      |   CASE WHEN embedding[9] > 0 THEN 4 ELSE 0 END +
      |   CASE WHEN embedding[17] > 0 THEN 2 ELSE 0 END +
      |   CASE WHEN embedding[25] > 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |edges AS (
      |  SELECT x.vec_id AS a, y.vec_id AS b
      |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      |  WHERE round(list_cosine_similarity(x.v, y.v), 4) > 0.4),
      |adj AS (
      |  SELECT a AS src, b AS dst FROM edges
      |  UNION SELECT b, a FROM edges),
      |reach(vec, r) AS (
      |  SELECT src, dst FROM adj
      |  UNION
      |  SELECT reach.vec, adj.dst FROM reach
      |  JOIN adj ON reach.r = adj.src)
      |SELECT v.vec_id,
      |  least(coalesce(MIN(r.r), v.vec_id), v.vec_id) AS cluster
      |FROM embeddings v LEFT JOIN reach r ON v.vec_id = r.vec
      |GROUP BY v.vec_id ORDER BY v.vec_id""".stripMargin

  /** The adaptive sign-LSH width: the smallest b in [4, 16] with
    * n ≤ 32·2^b, i.e. the narrowest bucket id that holds MEAN OCCUPANCY
    * in (16, 32]. Candidate volume is Σ bucket² ≈ 32·n — linear in the
    * corpus, at every scale, because the width grows a bit per corpus
    * doubling (the fixed-width demo knob was measured quadratic: 22.9×
    * pair volume at 10×). Integer ladder, not floating log2, so the
    * DuckDB oracle's replay (a CASE ladder over the same constants) is
    * bit-identical. The refinement property (BucketBitsSpec: buckets at
    * b+1 bits partition buckets at b bits) is what makes the width safe
    * to turn per-corpus: widening only ever SHRINKS candidate sets. */
  private[graft] def adaptiveBits(n: Long): Int =
    (4 to 16).find(b => n <= (32L << b)).getOrElse(16)

  /** e16: kNN-graph construction — top-5 neighbors for EVERY vector
    * (not just the query set), candidates blocked by the e03/e10 sign-LSH
    * bucket at the [[adaptiveBits]] occupancy-held width (n ≤ 512 rides
    * the original 4-bit layout, so the small-SF gates are unchanged):
    * the substrate of graph-based dedup, diversity sampling, and label
    * propagation. The corpus count is a parquet metadata read — a
    * driver-side scalar (codebook discipline), not a data-path collect.
    * Per-source top-k is a row_number window over the bucket-join pair
    * stream — Spark plans it as WindowGroupLimit, so each partition
    * prunes to k rows per source BEFORE the exchange. Pair volume is
    * Σ bucket² ≈ 32·n (the LSH recall trade, same as e10), never n².
    * Singleton-bucket vectors have no candidates and are absent on both
    * engines. */
  def e16KnnGraph(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = adaptiveBits(embeddings(s, dir).count())
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("nrm"), signBucketOf(bits).as("bucket"))
    val a = e.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("cos_r").desc, col("b"))
    a.join(b, Seq("bucket"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("cos_r"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .sortedWide("a", "rnk")
  }

  val e16Oracle: String = {
    // the adaptiveBits ladder as exact integer CASE arms
    val ladder = (4 to 15).map { b =>
      s"WHEN nv <= ${32L << b} THEN $b"
    }.mkString(" ") + " ELSE 16"
    // signBucketOf's bit layout: bit j reads dim 8j+1 for j<8,
    // dim 8(j-8)+5 for j>=8; weight 2^(bits-1-j) for j<bits
    val bucket = (0 until 16).map { j =>
      val d = if (j < 8) 8 * j + 1 else 8 * (j - 8) + 5
      s"CASE WHEN $j < nb.bits AND e0.embedding[$d] > 0 " +
        s"THEN (CAST(1 AS BIGINT) << (nb.bits - 1 - $j)) ELSE 0 END"
    }.mkString(" +\n   ")
    s"""WITH nb AS (SELECT (CASE ${ladder} END) AS bits
       |  FROM (SELECT COUNT(*) AS nv FROM embeddings)),
       |e AS (SELECT e0.vec_id, CAST(e0.embedding AS DOUBLE[]) AS v,
       |  ($bucket) AS bucket
       |  FROM embeddings e0 CROSS JOIN nb),
       |p AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |    round(list_cosine_similarity(x.v, y.v), 4) AS cos_r
       |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT a, b, cos_r,
       |    CAST(row_number() OVER (PARTITION BY a
       |      ORDER BY cos_r DESC, b) AS BIGINT) AS rnk
       |  FROM p)
       |SELECT a, b, cos_r, rnk FROM r WHERE rnk <= 5
       |ORDER BY a, rnk""".stripMargin
  }

  /** e17: e16's kNN graph at the PRODUCTION bucket width — 8 sign bits
    * (256 buckets) instead of the 4-bit demo: the configuration the
    * refinement property says is safe, gated as its own oracle query so
    * the scale path is hash-verified, not just argued. Pair volume per
    * vector drops 16× vs e16 (measured at 10×: the 4-bit graph is
    * quadratic in corpus size, the knob holds bucket population
    * constant); recall falls only for pairs straddling one of the 4
    * added hyperplanes — the standard LSH trade, here made explicit. */
  def e17KnnGraphWide(s: SparkSession, dir: String): DataFrame =
    knnWideArtifact(s, dir).sortedWide("a", "rnk")

  /** The production-width kNN graph as a shared per-corpus artifact
    * ([[Artifacts.materialized]] — built once per JVM, read by the e17
    * gate and every graph consumer: e29's label propagation). A
    * production pipeline computes the kNN graph once and keeps it next
    * to the corpus; rebuilding it per downstream query was exactly the
    * double-build the round-8 artifact sweep hunted. */
  private[ext] def knnWideArtifact(s: SparkSession, dir: String): DataFrame =
    Artifacts.materialized(s, "knn_wide", dir) {
      import org.apache.spark.sql.expressions.Window
      val e = embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          norm2(col("embedding")).as("nrm"), signBucketOf(8).as("bucket"))
      val a = e.select(col("bucket"), col("vec_id").as("a"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("bucket"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val w = Window.partitionBy(col("a"))
        .orderBy(col("cos_r").desc, col("b"))
      a.join(b, Seq("bucket"))
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b"),
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
            .as("cos_r"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
    }

  val e17Oracle: String = {
    val bucket = (0 until 8).map { j =>
      s"CASE WHEN embedding[${8 * j + 1}] > 0 THEN ${1 << (7 - j)} ELSE 0 END"
    }.mkString(" +\n   ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  ($bucket) AS bucket
       |  FROM embeddings),
       |p AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |    round(list_cosine_similarity(x.v, y.v), 4) AS cos_r
       |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT a, b, cos_r,
       |    CAST(row_number() OVER (PARTITION BY a
       |      ORDER BY cos_r DESC, b) AS BIGINT) AS rnk
       |  FROM p)
       |SELECT a, b, cos_r, rnk FROM r WHERE rnk <= 5
       |ORDER BY a, rnk""".stripMargin
  }

  /** e35: the sign-LSH WIDTH tuning curve — the measured basis for the
    * [[adaptiveBits]] ladder, completing the knob-calibration trio
    * (e34 tunes nprobe, t59 tunes bands, e35 tunes bucket bits). For
    * widths 4/8/12 it reports the corpus-wide candidate volume
    * (Σ cnt·(cnt−1) ordered same-bucket pairs, counted IDS-ONLY) against
    * recall@5 measured on a pinned query sample (vec_id % 32 = 0): the
    * fraction of each query's exact top-5 cosine neighbors that share
    * its bucket at that width. Recall needs NO candidate join — the
    * truth pairs carry both bucket ids, so hit-testing is a per-row
    * equality over the top-5 rows. Precision axis in integer ppm (the
    * t59 discipline, engine-exact).
    *
    * Scale shape: truth is sample×corpus (one broadcast of the bounded
    * query sample — |sample| = n/32 rows of ids+vectors — with per-qid
    * top-5 as WindowGroupLimit); volume is three bucket-count
    * aggregations over ids. Nothing is all-pairs.
    *
    * Measured at sf0.01: 4 bits = 15 496 candidate pairs at 15% recall@5,
    * 8 bits = 952 at 1.3%, 12 bits = 52 at 0% — on this near-uniform
    * corpus a SINGLE sign-LSH table buys volume reduction almost
    * entirely with recall, which is exactly why the engine's production
    * ANN paths don't rely on it alone: e06/e07 probe multiple IVF cells
    * (74–84% recall@10, e34's curve) and t07 bands multiple MinHash
    * lanes. The single-table bucket is the CANDIDATE-BLOCKING knob
    * (e10/e16: recall tolerant by design, occupancy is what matters) —
    * this curve is the measurement that says so. */
  /** Query-sample stride: the smallest power of two s ≥ 32 with
    * n ≤ 64·s, so the pinned sample `vec_id % s = 0` holds ≤ 64 queries
    * at EVERY corpus size and the truth stage costs ≤ 64·n dot products
    * — linear, never sample-fraction-quadratic (a fixed 1/32 sample made
    * the truth n²/32: measured 34 s at the 10× replica before this
    * ladder). Same exact-integer-ladder discipline as [[adaptiveBits]];
    * the oracle replays it as a CASE ladder over COUNT(*). */
  private[graft] def sampleStride(n: Long): Long =
    (5 to 20).map(1L << _).find(st => n <= 64L * st).getOrElse(1L << 20)

  def e35BitsCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val widths = Seq(4, 8, 12)
    val stride = sampleStride(embeddings(s, dir).count())
    // e feeds FIVE consumers (the q sample, the truth join's probe side,
    // and one volume aggregation per width); without the persist each
    // branch re-scans the embeddings and recomputes the norm + all three
    // sign buckets per row. Lazy persist, released by per-query
    // clearCache isolation (the t22 tf discipline).
    val e = embeddings(s, dir).select(
      (col("vec_id") +: col("embedding") +: norm2(col("embedding")).as("nrm")
        +: widths.map(b => signBucketOf(b).as(s"b$b"))): _*).persist()
    val q = e.filter(col("vec_id") % stride === 0).select(
      (col("vec_id").as("qid") +: col("embedding").as("qe")
        +: col("nrm").as("qn")
        +: widths.map(b => col(s"b$b").as(s"qb$b"))): _*)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_r").desc, col("nid"))
    val top5 = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select((col("qid") +: col("vec_id").as("nid")
        +: round(dot(col("qe"), col("embedding")) /
            (col("qn") * col("nrm")), 4).as("cos_r")
        +: widths.flatMap(b => Seq(col(s"qb$b"), col(s"b$b")))): _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
    // ONE pass over the (expensive) truth stage: all three widths'
    // hit sums plus n_truth in a single aggregation, unpivoted from the
    // one-row result — re-running the sample×corpus top-5 plan per width
    // tripled the dominant stage for nothing.
    import s.implicits._
    val hitRow = top5.agg(
      count(lit(1)).as("n_truth"),
      widths.map(b =>
        sum(when(col(s"qb$b") === col(s"b$b"), 1L).otherwise(0L))
          .as(s"hit$b")): _*).head()
    val hits = widths.map(b => (b.toLong,
        hitRow.getAs[Long]("n_truth"), hitRow.getAs[Long](s"hit$b")))
      .toDF("bits", "n_truth", "n_hit")
    val vols = widths.map { b =>
      e.groupBy(col(s"b$b")).agg(count(lit(1)).as("c"))
        .agg(lit(b.toLong).as("bits"),
          sum(col("c") * (col("c") - 1)).as("n_candidates"))
    }.reduce(_ unionByName _)
    vols.join(hits, "bits")
      .select(col("bits"), col("n_candidates"), col("n_truth"),
        col("n_hit"),
        expr("1000000 * n_hit div n_truth").as("recall_ppm"))
      .sortedSmall("bits")
  }

  val e35Oracle: String = {
    def bucket(bits: Int, rel: String): String = (0 until bits).map { j =>
      val d = if (j < 8) 8 * j + 1 else 8 * (j - 8) + 5
      s"CASE WHEN $rel.embedding[$d] > 0 " +
        s"THEN ${1L << (bits - 1 - j)} ELSE 0 END"
    }.mkString(" + ")
    val volArms = Seq(4, 8, 12).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS bits, CAST(SUM(c * (c - 1)) AS BIGINT)
         |    AS n_candidates
         |  FROM (SELECT COUNT(*) AS c FROM e GROUP BY b$b)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val hitArms = Seq(4, 8, 12).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS bits, CAST(COUNT(*) AS BIGINT) AS n_truth,
         |  CAST(SUM(CASE WHEN qb$b = b$b THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit FROM t5""".stripMargin
    }.mkString("\n  UNION ALL\n")
    // the sampleStride ladder as exact integer CASE arms
    val strideLadder = (5 to 19).map { k =>
      s"WHEN nv <= ${64L * (1L << k)} THEN ${1L << k}"
    }.mkString(" ") + s" ELSE ${1L << 20}"
    s"""WITH ns AS (SELECT (CASE $strideLadder END) AS s
       |  FROM (SELECT COUNT(*) AS nv FROM embeddings)),
       |e AS (SELECT e0.vec_id, CAST(e0.embedding AS DOUBLE[]) AS v,
       |    ${bucket(4, "e0")} AS b4,
       |    ${bucket(8, "e0")} AS b8,
       |    ${bucket(12, "e0")} AS b12
       |  FROM embeddings e0),
       |q AS (SELECT vec_id AS qid, v AS qv, b4 AS qb4, b8 AS qb8,
       |    b12 AS qb12 FROM e CROSS JOIN ns WHERE vec_id % ns.s = 0),
       |p AS (SELECT q.qid, e.vec_id AS nid,
       |    round(list_cosine_similarity(q.qv, e.v), 4) AS cos_r,
       |    q.qb4, q.qb8, q.qb12, e.b4, e.b8, e.b12
       |  FROM q JOIN e ON e.vec_id <> q.qid),
       |t AS (SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY cos_r DESC, nid) AS rn FROM p),
       |t5 AS (SELECT * FROM t WHERE rn <= 5),
       |vol AS ($volArms),
       |hit AS ($hitArms)
       |SELECT vol.bits, vol.n_candidates, hit.n_truth, hit.n_hit,
       |  1000000 * hit.n_hit // hit.n_truth AS recall_ppm
       |FROM vol JOIN hit ON vol.bits = hit.bits ORDER BY vol.bits""".stripMargin
  }

  /** e37: INCREMENTAL IVF ADD — extend the index without retraining, the
    * production path every vector store runs daily: centroids train on
    * the BASE partition only (vec_id % 5 ≠ 0 — two decimal-exact Lloyd
    * rounds, 16 seeds = the lowest base ids), then the increment
    * (vec_id % 5 = 0) is ASSIGNED to those FROZEN centroids with one
    * broadcast argmin — no Lloyd round touches the base again. The gate
    * emits per-cell (base count, increment count, increment id-sum):
    * the id-sum makes every individual assignment part of the hash (two
    * swapped assignments cannot cancel), and the DuckDB oracle replays
    * the base-only training + frozen add bit-for-bit through the shared
    * CTE chain.
    *
    * Scale shape: the add costs one narrow map over the INCREMENT only
    * (codebook broadcast, argmin partial-aggregated) — at 100 TB the
    * daily index add is O(|new vectors|), the whole point of freezing;
    * re-training stays a scheduled, not per-ingest, event (drift is
    * e32/e33's audit surface). Per-cell BASE occupancy is index
    * METADATA: it rides in the frozen artifact (computed once at freeze
    * time, (cid, n_base) next to the centroids — what a production
    * store keeps in the codebook sidecar), so the gate's base arm is a
    * projection of the artifact, never a re-assignment of the base. */
  def e37IvfIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val frozen = Artifacts.model(s, "ivf_base2", dir) {
      val base = embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 5 =!= 0)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .persist()
      var cents = base.filter(col("vec_id") < 20)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .withColumn("cn", norm2(col("cvec")))
      cents = ivfRecompute(ivfAssign(base, cents)).persist()
      val fin = ivfRecompute(ivfAssign(base, cents)).persist()
      // Freeze-time occupancy: one assignment of the base to the FINAL
      // centroids — the same pass a builder runs to lay out the cells —
      // aggregated to 16 (cid, n_base) rows stored with the codebook.
      val occ = ivfAssign(base, fin)
        .groupBy(col("cid")).agg(count(lit(1)).as("n_base"))
      fin.join(occ, Seq("cid"), "left")
        .select(col("cid"), col("cvec"), col("cn"),
          coalesce(col("n_base"), lit(0L)).as("n_base"))
    }
    val cents = frozen.select(col("cid"), col("cvec"), col("cn"))
    val baseCounts = frozen.select(col("cid"), col("n_base"))
    val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val incAgg = ivfAssign(e.filter(col("vec_id") % 5 === 0), cents)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_inc"),
        sum(col("vec_id")).as("sum_inc_ids"))
    baseCounts.join(incAgg, Seq("cid"), "full")
      .select(col("cid"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_inc"), lit(0L)).as("n_inc"),
        coalesce(col("sum_inc_ids"), lit(0L)).as("sum_inc_ids"))
      .sortedSmall("cid")
  }

  val e37Oracle: String =
    s"""WITH ${ivfAssignCtesFor("WHERE vec_id % 5 <> 0",
         "WHERE vec_id < 20")},
       |inc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |        FROM embeddings WHERE vec_id % 5 = 0),
       |${ivfAssignSql("inc", "c2", "ia")},
       |b AS (SELECT cid, COUNT(*) AS n_base FROM a3 GROUP BY cid),
       |i AS (SELECT cid, COUNT(*) AS n_inc,
       |        CAST(SUM(vec_id) AS BIGINT) AS sum_inc_ids
       |      FROM ia GROUP BY cid)
       |SELECT COALESCE(b.cid, i.cid) AS cid,
       |  COALESCE(b.n_base, 0) AS n_base,
       |  COALESCE(i.n_inc, 0) AS n_inc,
       |  COALESCE(i.sum_inc_ids, 0) AS sum_inc_ids
       |FROM b FULL OUTER JOIN i ON b.cid = i.cid
       |ORDER BY cid""".stripMargin

  /** e38: FILTERED ANN — vector search under a metadata predicate, the
    * shape every production vector store ships ("nearest neighbors
    * WHERE label = X"): each query probes its nprobe=4 nearest IVF
    * cells, the probed cells' members are FILTERED on the query's
    * target label BEFORE ranking (the filter rides the cell scan — at
    * 100 TB the candidate stream shrinks by the predicate's
    * selectivity before any cosine is paid, never after), and the
    * survivors rank to a rounded-cosine top-10. nprobe is doubled vs
    * e06 because filtering thins every cell — the standard
    * filtered-search compensation, priced here and measured by e07's
    * recall-methodology. The oracle replays the same model, probe,
    * filter, and ranking declaratively.
    *
    * Scale shape: codebook broadcast + one semi-filtered scan of the
    * probed cells (cell pruning from the index, label pruning from the
    * predicate — both BEFORE the distance math); the rank is the e02
    * per-query top-k window over candidates only. */
  def e38FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nprobe = 4
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val (cents, asg) = ivfModel(s, dir)
    val assigned = asg
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .withColumn("cnorm", norm2(col("embedding")))
      .persist()
    assigned.count()
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("cid"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        (col("vec_id") * 2).cast("int").as("want"))
      .join(broadcast(cents))
      .select(col("qid"), col("qe"), col("want"), col("cid"),
        (col("cn") * col("cn") - dot(col("qe"), col("cvec")) * 2).as("dist"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qe"), col("want"), col("cid"))
      .withColumn("qnorm", norm2(col("qe")))
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cos_r").desc, col("cid2"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid") &&
        col("label") === col("want")) // the metadata predicate
      .select(col("qid"), col("vec_id").as("cid2"),
        round(dot(col("qe"), col("embedding")) /
          (col("qnorm") * col("cnorm")), 4).as("cos_r"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("cid2").as("nid"), col("cos_r"),
        col("rnk").cast("long").as("rnk"))
      .sortedSmall("qid", "rnk")
  }

  val e38Oracle: String = {
    def dist(v: String, c: String): String = ivfDistSql(v, c)
    s"""WITH $ivfAssignCtes,
       |probes AS (
       |  SELECT qid, qv, want, cid FROM (
       |    SELECT e.vec_id AS qid, e.v AS qv,
       |      CAST(e.vec_id * 2 AS INTEGER) AS want, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dist("e.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c2 c WHERE e.vec_id < 5)
       |  WHERE rn <= 4),
       |p AS (
       |  SELECT p.qid, a.vec_id AS nid,
       |    round(list_inner_product(p.qv, a.v) /
       |      (sqrt(list_inner_product(p.qv, p.qv)) *
       |       sqrt(list_inner_product(a.v, a.v))), 4) AS cos_r
       |  FROM probes p
       |  JOIN a3 a ON a.cid = p.cid AND a.vec_id <> p.qid
       |  JOIN embeddings em ON em.vec_id = a.vec_id
       |    AND em.label = p.want),
       |r AS (
       |  SELECT qid, nid, cos_r,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_r DESC, nid) AS rnk
       |  FROM p)
       |SELECT qid, nid, cos_r, rnk FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("e01_vector_norms", e01VectorNorms, Some(e01Oracle)),
    Q("e02_cosine_topk", e02CosineTopK, Some(e02Oracle)),
    Q("e03_lsh_buckets", e03LshBuckets, Some(e03Oracle)),
    Q("e04_ann_bucketed", e04AnnBucketed, Some(e04Oracle)),
    Q("e05_cosine_dedup", e05CosineDedup, Some(e05Oracle)),
    Q("e06_ann_ivf", e06AnnIvf, Some(e06Oracle)),
    Q("e07_ann_recall", e07AnnRecall, Some(e07Oracle)),
    Q("e08_quantize_int8", e08QuantizeInt8, Some(e08Oracle)),
    Q("e09_quantized_search", e09QuantizedSearch, Some(e09Oracle)),
    Q("e10_lsh_cosine_dedup", e10LshCosineDedup, Some(e10Oracle)),
    Q("e11_random_projection", e11RandomProjection, Some(e11Oracle)),
    Q("e12_pq_encode", e12PqEncode, Some(e12Oracle)),
    Q("e13_pq_search", e13PqSearch, Some(e13Oracle)),
    Q("e14_ivfpq_search", e14IvfPqSearch, Some(e14Oracle)),
    Q("e15_embedding_clusters", e15EmbeddingClusters, Some(e15Oracle)),
    Q("e16_knn_graph", e16KnnGraph, Some(e16Oracle)),
    Q("e17_knn_graph_wide", e17KnnGraphWide, Some(e17Oracle)),
    Q("e35_bits_curve", e35BitsCurve, Some(e35Oracle)),
    Q("e37_ivf_incremental", e37IvfIncremental, Some(e37Oracle)),
    Q("e38_filtered_ann", e38FilteredAnn, Some(e38Oracle)))
}
