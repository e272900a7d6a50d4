package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.tables.Tables._
import graft.functions.Md5Hex.graft_md5
import graft.ops.Out._

/** Third wave of LLM-training-pipeline text operators (t36-t38):
  * count-min-sketch frequency estimation, corpus-trained bigram-LM
  * quality scoring, and per-source corpus capping.
  *
  * Same scale posture as TextOps/TextOps2: the sketch is a constant-size
  * (d×w cells) mergeable summary built from one vocabulary-sized shuffle;
  * the LM scorer touches the bigram stream once and joins against
  * vocabulary-sized count tables; the source cap is one window shuffle
  * keyed on the (bounded-cardinality) source column. All arithmetic is
  * integer-exact so the DuckDB oracle replays every path bit-for-bit.
  */
object TextOps3 {

  private def fanOut(d: DataFrame): DataFrame =
    graft.ops.Par.fanOut(d, "doc_id")

  // --- t36: count-min sketch ------------------------------------------

  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** Row-`r` CMS bucket of a token: first 8 md5 hex chars of a salted
    * key, mod the sketch width — deterministic, engine-portable (same
    * digest, same string compare, same mod in DuckDB). */
  private def cmsBucket(r: Int, tok: Column): Column =
    conv(substring(graft_md5(concat(lit(s"cms$r:"), tok)), 1, 8), 16, 10)
      .cast("long") % CmsWidth

  /** The CMS grid as a single aggregation over a raw token stream —
    * the STREAMING form of the sketch (CmsStreamSpec runs it under
    * Structured Streaming unchanged: one stateful aggregation whose
    * state is the constant-size grid; merging partial grids is the
    * cell-wise addition the partial-agg step already performs). The
    * batch gate (t36) instead aggregates the vocabulary first and
    * hashes once per distinct token — cheaper when a full pass is
    * available; the spec proves both formulations produce the same
    * grid. */
  private[graft] def cmsCellsOf(tokens: DataFrame): DataFrame = {
    val rows = (0 until CmsDepth).map(r =>
      struct(lit(r).as("r"), cmsBucket(r, col("tok")).as("b")))
    tokens
      .select(explode(array(rows: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cell"))
  }

  /** t36: count-min-sketch token frequency estimation — the
    * constant-memory "how often does this token appear" probe a corpus
    * profiler runs without keeping the full vocabulary. The sketch is a
    * d×w grid (4×1024 cells here) of summed counts; a token's estimate
    * is the MIN over its d cells, an overestimate by construction
    * (Cormode & Muthukrishnan: est ≥ exact always; excess bounded by
    * colliding mass).
    *
    * Plan shape at 100 TB: ONE token-count shuffle (vocabulary-sized
    * output — the same aggregation any frequency profile needs), then
    * all sketch work happens on the vocabulary table: 4 hashed copies →
    * a 4096-row cell table that BROADCASTS anywhere. The grid is
    * mergeable across shards/streams by cell-wise addition, which is
    * exactly what the partial-aggregation step does. The probe joins the
    * query tokens' (row,bucket) keys against the broadcast grid — no
    * second pass over the corpus. Determinism makes the sketch
    * REPLAYABLE: the oracle rebuilds the identical grid, so the gate
    * hash-checks est_cnt itself, not just the containment contract;
    * `over_cnt = est - exact ≥ 0` doubles as the in-row guarantee. */
  def t36CmsFrequency(s: SparkSession, dir: String): DataFrame = {
    // The vocabulary table is read three times (grid build, probe set,
    // probe join) — materialized once per corpus as a bounded parquet
    // artifact, not a persist the caller could never release.
    val tokCnt = Artifacts.materialized(s, "cms_tokcnt", dir) {
      fanOut(documents(s, dir))
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    }
    val rows = (0 until CmsDepth).map(r =>
      struct(lit(r).as("r"), cmsBucket(r, col("tok")).as("b")))
    val cells = tokCnt
      .select(col("cnt"), explode(array(rows: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("cnt")).as("cell"))
    // Deterministic probe set: top-20 tokens by (count desc, token asc)
    // — the tiebreak makes the boundary engine-stable.
    val q = tokCnt.orderBy(col("cnt").desc, col("tok")).limit(20)
    q.select(col("tok"), col("cnt"), explode(array(rows: _*)).as("rb"))
      .select(col("tok"), col("cnt"),
        col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("tok"), col("cnt"))
      .agg(min(col("cell")).as("est"))
      .select(col("tok"), col("cnt").as("exact_cnt"),
        col("est").as("est_cnt"), (col("est") - col("cnt")).as("over_cnt"))
      .sortedSmall("tok")
  }

  val t36Oracle: String =
    s"""WITH tc AS (SELECT unnest(string_split(text, ' ')) AS tok
       |            FROM documents),
       |cnt AS (SELECT tok, COUNT(*) AS cnt FROM tc GROUP BY tok),
       |rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
       |cells AS (SELECT rr.r,
       |    CAST(('0x' || substr(md5('cms' || rr.r || ':' || cnt.tok), 1, 8))
       |      AS BIGINT) % $CmsWidth AS b,
       |    CAST(SUM(cnt.cnt) AS BIGINT) AS cell
       |  FROM cnt, rr GROUP BY 1, 2),
       |q AS (SELECT tok, cnt FROM cnt ORDER BY cnt DESC, tok LIMIT 20),
       |probe AS (SELECT q.tok, q.cnt, MIN(cells.cell) AS est
       |  FROM q, rr, cells
       |  WHERE cells.r = rr.r AND cells.b =
       |    CAST(('0x' || substr(md5('cms' || rr.r || ':' || q.tok), 1, 8))
       |      AS BIGINT) % $CmsWidth
       |  GROUP BY 1, 2)
       |SELECT tok, cnt AS exact_cnt, est AS est_cnt, est - cnt AS over_cnt
       |FROM probe ORDER BY tok""".stripMargin

  // --- t37: bigram-LM quality score -----------------------------------

  /** t37: corpus-trained bigram language-model quality score — the
    * CCNet/KenLM-style "how typical is this document of the corpus"
    * filter, integerized. Each document's score is the mean conditional
    * bigram probability in ppm: mean over its bigrams of
    * `1e6 · c(w1 w2) / c(w1 ·)` (floor division) — high for documents
    * made of common continuations, low for ones full of rare
    * transitions. Integer-exact end-to-end, so the oracle replays it.
    *
    * Plan: bigrams are built FLAT after the posexplode (the t32 recipe —
    * `element_at` in the projection stays inside whole-stage codegen,
    * never in an interpreted HOF lambda). The stream is persisted once
    * and feeds three consumers: the bigram-count table, the
    * prefix-count table, and the per-doc aggregation. Both count tables
    * are vocabulary-sized (bounded by distinct word pairs, not corpus
    * rows) and broadcast back; at 100 TB they become shuffle joins on
    * (w1,w2)/(w1) — same plan, bigger exchange. Documents shorter than
    * two tokens have no bigrams and (like the oracle) drop out. */
  /** The corpus-sized (doc_id, w1, w2) bigram stream — built flat after
    * the posexplode (the t32 recipe: `element_at` in the projection stays
    * inside whole-stage codegen, never in an interpreted HOF lambda). */
  private[ext] def bigramStream(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 2)).as("i"))
      .select(col("doc_id"),
        element_at(col("t"), col("i") + 1).as("w1"),
        element_at(col("t"), col("i") + 2).as("w2"))

  /** The vocabulary-sized bigram count table c(w1 w2) as a per-corpus
    * artifact — the trained state of every corpus LM (t37's MLE score,
    * t53's Kneser-Ney score), shared so each consumer pays one corpus
    * scan for its own per-doc join and reads the model from parquet.
    * Prefix/continuation tables are marginals of this one table. */
  private[ext] def bigramCounts(s: SparkSession, dir: String): DataFrame =
    Artifacts.materialized(s, "bigram_counts", dir)(
      bigramStream(fanOut(documents(s, dir)))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))

  def t37LmScore(s: SparkSession, dir: String): DataFrame = {
    val c2 = bigramCounts(s, dir)
    // The prefix table is the bigram table's marginal: c(w1 ·) = Σ_w2
    // c(w1 w2) — derived from the (vocabulary-sized) c2 instead of a
    // second pass over the corpus-sized bigram stream.
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    // With the counts coming from the artifact, the corpus-sized stream
    // has exactly one consumer: scan → broadcast joins → per-doc agg in
    // one pipelined pass, nothing persisted.
    bigramStream(fanOut(documents(s, dir)))
      .join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .select(col("doc_id"), expr("c2 * 1000000 div c1").as("p_ppm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("score_ppm"))
      .sortedWide("doc_id")
  }

  val t37Oracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
      |           FROM documents),
      |g AS (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
      |      FROM d WHERE len(t) >= 2),
      |b AS (SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2 FROM g),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM b GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
      |p AS (SELECT b.doc_id, (c2.c2 * 1000000) // c1.c1 AS p_ppm
      |      FROM b, c2, c1
      |      WHERE b.w1 = c2.w1 AND b.w2 = c2.w2 AND b.w1 = c1.w1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS score_ppm
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- t38: per-source corpus cap -------------------------------------

  /** t38: per-source capping — the RefinedWeb/C4-style guard against any
    * single domain dominating the training mix: keep at most K documents
    * per source, chosen by a salted content-independent hash (a
    * deterministic random sample, not a doc_id-prefix bias), doc_id as
    * the total-order tiebreak. Output carries the source's total so the
    * kept/dropped ratio is auditable.
    *
    * One shuffle keyed on source; both window functions (rank + count)
    * reuse the same exchange. Exact-K needs the per-source sort — at
    * 100 TB, where a single source can be petabytes, the two-pass
    * expected-K variant is the scale path: broadcast per-source rates
    * and keep rows whose hash lands under K/n(source), exactly t25's
    * stratified-sample shape, no per-source sort at all. */
  def t38SourceCap(s: SparkSession, dir: String): DataFrame = {
    val cap = 15
    val ord = graft_md5(concat(lit("cap:"), col("doc_id").cast("string")))
    val bySrc = Window.partitionBy(col("source"))
    documents(s, dir)
      .select(col("doc_id"), col("source"),
        row_number().over(bySrc.orderBy(ord, col("doc_id")))
          .cast("long").as("rk"),
        count(lit(1)).over(bySrc).as("src_n"))
      .filter(col("rk") <= cap)
      .sortedWide("doc_id")
  }

  val t38Oracle: String =
    """WITH r AS (SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY source) AS src_n
      |  FROM documents)
      |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk, src_n
      |FROM r WHERE rk <= 15 ORDER BY doc_id""".stripMargin

  // --- t39: winnowing fingerprints ------------------------------------

  private val WinK = 4  // gram width (tokens)
  private val WinW = 5  // window width (grams)
  private val PosBase = 1048576L // 2^20: (hash,pos) packed as one long

  /** t39: winnowing fingerprint selection (Schleimer/Wilkerson/Aiken —
    * the MOSS scheme, used for substring-level corpus dedup à la The
    * Stack): hash every word 4-gram, then in each sliding window of 5
    * consecutive gram hashes keep the minimum. The selection guarantee:
    * any run of ≥ w+k−1 = 8 shared tokens between two documents yields
    * at least one SHARED fingerprint, while only ~2/(w+1) of grams are
    * kept — a contract an every-wth-gram sampler cannot make
    * (WinnowingSpec proves both halves on crafted twins).
    *
    * Ties inside a window break to the SMALLEST POSITION by packing
    * (hash, pos) into one long (hash·2^20 + pos) and taking the min —
    * winnowing's "rightmost" convention flipped to leftmost, chosen so
    * the packed-long min is the whole tiebreak (one integer min, no
    * struct compare; identical in DuckDB). pos < 2^20 is guaranteed
    * upstream by chunking (t19 caps segments at 40 tokens; any corpus
    * that skips chunking must widen the base).
    *
    * Plan: grams built flat after the posexplode (codegen), ONE shuffle
    * keyed on doc_id for the two same-partition window passes (count +
    * sliding min share the exchange), then distinct on the selected
    * keys. Per-doc work is linear; at 100 TB this is the same
    * doc-partitioned narrow pipeline as t30's segment dedup. */
  def t39Winnowing(s: SparkSession, dir: String): DataFrame =
    winnowTransform(fanOut(documents(s, dir)))
      .sortedWide("doc_id", "pos")

  /** The stateless winnowing selection behind t39 — public for the spec,
    * which replays it on crafted twins against an in-memory reference. */
  private[graft] def winnowTransform(docs: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id"))
    val gram = concat_ws(" ",
      (0 until WinK).map(j => element_at(col("t"), col("i") + j + 1)): _*)
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= WinK)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - WinK)).as("i"))
      // The (hash,pos) packing below aliases position bits into the hash
      // once pos reaches PosBase — and both engines would agree on the
      // aliased values, so the oracle could never catch it. Fail loudly
      // at the first oversized document instead of relying on upstream
      // chunking by convention. (assert_true returns NULL on pass, so the
      // filter keeps every row; a violation throws mid-scan.)
      .filter(assert_true(col("i") < lit(PosBase),
        lit(s"winnowing: per-doc gram position >= $PosBase (2^20); " +
          "chunk documents (t19) before winnowing or widen PosBase"))
        .isNull)
      .select(col("doc_id"), col("i").cast("long").as("pos"),
        conv(substring(graft_md5(gram), 1, 8), 16, 10).cast("long").as("hv"))
    grams
      .withColumn("ng", count(lit(1)).over(byDoc))
      .withColumn("selkey",
        min(col("hv") * PosBase + col("pos"))
          .over(byDoc.orderBy(col("pos"))
            .rowsBetween(Window.currentRow, WinW - 1)))
      .filter(col("pos") <= col("ng") - WinW)
      .select(col("doc_id"), col("selkey")).distinct()
      .select(col("doc_id"),
        (col("selkey") % PosBase).as("pos"),
        expr(s"selkey div $PosBase").as("hash"))
  }

  /** DuckDB CTE chain producing the winnowing fingerprints
    * `f(doc_id, selkey)` — shared by the t39 and t40 oracles. */
  private val winnowSql: String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS t
       |           FROM documents),
       |g AS (SELECT doc_id, t, unnest(range(0, len(t) - ${WinK - 1})) AS i
       |      FROM d WHERE len(t) >= $WinK),
       |h AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    CAST(('0x' || substr(md5(
       |      t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' || t[i + 4]
       |    ), 1, 8)) AS BIGINT) AS hv
       |  FROM g),
       |k AS (SELECT doc_id, pos,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS ng,
       |    MIN(hv * $PosBase + pos) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS selkey
       |  FROM h),
       |f AS (SELECT DISTINCT doc_id, selkey FROM k WHERE pos <= ng - $WinW)""".stripMargin

  val t39Oracle: String =
    s"""WITH $winnowSql
       |SELECT doc_id, selkey % $PosBase AS pos, selkey // $PosBase AS hash
       |FROM f ORDER BY doc_id, pos""".stripMargin

  // --- t40: winnowing candidate pairs ---------------------------------

  /** t40: cross-document candidate pairs from the t39 fingerprints — the
    * selection's actual use (The Stack's substring-level dedup): two
    * documents sharing ≥2 fingerprint HASHES (positions ignored —
    * matches may sit anywhere) are candidate overlaps for verification.
    * Same scale discipline as t23: candidates come from an equi-join on
    * the fingerprint hash, never all-pairs, and stop-fingerprints
    * (hashes present in >10% of documents — boilerplate runs shared by
    * everything) are capped OUT of the join before the fanout happens,
    * the df-cap prefix-filter role. The winnowing guarantee makes the
    * candidate set COMPLETE for runs ≥ w+k−1 tokens whose fingerprints
    * survive the cap.
    *
    * Duplication posture: exact duplicates are canonicalized away
    * before the pair join and expanded back after it ([[Canon]], the
    * t23/t07 discipline) — a corpus where each doc has k exact copies
    * would otherwise multiply candidate volume by k² with no new
    * information (measured here: the naive form ran 56.9 s on the 100×
    * replica vs 3.8 s at 10×). The oracle stays the naive full-corpus
    * computation; collapsing is output-exact because fingerprint sets
    * are a pure function of the text. */
  def t40WinnowPairs(s: SparkSession, dir: String): DataFrame =
    winnowPairsOf(s, fanOut(documents(s, dir)), Some(dir))
      .sortedWide("a", "b")

  /** The canonicalized pair pipeline behind t40 — public for the spec,
    * which proves it equal to the naive all-docs form on a corpus WITH
    * exact duplicates (the gate corpus has none, so the oracle alone
    * would leave the collapse/expand path unexercised). */
  private[graft] def winnowPairsOf(
      s: SparkSession, docs: DataFrame,
      artifactDir: Option[String] = None): DataFrame = {
    // Exact duplicates collapse to representatives BEFORE the pair join
    // (Canon): fingerprint sets are a pure function of the text, so a
    // k-copy group's k² internal pairs move into the output-bound
    // membership expansion. df and n_docs stay FULL-corpus (each group
    // weighs grp_n), matching the naive oracle exactly.
    //
    // The tagging shuffle is GATED on a measured duplicate count (the
    // t26 discipline): on a dup-free corpus (the gate corpus) the
    // identity member map costs nothing and the pipeline degenerates to
    // the naive form (measured: 5.3 → 2.3 s at sf0.1), while any real
    // duplication pays one window shuffle to dodge the k² (measured:
    // naive 56.9 s vs canonical 8.9 s on the 100× replica).
    // No persist on the raw docs: the dup probe reads (md5-of-text)
    // once and the column-pruned parquet re-scan for the main pipeline
    // is cheaper than materializing the full text column.
    val d = docs.select(col("doc_id"), col("text"))
    val dup = d.agg((count(lit(1)) -
      countDistinct(graft_md5(col("text")))).as("nd"))
      .collect()(0).getLong(0) > 0
    // Registry calls (artifactDir set) materialize the tagging as a
    // per-corpus parquet artifact — several subtrees plus the final
    // expand read it, and an artifact (unlike a persist) needs no
    // release after this function returns its lazy plan. Spec calls
    // (None, synthetic micro-corpora) recompute the tag window per
    // subtree instead of caching — persists taken here could only be
    // released after the CALLER's action, i.e. never.
    val cache = artifactDir.nonEmpty
    val tagged = if (dup) artifactDir match {
      case Some(dir) => Artifacts.materialized(s, "winnow_tagged", dir)(
        Canon.tagReps(d, graft_md5(col("text")), "doc_id"))
      case None => Canon.tagReps(d, graft_md5(col("text")), "doc_id")
    } else d.withColumn("rep", col("doc_id"))
    val member = tagged.select(col("doc_id"), col("rep"))
    val grpSz = tagged.groupBy(col("rep")).agg(count(lit(1)).as("grp_n"))
    // The capped fingerprint posting (winnowTransform is the family's
    // dominant cost) and the qualifying rep-pair list are pure per-corpus
    // artifacts — materialized once per suite run for registry calls
    // (Artifacts); spec calls with synthetic corpora stay in-session.
    // Build-scoped persists (posting, kept) live only while the artifact
    // writes execute inside THIS function and are released before it
    // returns — the lazy plan handed back references only the parquet
    // artifacts, never the caches.
    val buildCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    def buildKept: DataFrame = {
      val posting0 = winnowTransform(
        tagged.filter(col("doc_id") === col("rep"))
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("hash")).distinct()
        .join(broadcast(grpSz.withColumnRenamed("rep", "doc_id")), "doc_id")
      val posting =
        if (cache) { val p = posting0.persist(); buildCaches += p; p }
        else posting0
      val nDocs = posting.select(col("doc_id"), col("grp_n")).distinct()
        .agg(sum(col("grp_n")).as("n_docs"))
      val hdf = posting.groupBy(col("hash")).agg(sum(col("grp_n")).as("df"))
      posting
        .join(broadcast(hdf), "hash")
        .crossJoin(broadcast(nDocs))
        .filter(col("df") * 10 <= col("n_docs"))
        .select(col("doc_id"), col("hash"))
    }
    val kept0 = (artifactDir match {
      case Some(dir) =>
        Artifacts.materialized(s, "winnow_kept", dir)(buildKept)
      case None => buildKept
    })
      .repartition(s.sparkContext.defaultParallelism, col("hash"))
    val kept =
      if (cache) { val k = kept0.persist(); buildCaches += k; k }
      else kept0
    // a <= b keeps the diagonal: a rep self-pair carries n_shared =
    // |kept(rep)| — exactly each twin pair's shared-fingerprint count.
    // Singleton-group diagonals expand to nothing but would dominate the
    // rep-pair list, so they are dropped here (Canon's contract).
    def buildRepPairs: DataFrame = kept.toDF("ra", "hash")
      .join(kept.toDF("rb", "hash"), "hash")
      .filter(col("ra") <= col("rb"))
      .groupBy(col("ra"), col("rb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .join(broadcast(grpSz.toDF("ra", "grp_n")), "ra")
      .filter(col("ra") =!= col("rb") || col("grp_n") >= 2)
      .select(col("ra"), col("rb"), col("n_shared"))
    val repPairs = artifactDir match {
      case Some(dir) =>
        Artifacts.materialized(s, "winnow_pairs", dir)(buildRepPairs)
      case None => buildRepPairs
    }
    // both artifacts are on disk by here — release the build caches
    buildCaches.foreach(_.unpersist())
    Canon.expandPairs(repPairs, member)
  }

  val t40Oracle: String =
    s"""WITH $winnowSql,
       |fp AS (SELECT DISTINCT doc_id, selkey // $PosBase AS hash FROM f),
       |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM fp),
       |hdf AS (SELECT hash, COUNT(*) AS df FROM fp GROUP BY hash),
       |kept AS (SELECT fp.doc_id, fp.hash FROM fp, hdf, n
       |         WHERE fp.hash = hdf.hash AND hdf.df * 10 <= n.n_docs)
       |SELECT ka.doc_id AS a, kb.doc_id AS b, COUNT(*) AS n_shared
       |FROM kept ka, kept kb
       |WHERE ka.hash = kb.hash AND ka.doc_id < kb.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY a, b""".stripMargin

  // --- t41: leakage-safe train/holdout split ---------------------------

  /** t41: near-dup-aware train/holdout split. t14's per-document hash
    * split is reproducible but LEAKS: near-duplicate documents land on
    * both sides, so held-out metrics are measured on (near-)training
    * data — the eval-contamination mode that survives even a perfectly
    * deduplicated pipeline when dedup runs AFTER splitting. The fix is to
    * assign the split at the CLUSTER level: the bucket hash is computed
    * on t12's connected-component label (transitive closure over the
    * verified LSH pairs) and every member inherits it, so no near-dup
    * family ever straddles the split. 90/10 here; the knob is the
    * bucket threshold, exactly as t14.
    *
    * Scale: one map stage over the t12 cluster map — the closure itself
    * is the t12 cost (O(log diameter) pointer-doubling rounds), and a
    * production pipeline computes that map once per corpus snapshot and
    * keys every split/dedup decision off it. The split column is a pure
    * function of (cluster label), so it is stable across runs, machines
    * and engines — the t14 reproducibility property, now leak-free
    * (LeakageSplitSpec proves the contrast on a corpus where the
    * per-document hash demonstrably splits a duplicate family). */
  private def t41SplitOf(clusters: DataFrame): DataFrame = {
    val bucket = conv(substring(
      graft_md5(concat(lit("csplit:"), col("cluster").cast("string"))), 1, 8),
      16, 10).cast("long") % 100
    clusters.select(col("doc_id"), col("cluster"),
      when(bucket < 90, "train").otherwise("heldout").as("split"))
  }

  private[graft] def t41Of(docs: DataFrame): DataFrame =
    t41SplitOf(TextOps.t12Of(docs))

  def t41LeakageSafeSplit(s: SparkSession, dir: String): DataFrame =
    // Downstream consumer of the materialized cluster map (the t17
    // discipline): the split is keyed off the corpus's cluster
    // assignment table, not a fresh closure.
    t41SplitOf(TextOps.clusterMap(s, dir)).sortedWide("doc_id")

  val t41Oracle: String =
    s"""WITH clusters AS (${TextOps.t12Oracle})
       |SELECT doc_id, cluster,
       |  CASE WHEN CAST(('0x' || substr(
       |      md5('csplit:' || CAST(cluster AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 100 < 90
       |    THEN 'train' ELSE 'heldout' END AS split
       |FROM clusters ORDER BY doc_id""".stripMargin

  // --- t42: content-defined chunking dedup ------------------------------

  /** Tokens-per-chunk divisor: a token opens a new chunk when its salted
    * hash ≡ 0 (mod CdcDiv), so chunks average CdcDiv tokens. */
  private val CdcDiv = 16

  /** t42: content-defined chunking + chunk-level dedup — the
    * storage-dedup/long-document recipe (gear/FastCDC family, Xia et al.
    * 2016) at token granularity. Chunk boundaries are a pure function of
    * LOCAL content (a token opens a chunk when its salted hash lands in
    * 1/CdcDiv of the space), so unlike t30's fixed-offset segments an
    * insertion near a document's head shifts only the chunk it lands in —
    * downstream chunks re-align and still dedup against other copies.
    * Output per document: chunk count, token mass, chunks whose content
    * appears in ≥2 distinct documents, and the shared ratio (ppm) — the
    * cross-document boilerplate signal at chunk granularity.
    *
    * Plan shape at 100 TB: boundary flags are map-side (one hash per
    * token, codegen'd — the posexplode/element_at recipe, no interpreted
    * HOF); chunk ids are a running sum in one doc_id-keyed window (the
    * exchange is partitionable by doc — no global sort); chunk content
    * shuffles by (doc, chunk) once; the document-frequency table is
    * chunk-vocabulary-sized and the join back is equi-keyed on the chunk
    * digest. Never all-pairs, never corpus × corpus. */
  def t42CdcChunks(s: SparkSession, dir: String): DataFrame =
    t42Of(fanOut(documents(s, dir)))

  /** The (doc_id, chunk_id, n_toks, h) chunk table — the CDC segmentation
    * itself, exposed for the shift-robustness spec. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    val cut = when(
      conv(substring(graft_md5(concat(lit("cdc:"), col("tok"))), 1, 8),
        16, 10).cast("long") % CdcDiv === 0, 1L).otherwise(0L)
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "tok")
      .withColumn("cutf", cut)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tok
      .withColumn("chunk_id", sum(col("cutf")).over(w))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_toks"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")),
          " ").as("ctext"))
      .select(col("doc_id"), col("chunk_id"), col("n_toks"),
        substring(graft_md5(col("ctext")), 1, 16).as("h"))
  }

  private[graft] def t42Of(docs: DataFrame): DataFrame = {
    // chunks feeds TWO consumers (the df broadcast and the join-back);
    // without the persist the whole segmentation subtree — explode over
    // every token, doc-keyed window, collect_list re-assembly — planned
    // and EXECUTED twice (the r16 before-plan shows the duplicated
    // Scan→Generate→Window→ObjectHashAggregate pipeline under both
    // branches). Lazy persist, released by per-query clearCache isolation
    // (the t22 tf discipline).
    val chunks = cdcChunksOf(docs).persist()
    val df = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("docs"))
    chunks.join(df, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_tokens"),
        col("n_shared"),
        expr("n_shared * 1000000 div n_chunks").as("shared_ppm"))
      .sortedWide("doc_id")
  }

  val t42Oracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
       |           FROM documents),
       |tok AS (SELECT doc_id, i AS pos, t[i] AS tok
       |        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
       |              FROM d)),
       |cf AS (SELECT doc_id, pos, tok,
       |    CASE WHEN CAST(('0x' || substr(md5('cdc:' || tok), 1, 8))
       |        AS BIGINT) % $CdcDiv = 0 THEN 1 ELSE 0 END AS cutf
       |  FROM tok),
       |cid AS (SELECT doc_id, pos, tok,
       |    SUM(cutf) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
       |  FROM cf),
       |chunks AS (SELECT doc_id, chunk_id, COUNT(*) AS n_toks,
       |    substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 16) AS h
       |  FROM cid GROUP BY doc_id, chunk_id),
       |df AS (SELECT h, COUNT(*) AS docs
       |  FROM (SELECT DISTINCT doc_id, h FROM chunks) GROUP BY h)
       |SELECT c.doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(c.n_toks) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(*) FILTER (WHERE df.docs >= 2) AS BIGINT) AS n_shared,
       |  (CAST(COUNT(*) FILTER (WHERE df.docs >= 2) AS BIGINT) * 1000000)
       |    // COUNT(*) AS shared_ppm
       |FROM chunks c JOIN df ON df.h = c.h
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // --- t43: graph centrality over the near-dup graph --------------------

  private val PrIters = 5

  /** t43: PageRank-style centrality over the doc-level near-dup graph
    * (t07's banded LSH candidates at t12's 0.875 threshold) — the
    * graph-based importance weight corpus curation uses to pick canonical
    * representatives and down-weight boilerplate hubs: a document heavily
    * connected into a near-dup neighborhood concentrates rank; isolated
    * documents settle at the damping floor. Integerized (rank in ppm of
    * one document's mass, floor division at every step) so five exact
    * iterations replay identically in both engines.
    *
    * Plan shape at 100 TB: the edge list comes from banded candidate
    * generation (equi-join on band buckets — never all-pairs) and each
    * iteration is one equi-join of the rank table against the
    * degree-annotated adjacency plus one keyed aggregation — the textbook
    * distributed PageRank step, O(edges) per round, driver holds nothing.
    * Unlike t12's closure (converges by pointer doubling), rank needs a
    * FIXED iteration count to be deterministic — 5 here, unrolled in the
    * oracle. */
  def t43GraphRank(s: SparkSession, dir: String): DataFrame = {
    val (member, grpSz, repEdges) = TextOps.repGraphState(s, dir)
    t43Core(member, grpSz, repEdges).sortedWide("doc_id")
  }

  /** Rank propagation on the REPRESENTATIVE graph. The doc-level graph is
    * the blow-up of the rep graph by group multiplicity: every member of
    * a duplicate group has the IDENTICAL neighborhood (the within-group
    * clique plus all members of adjacent groups), so by symmetry all
    * members carry equal rank and degree at every round, and the
    * doc-level update collapses exactly — including the floor divisions:
    * a member of A receives (m_A−1)·(r_A div deg_A) from its own clique
    * plus Σ_B m_B·(r_B div deg_B) from adjacent groups, each term a sum
    * of identical integers. GraphRankSpec proves equality against the
    * doc-level reference on a duplicated corpus. The point is scale: a
    * k-way-duplicated corpus has k² doc edges per rep edge (measured:
    * doc-level t43 63 s at the 100× replica), while rep-level work
    * tracks distinct content. */
  private[graft] def t43Core(member: DataFrame, grpSz: DataFrame,
      repEdges: DataFrame): DataFrame = {
    val m = grpSz.toDF("g", "m")
    val cross = repEdges.filter(col("a") =!= col("b"))
    val crossAdj = cross.union(cross.select(col("b"), col("a")))
      .toDF("g", "nbr")
    // WEIGHTED adjacency: a rep edge (g, nbr) stands for m_nbr doc edges
    // into each member of g, and a diagonal row stands for the group's
    // internal clique — (m−1) edges into each member. Folding the
    // multiplicities into static edge weights makes every round ONE join
    // + ONE aggregation, the same shape as the naive doc-level loop.
    val adjW = crossAdj.join(m.toDF("nbr", "w"), "nbr")
      .select(col("g"), col("nbr"), col("w"))
      .union(repEdges.filter(col("a") === col("b"))
        .join(m, repEdges("a") === m("g"))
        .select(col("g"), col("g").as("nbr"), (col("m") - 1).as("w")))
      .localCheckpoint() // consumed by every round + the degree rollup
    // Member degree = total incident doc-edge weight.
    val degG = adjW.groupBy(col("g")).agg(sum(col("w")).as("deg"))
      .localCheckpoint()
    val allG = m.select(col("g"))
    // Rank chains LAZILY: each r feeds exactly one consumer (the next
    // round), so the five rounds fuse into one job instead of five eager
    // checkpoint waves (measured at sf0.1: 5.3 s eager → 3.8 s chained;
    // the rep-level collapse then bounds duplicated corpora — the 100×
    // replica's doc-level loop took 63 s on k² blown-up edges). Contrast
    // t12, whose labels feed a fixpoint count AND the next round — there
    // materialization is forced by the double consumer.
    var r = allG.select(col("g"), lit(1000000L).as("r"))
    (1 to PrIters).foreach { _ =>
      val u = r.join(degG, "g")
        .select(col("g").as("nbr"), expr("r div deg").as("u"))
      val inMass = adjW.join(u, "nbr")
        .select(col("g"), (col("w") * col("u")).as("c"))
        .groupBy(col("g")).agg(sum(col("c")).as("s"))
      r = allG
        .join(inMass, Seq("g"), "left")
        .select(col("g"),
          (lit(150000L) +
            expr("85 * coalesce(s, 0L) div 100")).as("r"))
    }
    member.select(col("doc_id"), col("rep").as("g"))
      .join(degG, Seq("g"), "left")
      .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"),
        col("g"))
      .join(r, "g")
      .select(col("doc_id"), col("deg"), col("r").as("rank_ppm"))
  }

  /** Doc-level reference (the blow-up-graph formulation) — kept for
    * GraphRankSpec's equivalence proof on a duplicated corpus; never the
    * registry path. */
  private[graft] def naiveGraphRank(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val edges = TextOps.t07Of(docs)
      .filter(col("jaccard_est") >= 0.875)
      .select(col("a"), col("b"))
    val adj = edges.union(edges.select(col("b"), col("a")))
      .toDF("src", "dst")
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adjDeg = adj.join(deg, "src").localCheckpoint()
    var r = ids.select(col("doc_id"), lit(1000000L).as("r"))
    (1 to PrIters).foreach { _ =>
      val inMass = r.join(adjDeg, r("doc_id") === adjDeg("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = ids
        .join(inMass, ids("doc_id") === inMass("dst"), "left")
        .select(col("doc_id"),
          (lit(150000L) +
            expr("85 * coalesce(s, 0L) div 100")).as("r"))
    }
    val degOut = adjDeg.select(col("src"), col("deg")).distinct()
    ids
      .join(degOut, ids("doc_id") === degOut("src"), "left")
      .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"))
      .join(r, "doc_id")
      .select(col("doc_id"), col("deg"), col("r").as("rank_ppm"))
  }

  val t43Oracle: String = {
    val steps = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT d.doc_id,
         |    150000 + (85 * COALESCE(m.s, 0)) // 100 AS r
         |  FROM docs d LEFT JOIN (
         |    SELECT adj.dst AS doc_id,
         |      CAST(SUM(r${k - 1}.r // deg.deg) AS BIGINT) AS s
         |    FROM adj JOIN r${k - 1} ON r${k - 1}.doc_id = adj.src
         |    JOIN deg ON deg.src = adj.src
         |    GROUP BY adj.dst) m ON m.doc_id = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e7 AS (${TextOps.t07Oracle}),
       |edges AS (SELECT a, b FROM e7 WHERE jaccard_est >= 0.875),
       |adj AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b, a FROM edges),
       |deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
       |docs AS (SELECT doc_id FROM documents),
       |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM docs),
       |$steps
       |SELECT d.doc_id, COALESCE(deg.deg, 0) AS deg,
       |  CAST(r$PrIters.r AS BIGINT) AS rank_ppm
       |FROM docs d LEFT JOIN deg ON deg.src = d.doc_id
       |JOIN r$PrIters ON r$PrIters.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // --- t44: temperature-scaled mixture weights --------------------------

  /** t44: α-temperature mixture reweighting (α = 0.5, the Pile/ROOTS/
    * multilingual-LM recipe): per source, the natural token share and the
    * temperature-flattened share w_i ∝ p_i^α that up-samples small
    * sources without letting any source dominate, plus the token quota
    * each source gets under a fixed training budget. Determinism across
    * engines: the only float steps are sqrt and two divisions in a FIXED
    * order; per-source weights are rounded to 9dp and normalized by their
    * exact decimal sum, so both engines walk identical IEEE sequences.
    *
    * Plan: one corpus aggregation keyed on the (bounded-cardinality)
    * source column; the total and the normalizer are 1-row broadcasts —
    * at 100 TB the corpus scan is the whole cost and everything after it
    * is constant-size. */
  def t44TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val perSrc = fanOut(documents(s, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("tot"))
    val scored = perSrc.crossJoin(broadcast(tot))
      .withColumn("w",
        round(sqrt(col("n_tokens").cast("double") / col("tot")), 9))
    val nrm = scored.agg(
      graft.expr.Exprs.dsum(col("w"), 9).as("norm"))
    scored.crossJoin(broadcast(nrm))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000 div tot").as("nat_ppm"),
        floor(col("w") / col("norm") * lit(1000000.0)).cast("long")
          .as("temp_ppm"),
        floor(lit(100000.0) * col("w") / col("norm")).cast("long")
          .as("quota_tokens"))
      .sortedSmall("source")
  }

  val t44Oracle: String =
    """WITH d AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM d),
      |w AS (SELECT d.*, t.tot,
      |        round(sqrt(CAST(n_tokens AS DOUBLE) / t.tot), 9) AS w
      |      FROM d, t),
      |nrm AS (SELECT CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE) AS norm
      |        FROM w)
      |SELECT source, n_docs, n_tokens,
      |  (n_tokens * 1000000) // tot AS nat_ppm,
      |  CAST(floor(w / nrm.norm * 1000000.0) AS BIGINT) AS temp_ppm,
      |  CAST(floor(100000.0 * w / nrm.norm) AS BIGINT) AS quota_tokens
      |FROM w, nrm ORDER BY source""".stripMargin

  // --- t45: greedy longest-prefix (WordPiece-style) tokenization --------

  private val VocabK = 10

  /** t45: greedy longest-prefix tokenization — the WordPiece/BPE-apply
    * decomposition, DataFrame-native: a corpus-derived vocabulary (top-K
    * words by frequency, deterministic tiebreak) tokenizes every word by
    * repeatedly stripping the longest matching vocabulary prefix; a
    * character with no match consumes as one UNK. Per document: word
    * count, piece count, UNK chars, and fertility (pieces per word, ppm)
    * — the tokenizer-health metric data pipelines track per corpus
    * slice.
    *
    * Plan shape: tokenization runs on DISTINCT words only (the canon
    * discipline — word instances join the result back), each stripping
    * round is one broadcast prefix-join + per-word argmax over a
    * vocabulary that is TINY by construction, and rounds are bounded by
    * max word length / min piece length. At 100 TB the distinct-word
    * table is vocabulary-sized (millions, not trillions), the rounds
    * stay broadcast joins, and the instance expansion is one hash join.
    * Tokenization dispatches through [[tokenizePieces]]: the fused
    * codegen'd loop inside its compile-safety bounds, the mapPartitions
    * trie twin beyond them (production vocab sizes) — the DuckDB oracle
    * replays the greedy recursion as a recursive CTE (its seventh). */
  def t45WordpieceTokenize(s: SparkSession, dir: String): DataFrame = {
    val inst = fanOut(documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    // The trained vocabulary is a driver-local model artifact (the PQ
    // codebook precedent: WordPiece vocabs are 30-50k entries by
    // DESIGN), so longest-prefix selection compiles to a codegen'd
    // expression — greatest() over per-piece startsWith probes — and
    // every stripping round is a pure projection: the whole greedy loop
    // fuses into one narrow map over distinct words, no joins, no
    // per-round actions (measured: 5.6 s as a join-per-round loop with
    // fixpoint counts → the fused form below).
    // Trained once per corpus: the top-K vocabulary is a pure corpus
    // function, KB-sized on the driver, committed as a model artifact
    // (rank, word) and decoded in rank order.
    val vocabWords = Artifacts.modelRows(s, "wp_vocab", dir) {
      val byFreq = Seq(col("c").desc, col("word"))
      inst.groupBy(col("word")).agg(count(lit(1)).as("c"))
        .orderBy(byFreq: _*).limit(VocabK)
        .select(row_number().over(Window.orderBy(byFreq: _*)).as("rank"),
          col("word"))
    }._1.sortBy(_.getInt(0)).map(_.getString(1))
    // APPLY is one narrow projection (round 14): the vocabulary rides as
    // a plan literal into the WpTokenStats kernel — same greedy trie as
    // tokenizeTrie (parity-spec'd), but per DOCUMENT, with a per-task
    // word memo. The former distinct→tokenize→join→re-aggregate chain
    // shipped the corpus token stream through three shuffles to compute
    // per-document facts; this pays zero exchanges before the sort.
    // tokenizePieces stays the seam for vocabulary-scale tokenization
    // (t46/t47 trainers, the trie/fused equality specs).
    val st = graft.functions.WpTokenStats
      .wp_token_stats(col("text"), vocabWords.toSeq)
    fanOut(documents(s, dir))
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_words").as("n_words"),
        col("st.n_pieces").as("n_pieces"),
        col("st.n_unk").as("n_unk_chars"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        col("n_unk_chars"),
        expr("n_pieces * 1000000 div n_words").as("fertility_ppm"))
      .sortedWide("doc_id")
  }

  /** Codegen-safety bounds for the FUSED tokenizer: the fused form builds
    * `rounds` chained projections each holding |vocab| startsWith probes,
    * so its expression-tree size is rounds × |vocab|. Past these bounds
    * Janino's 64KB method limit would push the plan into silent
    * interpreted fallback (or fail to compile outright) — and both are
    * DATA-dependent (`maxLen` is read from the corpus). The dispatcher
    * below switches to the trie twin instead of degrading silently. */
  private[graft] val MaxFusedRounds = 64
  private[graft] val MaxFusedVocab = 64

  /** Tokenizer seam: (distinct words, vocabulary) → (word, pieces, unk).
    * Fused codegen'd form inside the bounds; mapPartitions trie beyond
    * them (the shape a production tokenizer library takes). The two are
    * equality-spec'd against each other (WordpieceTrieSpec) at the
    * corpus vocab and at a 5k-entry vocab. */
  private[graft] def tokenizePieces(words: DataFrame,
      vocab: Array[String], maxLen: Int): DataFrame =
    if (maxLen <= MaxFusedRounds && vocab.length <= MaxFusedVocab)
      tokenizeFused(words, vocab, maxLen)
    else tokenizeTrie(words, vocab)

  /** The fused greedy loop: `rounds` chained projections, each one
    * `greatest` over per-piece startsWith probes — every round is a pure
    * narrow map and the whole loop stays inside whole-stage codegen.
    * Callers must respect [[MaxFusedRounds]]/[[MaxFusedVocab]]. */
  private[graft] def tokenizeFused(words: DataFrame,
      vocab: Array[String], rounds: Int): DataFrame = {
    var tok = words
      .select(col("word"), col("word").as("rest"),
        lit(0L).as("pieces"), lit(0L).as("unk"))
    (1 to rounds).foreach { _ =>
      val best = vocab
        .map(p => when(col("rest").startsWith(p), lit(p.length))
          .otherwise(lit(0)))
        .reduce((a, b) => greatest(a, b))
      tok = tok
        .withColumn("best", best)
        .select(col("word"),
          when(col("rest") === "", col("rest"))
            .otherwise(expr("substr(rest, greatest(best, 1) + 1)"))
            .as("rest"),
          (col("pieces") + when(col("rest") =!= "" && col("best") > 0, 1L)
            .otherwise(0L)).as("pieces"),
          (col("unk") + when(col("rest") =!= "" && col("best") === 0, 1L)
            .otherwise(0L)).as("unk"))
    }
    tok.select(col("word"), col("pieces"), col("unk"))
  }

  /** Greedy longest-prefix over a character trie in `mapPartitions` — the
    * production-vocabulary path (30–50k pieces, arbitrary word length):
    * per-word cost is O(len × depth) with zero expression-tree growth.
    * The trie builds once per partition from the driver-shipped vocab
    * (KB–MB sized model artifact, the codebook discipline). */
  private[graft] def tokenizeTrie(words: DataFrame,
      vocab: Array[String]): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    val pieces = vocab // stable local for closure capture
    words.select(col("word"))
      .as(org.apache.spark.sql.Encoders.STRING)
      .mapPartitions { it =>
        // children[node] : Char -> next node; terminal[node] : piece end
        val children =
          scala.collection.mutable.ArrayBuffer(
            scala.collection.mutable.HashMap.empty[Char, Int])
        val terminal = scala.collection.mutable.ArrayBuffer(false)
        pieces.foreach { p =>
          var n = 0
          p.foreach { ch =>
            n = children(n).getOrElseUpdate(ch, {
              children += scala.collection.mutable.HashMap.empty[Char, Int]
              terminal += false
              children.length - 1
            })
          }
          terminal(n) = true
        }
        it.map { w =>
          var i = 0
          var nPieces = 0L
          var nUnk = 0L
          while (i < w.length) {
            // longest terminal reachable from position i
            var n = 0
            var j = i
            var lastEnd = -1
            var live = true
            while (live && j < w.length) {
              children(n).get(w.charAt(j)) match {
                case Some(next) =>
                  n = next; j += 1
                  if (terminal(n)) lastEnd = j
                case None => live = false
              }
            }
            if (lastEnd > i) { nPieces += 1L; i = lastEnd }
            else { nUnk += 1L; i += 1 }
          }
          (w, nPieces, nUnk)
        }
      }(enc)
      .toDF("word", "pieces", "unk")
  }

  val t45Oracle: String =
    s"""WITH RECURSIVE
       |inst AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |         FROM documents),
       |words AS (SELECT DISTINCT word FROM inst),
       |vocab AS (
       |  SELECT word AS piece FROM (
       |    SELECT word, COUNT(*) AS c FROM inst GROUP BY word
       |    ORDER BY c DESC, word LIMIT $VocabK)),
       |tok(word, rest, pieces, unk) AS (
       |  SELECT word, word, 0, 0 FROM words
       |  UNION ALL
       |  SELECT word,
       |    substr(rest, GREATEST(best, 1) + 1),
       |    pieces + CASE WHEN best > 0 THEN 1 ELSE 0 END,
       |    unk + CASE WHEN best = 0 THEN 1 ELSE 0 END
       |  FROM (
       |    SELECT word, rest, pieces, unk,
       |      coalesce((SELECT MAX(len(v.piece)) FROM vocab v
       |                WHERE v.piece = substr(rest, 1, len(v.piece))), 0)
       |        AS best
       |    FROM tok WHERE rest <> '')),
       |done AS (SELECT word, pieces, unk FROM tok WHERE rest = '')
       |SELECT i.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(d.pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(d.unk) AS BIGINT) AS n_unk_chars,
       |  (CAST(SUM(d.pieces) AS BIGINT) * 1000000) // COUNT(*)
       |    AS fertility_ppm
       |FROM inst i JOIN done d USING (word)
       |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin

  // --- t46: BPE merge-step pair statistics ------------------------------

  /** t46: byte-pair-encoding merge statistics — the frequency table the
    * FIRST BPE training step ranks: for every adjacent character pair
    * inside every word, the corpus-weighted occurrence count (each
    * position in each word instance counts) and the number of distinct
    * words containing the pair. The top pair is the first merge a BPE
    * trainer would perform; t45 covers the APPLY side of tokenizer life,
    * this covers the TRAIN side's inner loop.
    *
    * Plan shape: the same canon discipline as t45 — pair extraction runs
    * over DISTINCT words (vocabulary-sized), each word exploding into
    * len-1 positions via `sequence`, and corpus weights arrive from the
    * word-frequency table computed in the same pass; the expensive
    * instance stream is touched once for the frequency count. At 100 TB
    * the pair table is |vocab|×positions — millions of rows — and every
    * further merge round (not gated here) is the same shape over a
    * re-segmented vocabulary. */
  def t46BpePairStats(s: SparkSession, dir: String): DataFrame = {
    val wf = fanOut(documents(s, dir))
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    val pairs = wf
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("f"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("word"), col("f"),
        expr("substr(word, i, 1)").as("a"),
        expr("substr(word, i + 1, 1)").as("b"))
    // Global ranking window: safe — the grouped pair table is bounded by
    // alphabet² rows regardless of corpus size.
    val w = Window.orderBy(col("total").desc, col("a"), col("b"))
    pairs
      .groupBy(col("a"), col("b"))
      .agg(sum(col("f")).as("total"),
        countDistinct(col("word")).as("n_words"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 20)
      .sortedSmall("rnk")
  }

  val t46Oracle: String =
    """WITH inst AS (SELECT unnest(string_split(text, ' ')) AS word
      |              FROM documents),
      |wf AS (SELECT word, COUNT(*) AS f FROM inst GROUP BY word),
      |pos AS (SELECT word, f,
      |          CAST(unnest(range(1, len(word))) AS INT) AS i
      |        FROM wf WHERE len(word) >= 2),
      |pairs AS (SELECT substr(word, i, 1) AS a,
      |            substr(word, i + 1, 1) AS b, f, word FROM pos),
      |agg AS (SELECT a, b, CAST(SUM(f) AS BIGINT) AS total,
      |          COUNT(DISTINCT word) AS n_words
      |        FROM pairs GROUP BY a, b)
      |SELECT a, b, total, n_words, rnk FROM (
      |  SELECT a, b, total, n_words,
      |    CAST(row_number() OVER (ORDER BY total DESC, a, b) AS BIGINT)
      |      AS rnk
      |  FROM agg) WHERE rnk <= 20
      |ORDER BY rnk""".stripMargin

  // --- t47: iterated BPE training -------------------------------------

  private[ext] val BpeRounds = 6

  /** Adjacent-symbol pair statistics of a segmentation table
    * (f, seg=" sym sym … ") — the t46 shape generalized from characters
    * to multi-char symbols. Bounded by Σ per-word symbol counts over the
    * DISTINCT-word vocabulary, not by corpus rows. */
  private def segPairStats(seg: DataFrame): DataFrame = seg
    .select(col("f"), split(trim(col("seg")), " ").as("t"))
    .filter(size(col("t")) >= 2)
    .select(col("f"), col("t"),
      explode(sequence(lit(0), size(col("t")) - 2)).as("i"))
    .select(element_at(col("t"), col("i") + 1).as("a"),
      element_at(col("t"), col("i") + 2).as("b"), col("f"))
    .groupBy(col("a"), col("b"))
    .agg(sum(col("f")).as("total"))

  /** t47: iterated BPE training — N merge rounds of the loop whose first
    * step t46 gates: count adjacent symbol pairs (corpus-weighted over
    * the distinct-word vocabulary), merge the argmax pair in every
    * word's segmentation, recount. Output is the learned merge table —
    * the actual artifact a BPE tokenizer trainer produces.
    *
    * Plan shape (the t12/t43 round discipline): the vocabulary-sized
    * segmentation table advances one eager `localCheckpoint` per round,
    * so round r's pair count scans a materialized table instead of
    * re-deriving r stacked projections (O(N) total work, not O(N²));
    * the per-round argmax is a 1-row driver collect (the Rank.offsets
    * bound), and the merge applies as one narrow `replace` projection —
    * space-delimited symbols make left-to-right non-overlapping string
    * replacement exactly BPE's merge semantics, in both engines. At
    * 100 TB the corpus is touched ONCE (the word-frequency pass);
    * every round after that is vocabulary-sized. */
  def t47BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainBpeMerges(s, dir)
      .toDF("merge_round", "left_sym", "right_sym", "total")
      .sortedSmall("merge_round")
  }

  /** The t47 training loop as a driver-side function: the learned merge
    * table IS the model artifact (KB-sized by design — [[BpeRounds]]
    * rows), so it comes back as a plain Seq for both the t47 gate (which
    * outputs it) and the t54 apply ([[bpeMerges]]). */
  private def trainBpeMerges(
      s: SparkSession, dir: String): Seq[(Long, String, String, Long)] = {
    val wf = fanOut(documents(s, dir))
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    var seg = wf
      .select(col("f"),
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))
          .as("seg"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    (1 to BpeRounds).foreach { r =>
      val top = segPairStats(seg)
        .orderBy(col("total").desc, col("a"), col("b"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"t47: corpus exhausted at merge round $r of $BpeRounds")
      val (a, b, tot) =
        (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
      merges += ((r.toLong, a, b, tot))
      val prev = seg
      seg = seg
        .withColumn("seg", org.apache.spark.sql.functions.replace(
          col("seg"), lit(s" $a $b "), lit(s" $a$b ")))
        .localCheckpoint()
      prev.unpersist()
    }
    seg.unpersist()
    merges.result()
  }

  /** The trained merge list for the APPLY side (t54), in training order:
    * a committed model artifact ([[Artifacts.modelRows]]) of (round,
    * left, right), decoded by round. t47 itself always trains live
    * (training is its subject; the apply queries' subject is the
    * corpus-wide tokenization, so they load the model like any deployed
    * tokenizer). */
  private[ext] def bpeMerges(
      s: SparkSession, dir: String): Seq[(String, String)] = {
    import s.implicits._
    Artifacts.modelRows(s, "bpe_merges", dir) {
      trainBpeMerges(s, dir).map(m => (m._1, m._2, m._3))
        .toDF("merge_round", "left_sym", "right_sym")
    }._1.sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2)))
      .toSeq
  }

  /** N chained (non-recursive) CTE stages replaying the exact loop —
    * each stage re-pairs, argmaxes with the same (total DESC, a, b)
    * tiebreak, and applies the same delimited string replace. */
  val t47Oracle: String = {
    val stages = (1 to BpeRounds).map { r =>
      s"""p$r AS (
         |  SELECT t[i] AS a, t[i + 1] AS b, f FROM (
         |    SELECT f, string_split(trim(seg), ' ') AS t,
         |      unnest(range(1, len(string_split(trim(seg), ' ')))) AS i
         |    FROM s${r - 1})),
         |b$r AS (
         |  SELECT a, b, CAST(SUM(f) AS BIGINT) AS total
         |  FROM p$r GROUP BY a, b
         |  ORDER BY total DESC, a, b LIMIT 1),
         |s$r AS (
         |  SELECT f, replace(seg, ' ' || b$r.a || ' ' || b$r.b || ' ',
         |    ' ' || b$r.a || b$r.b || ' ') AS seg
         |  FROM s${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_round, a AS left_sym, " +
        s"b AS right_sym, total FROM b$r").mkString(" UNION ALL ")
    s"""WITH wf AS (
       |  SELECT word, COUNT(*) AS f FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word),
       |s0 AS (
       |  SELECT f, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seg
       |  FROM wf),
       |$stages
       |$union
       |ORDER BY merge_round""".stripMargin
  }

  // --- t48: exact shared-substring spans ------------------------------

  private val SpanK = 8 // anchor gram width (words)
  private val SpanMin = 12 // report spans of at least this many words
  private val SpanDfCap = 256 // drop anchors shared by more docs than this

  /** t48: exact substring deduplication — maximal verbatim word-level
    * spans shared between documents (the suffix-array operator of
    * "Deduplicating Training Data", expressed as rolling anchor postings
    * instead of a global suffix array; t39/t42 approximate this, t48 is
    * exact over surviving anchors). Pipeline: distinct-text
    * representatives (the Canon collapse — exact-dup pairs are t01's
    * membership, not a span list) → every K-word gram with its position
    * → hash-bucketed posting self-join with string verification →
    * diagonal run detection (consecutive anchor matches at constant
    * pos offset merge via the pos − row_number trick) → maximal spans,
    * reported at ≥ [[SpanMin]] words.
    *
    * Scale shape: the posting join is equi-join-shaped (64-bit gram hash
    * as shuffle key, full gram string verified in the join condition, so
    * hash collisions cannot corrupt results); boilerplate anchors are
    * df-capped at [[SpanDfCap]] BEFORE the self-join (the t23 prefix-
    * filter discipline — pairs per anchor are bounded by cap², and a
    * dropped anchor only splits a span, deterministically in both
    * engines); runs group on (pair, diagonal), a key no wider than the
    * match list itself. Nothing is all-pairs, nothing is driver-side. */
  private def repsOf(s: SparkSession, dir: String): DataFrame =
    fanOut(documents(s, dir))
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))

  /** The shared span pipeline behind t48 (report) and t49 (scrub):
    * anchors → df-cap → verified posting join → diagonal runs → maximal
    * spans ≥ [[SpanMin]]. */
  private def spansOf(reps: DataFrame): DataFrame = {
    val grams = reps
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= SpanK)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (SpanK - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ",
          (0 until SpanK).map(j => element_at(col("w"), col("pos") + j)): _*)
          .as("gram"))
      .withColumn("h", xxhash64(col("gram")))
    // df-cap via partial+final countDistinct then an equi-join back — NOT
    // a collect_set window, whose per-gram state is exactly the unbounded
    // boilerplate list the cap exists to defuse.
    val rare = grams.groupBy(col("h"), col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= SpanDfCap)
      .select(col("h"), col("gram"))
    val kept = grams.join(rare, Seq("h", "gram"))
      .select(col("doc_id"), col("pos"), col("gram"), col("h"))
    val a = kept.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
      col("gram").as("ga"), col("h").as("ha"))
    val b = kept.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
      col("gram").as("gb"), col("h").as("hb"))
    val pairs = a.join(b,
      col("ha") === col("hb") && col("ga") === col("gb") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    val byDiag = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"))
      .orderBy(col("pa"))
    pairs
      .withColumn("run", col("pa") - row_number().over(byDiag))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pa") - col("pb")).as("diag"), col("run"))
      .agg(min(col("pa")).as("a_pos"), min(col("pb")).as("b_pos"),
        (count(lit(1)) + (SpanK - 1)).as("span_words"))
      .filter(col("span_words") >= SpanMin)
      .select(col("doc_a"), col("doc_b"),
        col("a_pos").cast("long"), col("b_pos").cast("long"),
        col("span_words"))
  }

  def t48SubstringDedup(s: SparkSession, dir: String): DataFrame =
    // Same per-corpus artifact t49 applies (the winnow_pairs discipline):
    // the span pipeline is a pure function of the corpus, so the report
    // and the scrub must share one build instead of paying it twice.
    Artifacts.materialized(s, "substring_spans", dir)(spansOf(repsOf(s, dir)))
      .sortedWide("doc_a", "doc_b", "a_pos", "b_pos")

  /** Shared CTE chain replaying [[spansOf]] — the prefix of both the
    * t48 and t49 oracles. */
  private val spanOracleCtes: String =
    s"""WITH d AS (SELECT min(doc_id) AS doc_id, text
       |           FROM documents GROUP BY text),
       |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
       |g AS (SELECT doc_id, i AS pos,
       |        array_to_string(w[i:i + ${SpanK - 1}], ' ') AS gram
       |      FROM (SELECT doc_id, w,
       |              unnest(range(1, len(w) - ${SpanK - 2})) AS i
       |            FROM t WHERE len(w) >= $SpanK)),
       |df AS (SELECT gram FROM (
       |         SELECT gram, COUNT(DISTINCT doc_id) AS df
       |         FROM g GROUP BY gram)
       |       WHERE df <= $SpanDfCap),
       |kept AS (SELECT g.* FROM g JOIN df USING (gram)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.pos AS pa, b.pos AS pb
       |  FROM kept a JOIN kept b
       |    ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |runs AS (
       |  SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
       |    pa - row_number() OVER (
       |      PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS run
       |  FROM pairs),
       |spans AS (
       |  SELECT doc_a, doc_b, a_pos, b_pos, span_words FROM (
       |    SELECT doc_a, doc_b,
       |      CAST(MIN(pa) AS BIGINT) AS a_pos,
       |      CAST(MIN(pb) AS BIGINT) AS b_pos,
       |      COUNT(*) + ${SpanK - 1} AS span_words
       |    FROM runs GROUP BY doc_a, doc_b, diag, run)
       |  WHERE span_words >= $SpanMin)""".stripMargin

  val t48Oracle: String =
    s"""$spanOracleCtes
       |SELECT doc_a, doc_b, a_pos, b_pos, span_words FROM spans
       |ORDER BY doc_a, doc_b, a_pos, b_pos""".stripMargin

  /** t49: substring scrub — APPLY t48's spans to the corpus: the
    * lower-id side of every reported span keeps its text, the higher-id
    * side has the covered word positions removed, and the survivors
    * reassemble in position order (the "Deduplicating Training Data"
    * remove-duplicate-substrings step, rep-level like t48; exact-dup
    * collapse is t01/t17's membership). Covered positions union via
    * explode+distinct (span-bounded, not corpus-bounded), removal is a
    * left-anti equi-join on (doc, pos), reassembly is the t30 recipe —
    * position-sorted struct array per document, bounded by the document
    * length the row already carried. */
  def t49SubstringScrub(s: SparkSession, dir: String): DataFrame = {
    val reps = repsOf(s, dir)
    // The span report is this query's INPUT — t49 is "apply t48's
    // report", so the spans are a per-corpus artifact (the winnow_pairs
    // discipline): computed once next to the corpus, not re-derived by
    // every consumer.
    val spans = Artifacts.materialized(s, "substring_spans", dir)(
      spansOf(repsOf(s, dir)))
    // Dirty ids come straight off the span report (one distinct over
    // span rows) — round 13 exploded every covered position first and
    // distinct'd that, paying a position-sized shuffle just to learn
    // which documents were touched.
    val scrubIds = spans.select(col("doc_b").as("doc_id")).distinct()
    val covered = spans
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_pos"),
          col("b_pos") + col("span_words") - 1)).as("pos"))
      .distinct()
    // Only span-affected documents pay the word-level rebuild; the
    // untouched majority passes through verbatim. At 100 TB this is the
    // difference between exploding the corpus and exploding the
    // offending tail.
    val dirty = reps.join(scrubIds, Seq("doc_id"), "left_semi")
    val words = dirty
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        col("w"))
      .select(col("doc_id"), col("n_words"),
        explode(sequence(lit(1), size(col("w")))).as("pos"), col("w"))
      .select(col("doc_id"), col("n_words"), col("pos").cast("long").as("pos"),
        element_at(col("w"), col("pos")).as("word"))
    val keptWords = words
      .join(covered.withColumn("pos", col("pos").cast("long")),
        Seq("doc_id", "pos"), "left_anti")
    val rebuilt = keptWords.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word"))).as("text_scrubbed"))
    // ONE assembly pass over the reps (round 13 ran a semi/anti split
    // plus a union — two extra corpus-keyed stages): dirty docs take the
    // rebuilt text (empty when fully scrubbed), clean docs pass through.
    reps
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        col("text"))
      .join(scrubIds.withColumn("dirty", lit(true)), Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        when(col("dirty"),
          col("n_words") - coalesce(col("n_kept"), lit(0L)))
          .otherwise(0L).as("n_scrubbed"),
        when(col("dirty"), coalesce(col("text_scrubbed"), lit("")))
          .otherwise(col("text")).as("text_scrubbed"))
      .sortedWide("doc_id")
  }

  val t49Oracle: String =
    s"""$spanOracleCtes,
       |covered AS (
       |  SELECT DISTINCT doc_b AS doc_id, b_pos + i AS pos
       |  FROM (SELECT doc_b, b_pos,
       |          unnest(range(0, span_words)) AS i FROM spans)),
       |words AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(unnest(range(1, len(w) + 1)) AS BIGINT) AS pos, w
       |  FROM t),
       |wpos AS (SELECT doc_id, n_words, pos, w[pos] AS word FROM words),
       |keptw AS (
       |  SELECT wpos.* FROM wpos LEFT JOIN covered
       |    ON wpos.doc_id = covered.doc_id AND wpos.pos = covered.pos
       |  WHERE covered.doc_id IS NULL),
       |rebuilt AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(word, ' ' ORDER BY pos) AS text_scrubbed
       |  FROM keptw GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
       |  CAST(len(t.w) - coalesce(r.n_kept, 0) AS BIGINT) AS n_scrubbed,
       |  coalesce(r.text_scrubbed, '') AS text_scrubbed
       |FROM t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** t58: cross-source contamination matrix — the shared-substring spans
    * (t48's artifact) rolled up by SOURCE pair: how many span incidents,
    * distinct document pairs, and shared words connect each pair of
    * corpus sources. Cross-source rows are the provenance-leakage signal
    * a pipeline reads before treating sources as independent (a
    * benchmark split by source is only leakage-safe if this matrix's
    * off-diagonal is empty — the t41 cluster-split rationale, measured
    * instead of assumed). Pair keys normalize as (least, greatest) so
    * each unordered source pair reports once.
    *
    * Plan shape: the span table is the shared per-corpus artifact (built
    * once, span-bounded — NOT corpus-bounded); labeling is two equi-joins
    * hanging each side's source off the doc dimension (span side is the
    * small side, broadcast), and the rollup is a hash aggregate over at
    * most |sources|² keys. At 100 TB the artifact is the only input that
    * grows, and it grows with true duplication, not corpus size. */
  def t58CrossSourceLeakage(s: SparkSession, dir: String): DataFrame = {
    val src = documents(s, dir).select(col("doc_id"), col("source"))
    val spans = Artifacts.materialized(s, "substring_spans", dir)(
      spansOf(repsOf(s, dir)))
    spans
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("doc_a"), col("doc_b"), col("span_words"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_a"), col("doc_b")).as("n_doc_pairs"),
        sum(col("span_words")).as("shared_words"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
      .sortedSmall("source_a", "source_b")
  }

  val t58Oracle: String =
    s"""$spanOracleCtes,
       |lab AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    sp.doc_a, sp.doc_b, sp.span_words
       |  FROM spans sp
       |  JOIN documents da ON sp.doc_a = da.doc_id
       |  JOIN documents db ON sp.doc_b = db.doc_id)
       |SELECT source_a, source_b, COUNT(*) AS n_spans,
       |  COUNT(DISTINCT (doc_a, doc_b)) AS n_doc_pairs,
       |  CAST(SUM(span_words) AS BIGINT) AS shared_words,
       |  source_a <> source_b AS cross_source
       |FROM lab GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  val all: Seq[Q] = Seq(
    Q("t36_cms_frequency", t36CmsFrequency, Some(t36Oracle)),
    Q("t37_lm_score", t37LmScore, Some(t37Oracle)),
    Q("t38_source_cap", t38SourceCap, Some(t38Oracle)),
    Q("t39_winnowing", t39Winnowing, Some(t39Oracle)),
    Q("t40_winnow_pairs", t40WinnowPairs, Some(t40Oracle)),
    Q("t41_leakage_safe_split", t41LeakageSafeSplit, Some(t41Oracle)),
    Q("t42_cdc_chunks", t42CdcChunks, Some(t42Oracle)),
    Q("t43_graph_rank", t43GraphRank, Some(t43Oracle)),
    Q("t44_temperature_mix", t44TemperatureMix, Some(t44Oracle)),
    Q("t45_wordpiece_tokenize", t45WordpieceTokenize, Some(t45Oracle)),
    Q("t46_bpe_pair_stats", t46BpePairStats, Some(t46Oracle)),
    Q("t47_bpe_train", t47BpeTrain, Some(t47Oracle)),
    Q("t48_substring_dedup", t48SubstringDedup, Some(t48Oracle)),
    Q("t49_substring_scrub", t49SubstringScrub, Some(t49Oracle)),
    Q("t58_cross_source_leakage", t58CrossSourceLeakage, Some(t58Oracle)))
}
