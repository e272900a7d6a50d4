package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.expr.Exprs._
import graft.tables.Tables._
import graft.functions.Md5Hex.graft_md5
import graft.ops.Out._

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-training-pipeline surface (BASELINE.json north star).
  *
  * Design for 100 TB: everything here is a single scan + hash aggregation
  * (shuffle keyed on doc_id or content hash), no driver-side state. The
  * MinHash/LSH path is the standard shingle→minhash→band→bucket-join
  * pipeline: candidate generation is an equi-join on (band, bucket) — a
  * shuffle join on a low-cardinality composite key — never an all-pairs
  * comparison.
  */
object TextOps {

  /** Occurrences of literal `needle` in `c` via length arithmetic — exact,
    * engine-portable (no regex dialect). Uses the literal (non-regex) SQL
    * `replace`, ~5× faster than regexp_replace in the scan hot path. */
  private def litCount(c: Column, needle: String): Column =
    ((length(c) - length(call_function("replace", c, lit(needle), lit("")))) /
      needle.length).cast("long")

  private def litCountSql(expr: String, needle: String): String =
    s"CAST((length($expr) - length(replace($expr, '$needle', ''))) / ${needle.length} AS BIGINT)"

  /** t01: exact dedup via content hash (hash-groupBy). At scale: shuffle on
    * md5(text) — uniform 128-bit key, no skew; keeper = min(doc_id). */
  def t01DedupExact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(graft_md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .sortedWide("h")

  val t01Oracle: String =
    """SELECT md5(text) AS h, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  /** t02: token counting — whitespace tokens plus a BPE-ish subword count
    * (alpha runs / digit runs as units; the cheap proxy for tokenizer cost
    * estimation in an LLM-data pipeline). Narrow map-only op. */
  def t02TokenStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
          .cast("long").as("n_subwords"),
        col("n_chars"))
      .sortedWide("doc_id")

  val t02Oracle: String =
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
      |  AS n_subwords,
      |n_chars FROM documents ORDER BY doc_id""".stripMargin

  /** t03: quality scoring — length/whitespace/stopword ratios, the heuristics
    * an LLM-data pipeline gates on. Pure per-row arithmetic (map-only). */
  def t03QualityScore(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val nTokens = size(split(col("text"), " ")).cast("long")
    val theCnt = litCount(col("text"), "the")
    d.select(col("doc_id"),
        nTokens.as("n_tokens"),
        ((col("n_chars") - nTokens + 1) / nTokens).as("avg_token_len"),
        theCnt.as("the_cnt"),
        (theCnt / nTokens).as("stopword_ratio"))
      .sortedWide("doc_id")
  }

  val t03Oracle: String = {
    val nt = "CAST(len(string_split(text, ' ')) AS BIGINT)"
    val the = litCountSql("text", "the")
    s"""SELECT doc_id, $nt AS n_tokens,
       |(n_chars - $nt + 1) / $nt AS avg_token_len,
       |$the AS the_cnt,
       |$the / $nt AS stopword_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t04: language-ID by stopword-marker scoring (n-gram/stopword heuristic).
    * Marker hit-counts per language family; argmax = predicted language.
    * Map-only; at 100 TB this is the cheap pre-filter before model-based ID. */
  def t04LangId(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val padded = concat(lit(" "), col("text"), lit(" "))
    val scoreEn = litCount(padded, " the ") + litCount(padded, " a ")
    val scoreEs = litCount(padded, " el ") + litCount(padded, " la ")
    val scoreFr = litCount(padded, " le ") + litCount(padded, " et ")
    d.select(col("doc_id"), col("lang"),
        scoreEn.as("score_en"), scoreEs.as("score_es"), scoreFr.as("score_fr"),
        when(scoreEn >= scoreEs && scoreEn >= scoreFr && scoreEn > 0, "en")
          .when(scoreEs >= scoreFr && scoreEs > 0, "es")
          .when(scoreFr > 0, "fr")
          .otherwise("und").as("predicted_lang"))
      .sortedWide("doc_id")
  }

  val t04Oracle: String = {
    def c(n: String) = litCountSql("(' ' || text || ' ')", n)
    val en = s"(${c(" the ")} + ${c(" a ")})"
    val es = s"(${c(" el ")} + ${c(" la ")})"
    val fr = s"(${c(" le ")} + ${c(" et ")})"
    s"""SELECT doc_id, lang,
       |$en AS score_en, $es AS score_es, $fr AS score_fr,
       |CASE WHEN $en >= $es AND $en >= $fr AND $en > 0 THEN 'en'
       |     WHEN $es >= $fr AND $es > 0 THEN 'es'
       |     WHEN $fr > 0 THEN 'fr'
       |     ELSE 'und' END AS predicted_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Character 5-gram shingles (raw text, one row per (doc, position)). The
    * explode is map-side (no shuffle); downstream aggs shuffle on doc_id
    * only. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      // The documents table arrives as one parquet split; without an explicit
      // redistribution the ~550× shingle explode and md5 minhash all run on
      // a single core. Repartition on doc_id: parallelizes the heavy map AND
      // pre-aligns with the downstream groupBy(doc_id) so the aggregation
      // needs no second exchange. The partition count must be EXPLICIT:
      // with a bare repartition(col), AQE sizes the exchange by its input
      // bytes (a few MB of text) and coalesces it to ONE partition — blind
      // to the ~550× explode it feeds — serializing the whole chain
      // (measured: t16 2.2 s -> 0.4 s warm from this one change).
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(1), greatest(col("n_chars") - 4, lit(1))))
          .as("i"),
        col("text"))
      .select(col("doc_id"), col("text").substr(col("i"), lit(5)).as("sh"))

  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(documents(s, dir))

  // DuckDB 1.0 generate_series only accepts constant bounds (no lateral
  // column refs, no subqueries), so build a constant 1..2048 series — the
  // corpus max n_chars is 577 at every scale factor — and theta-join it down
  // to each document's shingle positions. Parameterized by source relation
  // so the dedup-composed t18 can run it over the keeper corpus.
  private def shinglesSqlFrom(src: String): String =
    s"""SELECT doc_id, substr(text, CAST(i AS INT), 5) AS sh
       |FROM $src JOIN (
       |  SELECT CAST(x AS BIGINT) AS i
       |  FROM generate_series(1, 2048) t(x)) s
       |ON s.i <= greatest(n_chars - 4, 1)""".stripMargin

  private val shinglesSql: String = shinglesSqlFrom("documents")

  /** Two seeded digests per shingle; each yields four independent 32-bit
    * (8-hex) minhash lanes — 8 permutations from 2 md5 calls instead of 8
    * (the md5 is the hot kernel at 100 TB: ~550 shingles/doc × docs). */
  private def digests(s: SparkSession, dir: String): DataFrame =
    shingles(s, dir).select(col("doc_id"),
      graft_md5(concat(lit("0"), col("sh"))).as("d1"),
      graft_md5(concat(lit("1"), col("sh"))).as("d2"))

  private def digestsSqlFrom(src: String): String =
    s"""SELECT doc_id, md5('0' || sh) AS d1, md5('1' || sh) AS d2
       |FROM (${shinglesSqlFrom(src)}) sh""".stripMargin

  private val digestsSql: String = digestsSqlFrom("documents")

  private def laneSql(j: Int): String = {
    val d = if (j < 4) "d1" else "d2"
    s"substr($d, ${(j % 4) * 8 + 1}, 8)"
  }

  /** Spark-side lane mins run on primitive longs (Md5Lanes kernel) and are
    * hex-formatted only on the aggregated output — ordered identically to
    * the oracle's string mins over zero-padded hex slices. */
  private def laneMinAggs: Seq[Column] =
    (0 until K).map(j =>
      min(element_at(col("lv"), j + 1)).as(s"l$j"))
  private def hexLanes: Seq[Column] =
    (0 until K).map(j => format_string("%08x", col(s"l$j")).as(s"h$j"))

  /** t05: document fingerprint — min content-hash over character shingles
    * (rolling-hash fingerprint) + distinct-shingle cardinality. */
  def t05Fingerprint(s: SparkSession, dir: String): DataFrame =
    digests(s, dir)
      .groupBy(col("doc_id"))
      .agg(min(col("d1")).as("fp"),
        countDistinct(col("d1")).as("n_shingles"))
      .sortedWide("doc_id")

  val t05Oracle: String =
    s"""WITH d AS ($digestsSql)
       |SELECT doc_id, min(d1) AS fp, COUNT(DISTINCT d1) AS n_shingles
       |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val K = 8 // minhash permutations (2 bands × 4 rows)

  /** LSH banding knob for the minhash pipeline: `k` signature lanes split
    * into `bands` bands of `k/bands` rows; a band's digest is the bucket
    * key. Pigeonhole guarantee (property-tested in BandingSpec): a pair
    * with fewer than `bands` mismatched lanes agrees on at least one full
    * band and is ALWAYS a candidate. Trade-off, measured on the 10×/100×
    * replicas (PLANS.md): more/narrower bands → recall reaches lower
    * similarities but candidate volume grows toward n² within
    * near-duplicate cliques; fewer/wider bands → candidates stay ~true
    * collisions but the recall floor rises ((1/bands)-quantile of lane
    * agreement). The default (8, 2) — threshold s ≈ (1/2)^(1/4) ≈ 0.84 —
    * is the gate contract the t06/t07 oracles pin down. */
  final case class MinHashBanding(k: Int = K, bands: Int = 2) {
    require(k >= 1 && k <= K && k % bands == 0,
      s"bands ($bands) must divide k ($k) and k <= $K")
    val rows: Int = k / bands
  }

  /** Band-digest columns band0..band(n-1) derived from lane columns
    * h0..h(k-1) — shared by the production signatures and the property
    * test's synthetic ones. */
  private[graft] def withBands(sig: DataFrame,
      b: MinHashBanding = MinHashBanding()): DataFrame =
    (0 until b.bands).foldLeft(sig) { case (df, i) =>
      df.withColumn(s"band$i", graft_md5(concat(
        (i * b.rows until (i + 1) * b.rows).map(j => col(s"h$j")): _*)))
    }

  /** Unsorted MinHash signatures — min over the shingle *multiset* equals
    * min over the set, so no distinct is needed. One shuffle (groupBy
    * doc_id), 8 lane-mins in one pass over 2 digests; band digests are the
    * LSH bucket keys. Stays unsorted so downstream self-joins keep the
    * natural (doc_id-hashed, parallel) partitioning. */
  private[graft] def minhashSigOf(docs: DataFrame,
      banding: MinHashBanding = MinHashBanding()): DataFrame = {
    import graft.functions.Md5Lanes.graft_md5_lanes
    withBands(
      shinglesOf(docs)
        .select(col("doc_id"), graft_md5_lanes(col("sh")).as("lv"))
        .groupBy(col("doc_id"))
        .agg(laneMinAggs.head, laneMinAggs.tail: _*)
        .select(col("doc_id") +: hexLanes: _*),
      banding)
  }

  private def minhashSig(s: SparkSession, dir: String): DataFrame =
    minhashSigOf(documents(s, dir))

  /** t06: per-document MinHash signatures + LSH band bucket keys. */
  def t06MinhashSig(s: SparkSession, dir: String): DataFrame =
    minhashSig(s, dir).sortedWide("doc_id")

  private def sigSqlFrom(src: String): String = {
    val hs = (0 until K)
      .map(j => s"min(${laneSql(j)}) AS h$j").mkString(", ")
    s"""WITH d AS (${digestsSqlFrom(src)}),
       |sig AS (SELECT doc_id, $hs FROM d GROUP BY doc_id)
       |SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7,
       |  md5(h0 || h1 || h2 || h3) AS band0,
       |  md5(h4 || h5 || h6 || h7) AS band1
       |FROM sig""".stripMargin
  }

  private val sigSql: String = sigSqlFrom("documents")

  /** The documents-table MinHash signature SQL, for oracles outside this
    * file that replay the t06 banding (s24's streaming ingest gate). */
  private[graft] def minhashSigSql: String = sigSql

  val t06Oracle: String = s"$sigSql ORDER BY doc_id"

  /** Candidate pairs (a, b) sharing any LSH band bucket, with the MinHash
    * Jaccard estimate (= matching signature fraction). `sig` must carry
    * doc_id, h0..h7, band0, band1 (t06 signatures or the t09 sketch) and
    * should be persisted+materialized by the caller — it is referenced 4×
    * (two band projections + both estimate join sides).
    * `includeDiagonal` keeps (a, a) rows — the representative-level mode
    * ([[canonDocs]]), where a diagonal row stands for a duplicate group's
    * internal pairs (est = 1.0 by construction: identical signatures). */
  private[graft] def bandCandidates(sig: DataFrame,
      banding: MinHashBanding = MinHashBanding(),
      includeDiagonal: Boolean = false): DataFrame = {
    val buckets = (0 until banding.bands).map(i =>
        sig.select(col("doc_id"), lit(i).as("band"),
          col(s"band$i").as("bkt")))
      .reduce(_ union _)
    val ord =
      if (includeDiagonal) col("x.doc_id") <= col("y.doc_id")
      else col("x.doc_id") < col("y.doc_id")
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          ord)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sa = sig.select(col("doc_id").as("a") +:
      (0 until banding.k).map(j => col(s"h$j").as(s"a_h$j")): _*)
    val sb = sig.select(col("doc_id").as("b") +:
      (0 until banding.k).map(j => col(s"h$j").as(s"b_h$j")): _*)
    val est = (0 until banding.k)
      .map(j => when(col(s"a_h$j") === col(s"b_h$j"), 1.0).otherwise(0.0))
      .reduce(_ + _) / banding.k
    cand.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"), est.as("jaccard_est"))
  }

  /** Canonical (exact-duplicate-collapsed) document state for the
    * LSH/minhash/simhash family — [[Canon]]'s pattern with md5(text) as
    * the canonical key. Signatures, band digests, hamming distances and
    * signature-lane estimates are all pure functions of the text, so
    * identical documents are indistinguishable to every pair generator
    * here: collapsing them before the bucket self-join removes the k²
    * candidate blow-up a duplicated corpus otherwise pays (measured at
    * the 100× replica: t07 564.5 s, t13 202.9 s — all candidate-stage
    * work on within-group pairs), while membership expansion at the end
    * reproduces the doc-level output exactly. grp_n gates diagonal
    * (rep, rep) candidates: only groups with ≥2 members have internal
    * pairs to expand. */
  private final case class CanonDocs(
      member: DataFrame, repDocs: DataFrame, grpSz: DataFrame)

  /** `art = Some(session -> corpusDir)` routes the tagged table through
    * [[Artifacts.materialized]] — the canon map is a pure per-corpus
    * function shared by the whole minhash/simhash family, so corpus
    * queries pay its build once per JVM (the TextOps2 canonSim
    * discipline); synthetic-docs callers (specs) keep the persist path. */
  private def canonDocs(docs: DataFrame,
      art: Option[(SparkSession, String)] = None): CanonDocs = {
    def buildTagged: DataFrame = graft.ext.Canon
      .tagReps(docs, graft_md5(col("text")), "doc_id")
    val tagged = art match {
      case Some((s, dir)) =>
        Artifacts.materialized(s, "lsh_canon", dir)(buildTagged)
      case None =>
        val t = buildTagged.persist()
        t.count() // eager: member, repDocs and grpSz all read it
        t
    }
    CanonDocs(
      member = tagged.select(col("doc_id"), col("rep")),
      repDocs = tagged.filter(col("doc_id") === col("rep")).drop("rep"),
      grpSz = tagged.groupBy(col("rep")).agg(count(lit(1)).as("grp_n")))
  }

  /** Representative-level LSH candidates (a ≤ b, est attached; diagonal
    * rows = duplicate groups with ≥2 members) + the canonical doc state —
    * the shared seam of t07/t11/t12. The pair list stays LAZY: every
    * caller consumes it exactly once (expansion, the est filter, or t12's
    * eager adj localCheckpoint), so materializing it here would only add
    * an action; the signature cache it reads is representative-level
    * (distinct content, a small fraction of the corpus) and is dropped by
    * the session's cache hygiene, not mid-query. */
  private def lshRepState(docs: DataFrame,
      art: Option[(SparkSession, String)] = None): (CanonDocs, DataFrame) = {
    val cd = canonDocs(docs, art)
    val sig = art match {
      case Some((s, dir)) =>
        Artifacts.materialized(s, "minhash_repsig", dir)(
          minhashSigOf(cd.repDocs))
      case None =>
        val x = minhashSigOf(cd.repDocs).persist()
        x.count()
        x
    }
    val rp = bandCandidates(sig, includeDiagonal = true)
      .join(cd.grpSz.toDF("a", "grp_n"), "a")
      .filter(col("a") =!= col("b") || col("grp_n") >= 2)
      .drop("grp_n")
    (cd, rp)
  }

  /** t07: LSH candidate pairs — docs sharing any band bucket. The join is
    * an equi-join on (band, bucket); at 100 TB this is the whole point:
    * candidates without all-pairs — and it runs at REPRESENTATIVE level
    * ([[canonDocs]]): a corpus where every document has k exact copies
    * otherwise pays k² inside every band bucket (100× replica: 564.5 s,
    * all within-group candidates). Membership expansion reproduces the
    * doc-level pair list exactly; jaccard_est is symmetric and constant
    * within a group pair, so it rides the expansion unchanged. */
  def t07LshPairs(s: SparkSession, dir: String): DataFrame =
    t07Of(documents(s, dir), Some(s -> dir)).sortedWide("a", "b")

  private[graft] def t07Of(docs: DataFrame,
      art: Option[(SparkSession, String)] = None): DataFrame = {
    val (cd, rp) = lshRepState(docs, art)
    graft.ext.Canon.expandPairs(
      rp.select(col("a").as("ra"), col("b").as("rb"), col("jaccard_est")),
      cd.member)
  }

  /** Representative-level near-dup graph state at t12's threshold — the
    * member map, group sizes, and rep edge list (a ≤ b; a diagonal row
    * marks a duplicate group's internal clique) a production pipeline
    * keeps next to the corpus. Downstream graph consumers (t43's rank
    * propagation) read this instead of re-running candidate generation —
    * the t17/t41 cluster-map discipline; t07 itself always builds its
    * pairs live. The edge artifact is rep-level on purpose: the doc-level
    * graph is its blow-up by group multiplicity, so consumers that need
    * doc semantics reconstruct them exactly from (edges, sizes) without
    * ever materializing the k² expansion. */
  private[ext] def repGraphState(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cd, rp) = lshRepState(documents(s, dir), Some(s -> dir))
    val edges = Artifacts.materialized(s, "lsh_rep_edges", dir)(
      rp.filter(col("jaccard_est") >= 0.875)
        .select(col("a"), col("b")))
    (cd.member, cd.grpSz, edges)
  }

  /** In-session twin of [[repGraphState]] for synthetic-docs callers
    * (GraphRankSpec's equivalence proof). */
  private[graft] def repGraphStateOf(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cd, rp) = lshRepState(docs)
    (cd.member, cd.grpSz,
      rp.filter(col("jaccard_est") >= 0.875)
        .select(col("a"), col("b")).localCheckpoint())
  }

  val t07Oracle: String = {
    val est = (0 until K)
      .map(j => s"CASE WHEN x.h$j = y.h$j THEN 1.0 ELSE 0.0 END")
      .mkString("(", " + ", s") / $K")
    s"""WITH sig AS ($sigSql),
       |buckets AS (
       |  SELECT doc_id, 0 AS band, band0 AS bkt FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, band1 AS bkt FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id)
       |SELECT a, b, $est AS jaccard_est
       |FROM cand JOIN sig x ON cand.a = x.doc_id
       |          JOIN sig y ON cand.b = y.doc_id
       |ORDER BY a, b""".stripMargin
  }

  /** t09: exact n-gram Jaccard verification of the LSH candidate pairs —
    * the verify stage that completes the dedup pipeline (candidates from
    * t07, ground-truth similarity here). Cost is proportional to candidate
    * count × shingles/doc, never all-pairs; at 100 TB this is the standard
    * two-stage near-dup dedup shape. Only promising candidates (signature
    * estimate ≥ 0.75 — this corpus is homogeneous in 5-gram space, so LSH
    * legitimately surfaces ~1% of all pairs) are exactly verified. Pairs
    * with an empty shingle intersection drop out (inner join) in both
    * engines. */
  /** The rep-level sketch carrying BOTH the 8 minhash lanes and the exact
    * shingle set, as a shared per-corpus artifact — pure per-corpus state,
    * referenced by multiple self-join branches of t09 and reused whole by
    * t59's banding curve (a parquet scan replaces the persist+count the
    * sketch needed as a view). */
  private[ext] def minhashSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Md5Lanes.graft_md5_lanes
    val cd = canonDocs(documents(s, dir), Some(s -> dir))
    Artifacts.materialized(s, "minhash_sketch", dir)(
      shinglesOf(cd.repDocs)
        .select(col("doc_id"), col("sh"),
          graft_md5_lanes(col("sh")).as("lv"))
        .groupBy(col("doc_id"))
        .agg(laneMinAggs.head,
          laneMinAggs.tail :+ collect_set(col("sh")).as("sset"): _*)
        .select(col("doc_id") +: col("sset") +: hexLanes: _*)
        .transform(withBands(_)))
  }

  def t09JaccardVerify(s: SparkSession, dir: String): DataFrame = {
    // One pass, one shuffle: per-doc sketch carrying BOTH the 8 minhash
    // lanes (candidate generation) and the exact shingle set (verification).
    // The exact intersection is then pair-local (array_intersect on two
    // ~500-element arrays) instead of a multi-million-row shingle⋈shingle
    // join, and the shingle pipeline runs exactly once.
    // Representative level end-to-end ([[canonDocs]]): the sketch, the
    // candidates, the est gate, the intersection and the final jaccard are
    // all pure functions of the two texts, and jaccard is SYMMETRIC in
    // (a, b) — so the whole verify pipeline runs on distinct content and
    // the doc-level pair list falls out of membership expansion.
    val cd = canonDocs(documents(s, dir), Some(s -> dir))
    val sketch = minhashSketch(s, dir)
    val repJac = bandCandidates(sketch, includeDiagonal = true)
      .join(cd.grpSz.toDF("a", "grp_n"), "a")
      .filter(col("a") =!= col("b") || col("grp_n") >= 2)
      .filter(col("jaccard_est") >= 0.75)
      .join(sketch.select(col("doc_id").as("a"), col("sset").as("sa")),
        Seq("a"))
      .join(sketch.select(col("doc_id").as("b"), col("sset").as("sb")),
        Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).as("i"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .filter(col("i") > 0)
      .select(col("a").as("ra"), col("b").as("rb"),
        round(col("i") / (col("na") + col("nb") - col("i")), 4)
          .as("jaccard"))
    graft.ext.Canon.expandPairs(repJac, cd.member)
      .sortedWide("a", "b")
  }

  val t09Oracle: String = {
    val est = (0 until K)
      .map(j => s"CASE WHEN x.h$j = y.h$j THEN 1.0 ELSE 0.0 END")
      .mkString("(", " + ", s") / $K")
    s"""WITH sig AS ($sigSql),
       |buckets AS (
       |  SELECT doc_id, 0 AS band, band0 AS bkt FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, band1 AS bkt FROM sig),
       |cand0 AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id),
       |cand AS (
       |  SELECT a, b FROM cand0
       |  JOIN sig x ON cand0.a = x.doc_id
       |  JOIN sig y ON cand0.b = y.doc_id
       |  WHERE $est >= 0.75),
       |shd AS (SELECT DISTINCT doc_id, sh FROM ($shinglesSql) q),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, COUNT(*) AS i
       |  FROM cand c
       |  JOIN shd x ON x.doc_id = c.a
       |  JOIN shd y ON y.doc_id = c.b AND y.sh = x.sh
       |  GROUP BY c.a, c.b)
       |SELECT inter.a, inter.b,
       |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = inter.a
       |           JOIN sz sb ON sb.doc_id = inter.b
       |ORDER BY inter.a, inter.b""".stripMargin
  }

  /** t11: edit-distance verification of the strongest LSH candidates —
    * the character-level near-dup check (Levenshtein on 40-char prefixes;
    * full-text edit distance is O(n²) per pair, so production bounds the
    * window exactly like this). Candidates only — never all-pairs. */
  def t11EditDistance(s: SparkSession, dir: String): DataFrame = {
    // Levenshtein runs once per representative pair (identical texts ⇒
    // identical prefixes ⇒ identical distances; symmetric, so it rides
    // the membership expansion). The O(len²) distance kernel is exactly
    // the cost canonicalization should never pay per duplicate copy.
    val (cd, rp) = lshRepState(documents(s, dir), Some(s -> dir))
    val p = cd.repDocs
      .select(col("doc_id"), substring(col("text"), 1, 40).as("prefix"))
    val repEd = rp
      .filter(col("jaccard_est") >= 0.875)
      .join(p.select(col("doc_id").as("a"), col("prefix").as("pa")), Seq("a"))
      .join(p.select(col("doc_id").as("b"), col("prefix").as("pb")), Seq("b"))
      .select(col("a").as("ra"), col("b").as("rb"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
    graft.ext.Canon.expandPairs(repEd, cd.member)
      .sortedWide("a", "b")
  }

  val t11Oracle: String = {
    val est = (0 until K)
      .map(j => s"CASE WHEN x.h$j = y.h$j THEN 1.0 ELSE 0.0 END")
      .mkString("(", " + ", s") / $K")
    s"""WITH sig AS ($sigSql),
       |buckets AS (
       |  SELECT doc_id, 0 AS band, band0 AS bkt FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, band1 AS bkt FROM sig),
       |cand0 AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id),
       |cand AS (
       |  SELECT a, b FROM cand0
       |  JOIN sig x ON cand0.a = x.doc_id
       |  JOIN sig y ON cand0.b = y.doc_id
       |  WHERE $est >= 0.875),
       |p AS (SELECT doc_id, substr(text, 1, 40) AS prefix FROM documents)
       |SELECT a, b,
       |  CAST(levenshtein(pa.prefix, pb.prefix) AS BIGINT) AS edit_dist
       |FROM cand JOIN p pa ON cand.a = pa.doc_id
       |          JOIN p pb ON cand.b = pb.doc_id
       |ORDER BY a, b""".stripMargin
  }

  /** SimHash signature (32-bit, word-token level): bit j of a token's md5
    * votes ±1; sign of the vote sum per bit forms the fingerprint. One
    * explode + one groupBy(doc_id). Shared by t08 (signatures) and t13
    * (hamming-banded near-dup pairs). */
  private[graft] def simhashSigOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id")) // parallelize the explode (see shingles: explicit N
      // or AQE coalesces the pre-explode exchange to one partition)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("hv", conv(substring(graft_md5(col("tok")), 1, 8), 16, 10)
        .cast("long"))
    val votes = (0 until 32).map(j =>
      sum(when(col("hv").bitwiseAND(lit(1L << j)) =!= 0L, 1L)
        .otherwise(-1L)).as(s"v$j"))
    val sig = (0 until 32)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  private def simhashSig(s: SparkSession, dir: String): DataFrame =
    simhashSigOf(documents(s, dir))

  /** t08: the SimHash fingerprint table. */
  def t08Simhash(s: SparkSession, dir: String): DataFrame =
    simhashSig(s, dir).sortedWide("doc_id")

  /** DuckDB replica of [[simhashSig]]: the md5-derived 32-bit token hash
    * (`('0x' || substr(md5(tok),1,8))::BIGINT` == Spark's
    * `conv(substring(md5, 1, 8), 16, 10)`), the ±1 per-bit votes, and the
    * sign-bit reassembly. Standalone query (no trailing ORDER BY) so t08
    * and t13 can both embed it. */
  private val simhashSqlBody: String = {
    val votes = (0 until 32).map(j =>
      s"SUM(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val sig = (0 until 32)
      .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hv AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hv
       |  FROM toks),
       |v AS (SELECT doc_id, $votes FROM hv GROUP BY doc_id)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash
       |FROM v""".stripMargin
  }

  val t08Oracle: String = simhashSqlBody + "\nORDER BY doc_id"

  /** t10: the composed training-data filter — exact dedup (keeper only) →
    * language gate → quality gates (token count + stopword ratio), emitting
    * the surviving mix with its token budget. One declarative plan: Catalyst
    * fuses the per-row gates into the scan and the dedup is the only
    * shuffle. This is the end-to-end shape an LLM data pipeline runs at
    * 100 TB. */
  def t10TrainingMix(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val keepers = d
      .groupBy(graft_md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val nTokens = size(split(col("text"), " ")).cast("long")
    val theCnt = litCount(col("text"), "the")
    d.join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), nTokens.as("n_tokens"),
        (theCnt / nTokens).as("stopword_ratio"))
      .filter(col("lang").isin("en", "es", "fr") &&
        col("n_tokens") >= 30 && col("n_tokens") <= 110 &&
        col("stopword_ratio") < 0.2)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .sortedWide("doc_id")
  }

  val t10Oracle: String = {
    val nt = "CAST(len(string_split(text, ' ')) AS BIGINT)"
    val the = litCountSql("text", "the")
    s"""WITH keepers AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |gated AS (
       |  SELECT doc_id, lang, $nt AS n_tokens,
       |    $the / $nt AS stopword_ratio
       |  FROM documents WHERE doc_id IN (SELECT doc_id FROM keepers))
       |SELECT doc_id, lang, n_tokens FROM gated
       |WHERE lang IN ('en', 'es', 'fr')
       |  AND n_tokens BETWEEN 30 AND 110
       |  AND stopword_ratio < 0.2
       |ORDER BY doc_id""".stripMargin
  }

  /** t12: near-dup cluster assignment — connected components over the
    * high-confidence LSH pairs (est ≥ 0.875, same threshold the exact
    * verifier uses), labeling every document with the smallest doc_id in
    * its component. This completes the dedup pipeline: candidates (t07) →
    * verify (t09) → *transitive closure into dedup groups* (here), from
    * which a keeper-per-cluster policy is a trivial filter.
    *
    * Implementation is min-label propagation with pointer doubling: per
    * round each node takes the min over {its label, its neighbors' labels,
    * *its label's label*}. The shortcut step halves path lengths, so
    * convergence is O(log diameter) rounds even on chain-shaped
    * components (plain propagation is O(diameter) — measured 25+ rounds
    * on this corpus's near-dup chains). Each round is whole DataFrame
    * jobs (join + groupBy — the shuffle unit is the edge partition, never
    * a driver-side graph), and `localCheckpoint` truncates lineage so
    * analysis cost stays constant per round instead of growing with the
    * iteration count. The DuckDB oracle computes the same closure with a
    * recursive CTE. */
  def t12DedupClusters(s: SparkSession, dir: String): DataFrame =
    t12Of(documents(s, dir), Some(s -> dir)).sortedWide("doc_id")

  /** The per-corpus cluster-assignment table, materialized once per JVM —
    * what a production pipeline keeps next to the corpus snapshot and
    * every DOWNSTREAM consumer (dedup-apply t17, leakage-safe split t41)
    * reads instead of re-running the closure. t12 itself always runs the
    * closure live — it IS the closure query and bills its real cost. */
  private[ext] def clusterMap(s: SparkSession, dir: String): DataFrame =
    Artifacts.materialized(s, "lsh_clusters", dir)(
      t12Of(documents(s, dir), Some(s -> dir)))

  private[graft] def t12Of(docs: DataFrame,
      art: Option[(SparkSession, String)] = None): DataFrame = {
    // The closure runs on the REPRESENTATIVE graph ([[canonDocs]]):
    // within-group edges (est = 1.0 ≥ any threshold) only restate that a
    // group is connected, and cross-group doc edges exist iff the rep
    // edge exists, so doc-level components = rep-level components
    // expanded by membership. The component label (smallest member
    // doc_id) survives collapsing because every rep IS its group's
    // minimum — min over a component's docs = min over its reps. Label
    // rounds therefore iterate over distinct-content nodes and edges;
    // a 100-way-duplicated corpus would otherwise hand the O(log d)
    // rounds a 10⁴×-bigger edge list (the t07 finding).
    val (cd, rp) = lshRepState(docs, art)
    // Materialize the skinny edge list BEFORE the orientation union:
    // the union references edges twice, and a lazy pair join upstream
    // would execute twice (measured: t12 3.8 → 5.6 s when edges stayed
    // a view). Corpus queries keep it as a per-corpus artifact (a pure
    // function of the text); synthetic callers localCheckpoint as before.
    def buildEdges: DataFrame = rp
      .filter(col("jaccard_est") >= 0.875)
      .filter(col("a") =!= col("b")) // group connectivity is the member map
      .select(col("a"), col("b"))
    val edges = art match {
      case Some((s, dir)) =>
        Artifacts.materialized(s, "lsh_edges", dir)(buildEdges)
      case None => buildEdges.localCheckpoint()
    }
    val adj = edges.union(edges.select(col("b"), col("a")))
      .toDF("src", "dst")
    var labels = cd.repDocs
      .select(col("doc_id"), col("doc_id").as("lab")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 20) {
      val nbrMin = labels
        .join(adj, labels("doc_id") === adj("src"))
        .groupBy(col("dst")).agg(min(col("lab")).as("nlab"))
      val hooked = labels
        .join(nbrMin, labels("doc_id") === nbrMin("dst"), "left")
        .select(col("doc_id"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab"))
      // pointer doubling: jump to the label's own current label
      val byDoc = labels
        .select(col("doc_id").as("ld"), col("lab").as("llab"))
      val updated = hooked
        .join(byDoc, hooked("lab") === byDoc("ld"), "left")
        .select(col("doc_id"),
          least(col("lab"), coalesce(col("llab"), col("lab"))).as("lab"))
        .localCheckpoint()
      rounds += 1
      // the first rounds of any non-trivial component set always change;
      // skip their fixpoint-check job (correct for any input — worst case
      // is two no-op rounds on an edgeless graph)
      changed =
        if (rounds < 3) 1L
        else updated.as("u")
          .join(labels.as("l"), "doc_id")
          .filter(col("u.lab") < col("l.lab")).count()
      labels = updated
    }
    // Expand: every document inherits its representative's component label.
    cd.member.join(labels.toDF("rep", "cluster"), "rep")
      .select(col("doc_id"), col("cluster"))
  }

  val t12Oracle: String =
    s"""WITH RECURSIVE sig AS ($sigSql),
       |buckets AS (
       |  SELECT doc_id, 0 AS band, band0 AS bkt FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, band1 AS bkt FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id),
       |edges AS (
       |  SELECT a, b FROM cand
       |  JOIN sig x ON cand.a = x.doc_id
       |  JOIN sig y ON cand.b = y.doc_id
       |  WHERE ${(0 until K).map(j =>
              s"CASE WHEN x.h$j = y.h$j THEN 1.0 ELSE 0.0 END")
              .mkString("(", " + ", s") / $K")} >= 0.875),
       |adj AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION SELECT b, a FROM edges),
       |reach(doc, r) AS (
       |  SELECT src, dst FROM adj
       |  UNION
       |  SELECT reach.doc, adj.dst FROM reach
       |  JOIN adj ON reach.r = adj.src)
       |SELECT d.doc_id,
       |  least(coalesce(MIN(r.r), d.doc_id), d.doc_id) AS cluster
       |FROM documents d LEFT JOIN reach r ON d.doc_id = r.doc
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** t13: SimHash near-dup pairs — hamming distance ≤ 2 on the 32-bit
    * fingerprints, found WITHOUT all-pairs: the signature splits into 3
    * bands (11+11+10 bits), and by pigeonhole any pair within hamming 2 agrees
    * exactly on ≥1 band, so candidates come from an equi-join on
    * (band index, band value) and only candidates pay the exact
    * bit_count(xor) check. The same band trick is how simhash dedup runs
    * at 100 TB (candidate volume ~ bucket collisions, not n²). */
  /** `nBands` near-equal splits of a `width`-bit signature, widest first
    * — (shift, mask) per band. Pigeonhole: hamming ≤ nBands-1 ⇒ ≥1 band
    * agrees exactly (property-tested in BandingSpec). nBands is the
    * candidate-volume knob: more bands catch larger hamming radii but
    * each band gets fewer bits, so random bucket collisions grow
    * (2^-bits per band). 3 bands over 32 bits = the 11+11+10 default. */
  private[graft] def simhashBandBits(nBands: Int,
      width: Int = 32): Seq[(Int, Long)] = {
    require(nBands >= 1 && nBands <= width)
    val base = width / nBands
    val extra = width % nBands
    val sizes = Seq.tabulate(nBands)(i => if (i < extra) base + 1 else base)
    sizes.scanLeft(0)(_ + _).zip(sizes).map {
      case (shift, sz) => (shift, (1L << sz) - 1)
    }
  }

  /** Hamming-banded candidate pairs over a (doc_id, simhash) table —
    * exact hamming attached, candidates only (never all-pairs). The full
    * signature RIDES the band stream (one extra long per bucket row), so
    * hamming computes inside the band join itself — no re-join against
    * the signature table; the distinct collapses multi-band collisions
    * on (a, b, hamming), where hamming is a pure pair function
    * (measured: t13 2.32 → the two sig joins and one exchange gone). */
  private[graft] def simhashBandedPairs(sig: DataFrame,
      nBands: Int, includeDiagonal: Boolean = false,
      width: Int = 32): DataFrame = {
    val buckets = simhashBandBits(nBands, width).zipWithIndex.map {
      case ((shift, mask), i) =>
        sig.select(col("doc_id"), col("simhash"), lit(i).as("band"),
          shiftright(col("simhash"), shift).bitwiseAND(lit(mask))
            .as("bval"))
    }.reduce(_ union _)
    val ord =
      if (includeDiagonal) col("x.doc_id") <= col("y.doc_id")
      else col("x.doc_id") < col("y.doc_id")
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          ord)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
      .select(col("a"), col("b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long")
          .as("hamming"))
  }

  def t13SimhashPairs(s: SparkSession, dir: String): DataFrame =
    t13Of(documents(s, dir), Some(s -> dir)).sortedWide("a", "b")

  private[graft] def t13Of(docs: DataFrame,
      art: Option[(SparkSession, String)] = None): DataFrame = {
    // Representative level ([[canonDocs]]): identical texts have identical
    // fingerprints, so duplicated corpora pay k² inside every hamming band
    // bucket (100× replica: 202.9 s). Hamming is symmetric (diagonal = 0 ≤
    // any radius), so rep pairs expand to the doc-level list unchanged.
    val cd = canonDocs(docs, art)
    val sig = art match {
      case Some((s, dir)) =>
        Artifacts.materialized(s, "simhash_repsig", dir)(
          simhashSigOf(cd.repDocs))
      case None =>
        val x = simhashSigOf(cd.repDocs).persist()
        x.count()
        x
    }
    val rp = simhashBandedPairs(sig, nBands = 3, includeDiagonal = true)
      .join(cd.grpSz.toDF("a", "grp_n"), "a")
      .filter(col("a") =!= col("b") || col("grp_n") >= 2)
      .filter(col("hamming") <= 2)
      .select(col("a").as("ra"), col("b").as("rb"), col("hamming"))
    graft.ext.Canon.expandPairs(rp, cd.member)
  }

  val t13Oracle: String =
    s"""WITH ssig AS ($simhashSqlBody),
       |bkt AS (
       |  SELECT doc_id, 0 AS band, simhash & 2047 AS bval FROM ssig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, (simhash >> 11) & 2047 AS bval FROM ssig
       |  UNION ALL
       |  SELECT doc_id, 2 AS band, (simhash >> 22) & 1023 AS bval FROM ssig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bkt x JOIN bkt y
       |    ON x.band = y.band AND x.bval = y.bval
       |   AND x.doc_id < y.doc_id)
       |SELECT a, b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
       |FROM cand
       |JOIN ssig sa ON cand.a = sa.doc_id
       |JOIN ssig sb ON cand.b = sb.doc_id
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 2
       |ORDER BY a, b""".stripMargin

  /** t14: deterministic train/eval split — hash-based stratified
    * assignment (md5 of a salted doc key mod 100, 80/20). The split is a
    * pure function of the document id: stable across runs, machines, and
    * engine versions, which is the property a training pipeline needs for
    * reproducible data splits. Map-only + one tiny aggregation. */
  def t14HashSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(
      graft_md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long") % 100
    documents(s, dir)
      .select(col("lang"),
        when(bucket < 80, "train").otherwise("eval").as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .sortedSmall("lang", "split")
  }

  val t14Oracle: String =
    """WITH d AS (
      |  SELECT lang,
      |    CASE WHEN CAST(('0x' || substr(
      |        md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |        % 100 < 80
      |      THEN 'train' ELSE 'eval' END AS split,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT lang, split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens
      |FROM d GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** t15: token-budget shard packing — assign documents (in doc_id order)
    * to fixed-budget training shards: shard = exclusive-prefix-sum(tokens)
    * div budget. The sequential-looking running total is computed
    * distributed by [[graft.ops.Rank.withPrefixSum]] (range partition +
    * per-partition running sum + broadcast partition offsets), the same
    * two-pass shape as the global rank — no single-partition window, no
    * driver loop. */
  def t15ShardPacking(s: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    val d = documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.ops.Rank
      .withPrefixSum(d, Seq(col("doc_id")), col("n_tokens"), "start_tok")
      .select(col("doc_id"), col("n_tokens"),
        (col("start_tok") / budget).cast("long").as("shard"))
      .sortedWide("doc_id")
  }

  val t15Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_tokens,
      |    coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS start_tok
      |  FROM d)
      |SELECT doc_id, n_tokens,
      |  CAST(start_tok // 2000 AS BIGINT) AS shard
      |FROM p ORDER BY doc_id""".stripMargin

  /** t16: character-trigram frequency profile per language — the n-gram
    * feature table behind statistical language ID (t04 is the cheap
    * stopword scorer; this is the profile a model-based identifier
    * trains on). Map-side explode → (lang, trigram) hash agg → grouped
    * top-k via partitioned window. */
  def t16TrigramProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Conditional fan-out (not the pre-aligned explicit repartition the
    // minhash/simhash chains use): the aggregation below keys on
    // (lang, tri), so this exchange exists purely to parallelize the
    // explode — at production split counts it should vanish.
    val tri = graft.ops.Par.fanOut(documents(s, dir), "doc_id")
      .select(col("lang"),
        explode(sequence(lit(1), greatest(col("n_chars") - 2, lit(1))))
          .as("i"),
        col("text"))
      .select(col("lang"), col("text").substr(col("i"), lit(3)).as("tri"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("tri"))
    tri.groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .sortedSmall("lang", "rnk")
  }

  val t16Oracle: String =
    """WITH tri AS (
      |  SELECT lang, substr(text, CAST(i AS INT), 3) AS tri
      |  FROM documents JOIN (
      |    SELECT CAST(x AS BIGINT) AS i
      |    FROM generate_series(1, 2048) t(x)) s
      |  ON s.i <= greatest(n_chars - 2, 1)),
      |c AS (SELECT lang, tri, COUNT(*) AS n FROM tri GROUP BY 1, 2),
      |r AS (SELECT lang, tri, n,
      |        row_number() OVER (PARTITION BY lang
      |                           ORDER BY n DESC, tri) AS rnk
      |      FROM c)
      |SELECT lang, tri, n, rnk FROM r WHERE rnk <= 3
      |ORDER BY lang, rnk""".stripMargin

  /** t17: dedup APPLIED — the capstone composition: t12's connected
    * components pick one canonical document per near-dup cluster
    * (keeper = the doc whose id equals its cluster label), and the
    * surviving corpus is summarized per language with its retained token
    * budget and dedup rate. This is the actual shape of a production
    * dedup stage: cluster → elect keeper → semi-join the corpus down. */
  def t17DedupApply(s: SparkSession, dir: String): DataFrame = {
    // Reads the materialized cluster map ([[clusterMap]]) — dedup-apply
    // consumes the corpus's cluster assignment, it never recomputes it.
    val keepers = clusterMap(s, dir)
      .filter(col("doc_id") === col("cluster"))
      .select(col("doc_id"))
    documents(s, dir)
      .join(keepers, Seq("doc_id"), "left_semi")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_kept"))
      .join(documents(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total")), "lang")
      .select(col("lang"), col("n_total"), col("n_kept"),
        round(lit(1.0) - col("n_kept") / col("n_total"), 4)
          .as("dedup_rate"),
        col("tokens_kept"))
      .sortedSmall("lang")
  }

  val t17Oracle: String =
    s"""WITH clusters AS ($t12Oracle),
       |kept AS (
       |  SELECT d.* FROM documents d
       |  JOIN clusters c ON d.doc_id = c.doc_id AND c.cluster = d.doc_id),
       |k AS (
       |  SELECT lang, COUNT(*) AS n_kept,
       |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
       |      AS BIGINT) AS tokens_kept
       |  FROM kept GROUP BY lang),
       |t AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang)
       |SELECT t.lang, n_total, n_kept,
       |  round(1.0 - n_kept / CAST(n_total AS DOUBLE), 4) AS dedup_rate,
       |  tokens_kept
       |FROM k JOIN t ON k.lang = t.lang
       |ORDER BY t.lang""".stripMargin

  /** t18: the production dedup ORDERING as one composed plan — exact
    * dedup first (t01's hash-groupBy keepers), THEN MinHash/LSH candidate
    * generation over the surviving corpus only. PLANS.md's 100× replica
    * measures why this ordering matters: on a corpus with c-way exact
    * duplication, LSH-first pays ~n·C(c,2) clique pairs (25 M at 100×)
    * while dedup-first collapses every clique in one hash-agg pass and
    * the quadratic stage sees unique documents only. Same two shuffles
    * as t07 plus the keeper semi-join (broadcast at this cardinality,
    * bucketed co-location at 100 TB). */
  def t18DedupThenLsh(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val keepers = d
      .groupBy(graft_md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val sig = Artifacts.materialized(s, "minhash_keptsig", dir)(
      minhashSigOf(d.join(keepers, Seq("doc_id"), "left_semi")))
    bandCandidates(sig).sortedWide("a", "b")
  }

  val t18Oracle: String = {
    val est = (0 until K)
      .map(j => s"CASE WHEN x.h$j = y.h$j THEN 1.0 ELSE 0.0 END")
      .mkString("(", " + ", s") / $K")
    s"""WITH kept AS (
       |  SELECT d.* FROM documents d
       |  JOIN (SELECT MIN(doc_id) AS doc_id FROM documents
       |        GROUP BY md5(text)) k ON d.doc_id = k.doc_id),
       |sig AS (${sigSqlFrom("kept")}),
       |buckets AS (
       |  SELECT doc_id, 0 AS band, band0 AS bkt FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, band1 AS bkt FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id)
       |SELECT a, b, $est AS jaccard_est
       |FROM cand JOIN sig x ON cand.a = x.doc_id
       |          JOIN sig y ON cand.b = y.doc_id
       |ORDER BY a, b""".stripMargin
  }

  /** t59: the MinHash-LSH banding tuning curve — the same 8 signature
    * lanes banded three ways (1×8, 2×4, 4×2), each config reporting its
    * candidate volume and its precision MEASURED on a deterministic
    * sample: the fraction of the first [[VerifyCap]] candidates (by
    * (a, b)) whose EXACT shingle Jaccard clears 0.8 (compared as
    * 5·|∩| ≥ 4·|∪| — integer-exact on both engines). This is the text-
    * side sibling of e34's nprobe curve: the r/b knob-setting run behind
    * t07's shipped (8, 2) banding, measuring the trade the banding
    * scaladoc states (narrower bands → more candidates, lower
    * precision). Rep-level by the Canon discipline: the curve is a
    * property of distinct content — duplicate copies would inflate every
    * config's candidate count quadratically and identically. The 8×1
    * arm is deliberately absent: on this homogeneous corpus single-lane
    * collisions approach all-pairs (measured: 88% of rep pairs at
    * sf0.01) — the curve's three points already bracket the knee.
    *
    * Plan shape: the sketch is the shared per-corpus artifact (lanes +
    * exact shingle set in one row); each config is one digest-keyed
    * equi-self-join carrying IDS ONLY (never all-pairs, never the sets),
    * the candidate table is itself a per-corpus artifact read by the
    * volume count and the verify branch, and the exact verify joins the
    * sets for ≤ VerifyCap pairs per config (pair-local array_intersect —
    * the t09 budget, capped). At 100 TB the volume column is the real
    * cost axis and the verify cost is a constant. */
  /** Exact-verify sample size per config: precision is estimated on the
    * deterministic first `VerifyCap` candidates by (a, b) — the sampled-
    * verify discipline every at-scale LSH evaluation uses (verifying ALL
    * candidates of a narrow banding IS the quadratic blowup the curve
    * exists to expose; first measured here as 210 s at sf0.1 with the
    * 8×1 arm fully verified). */
  private val VerifyCap = 4096

  def t59BandingCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sketch = minhashSketch(s, dir)
    // Candidate pairs per config carry IDS ONLY — volume counting never
    // ships the shingle sets through the shuffle. Rep-level pure corpus
    // state referenced by two branches (volume + sampled verify) → the
    // standard per-corpus artifact; bounded by DISTINCT content (the
    // Canon discipline keeps it constant under duplication).
    val cand = Artifacts.materialized(s, "banding_cand", dir)(
      Seq(1, 2, 4).map { c =>
        val w = K / c
        val bkts = (0 until c).map { j =>
          graft_md5(concat(lit(s"$j:") +:
            (j * w until (j + 1) * w).map(i => col(s"h$i")): _*))
        }
        val ex = sketch.select(col("doc_id"),
          explode(array(bkts: _*)).as("bkt"))
        ex.select(col("bkt"), col("doc_id").as("a"))
          .join(ex.select(col("bkt"), col("doc_id").as("b")), Seq("bkt"))
          .filter(col("a") < col("b"))
          .select(lit(c.toLong).as("bands"), col("a"), col("b"))
          .distinct()
      }.reduce(_ unionByName _))
    // The candidate artifact is ~4.6M rows in ONE compacted file (2 scan
    // splits under the 4 MB open-cost floor): both consumers below — the
    // volume count's partial aggregate and the rank pushdown's PARTIAL
    // WindowGroupLimit (which fully sorts each scan split; measured 2.5 s
    // as a single-task sort) — inherit that near-serial parallelism from
    // the file layout. One deterministic hash repartition fans both out
    // across the cores (guide §2.5: partition counts must not be hostage
    // to input file layout); the two branches share the exchange via
    // ReuseExchange, so it is shuffled once.
    val candP = cand.repartition(
      cand.sparkSession.sparkContext.defaultParallelism,
      col("a"), col("b"))
    val vol = candP.groupBy(col("bands"))
      .agg(count(lit(1)).as("n_candidates"))
    val wCfg = Window.partitionBy(col("bands")).orderBy(col("a"), col("b"))
    val sets = sketch.select(col("doc_id"), col("sset"))
    val verified = candP
      .withColumn("rn", row_number().over(wCfg))
      .filter(col("rn") <= VerifyCap)
      .join(sets.select(col("doc_id").as("a"), col("sset").as("sa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("sset").as("sb")), "b")
      .select(col("bands"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("ss"))
      .select(col("bands"), col("i"), (col("ss") - col("i")).as("u"))
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_verified"),
        sum(when(col("i") * 5 >= col("u") * 4, 1L).otherwise(0L))
          .as("n_true"))
    vol.join(verified, "bands")
      .select(col("bands"), col("n_candidates"), col("n_verified"),
        col("n_true"),
        expr("1000000 * n_true div n_verified").as("precision_ppm"))
      .sortedSmall("bands")
  }

  /** Replays the rep collapse, the lane mins, the three band digests,
    * the candidate count, and the top-[[VerifyCap]] sampled exact verify
    * (LEFT join keeps empty-intersection candidates, matching the
    * engine's array_intersect = 0). */
  val t59Oracle: String = {
    val repsSrc = "(SELECT MIN(doc_id) AS doc_id, text, " +
      "MIN(n_chars) AS n_chars FROM documents GROUP BY text)"
    val hs = (0 until K).map(j => s"min(${laneSql(j)}) AS h$j")
      .mkString(", ")
    val bucketArms = Seq(1, 2, 4).flatMap { c =>
      val w = K / c
      (0 until c).map { j =>
        val lanes = (j * w until (j + 1) * w).map(i => s"h$i")
          .mkString(" || ")
        s"SELECT $c AS bands, doc_id, md5('$j:' || $lanes) AS bkt FROM sig"
      }
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH shn AS (${shinglesSqlFrom(repsSrc)}),
       |shd AS (SELECT DISTINCT doc_id, sh FROM shn),
       |d AS (SELECT doc_id, md5('0' || sh) AS d1, md5('1' || sh) AS d2
       |      FROM shn),
       |sig AS (SELECT doc_id, $hs FROM d GROUP BY doc_id),
       |buckets AS (
       |  $bucketArms),
       |cand AS (
       |  SELECT DISTINCT x.bands, x.doc_id AS a, y.doc_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.bands = y.bands AND x.bkt = y.bkt
       |    AND x.doc_id < y.doc_id),
       |vol AS (SELECT bands, COUNT(*) AS n_candidates FROM cand
       |        GROUP BY bands),
       |samp AS (
       |  SELECT bands, a, b FROM (
       |    SELECT bands, a, b,
       |      row_number() OVER (PARTITION BY bands ORDER BY a, b) AS rn
       |    FROM cand)
       |  WHERE rn <= $VerifyCap),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
       |inter AS (
       |  SELECT c.bands, c.a, c.b, COUNT(*) AS i
       |  FROM samp c
       |  JOIN shd x ON x.doc_id = c.a
       |  JOIN shd y ON y.doc_id = c.b AND y.sh = x.sh
       |  GROUP BY 1, 2, 3),
       |jac AS (
       |  SELECT c.bands, coalesce(i.i, 0) AS i,
       |    sa.n + sb.n - coalesce(i.i, 0) AS u
       |  FROM samp c
       |  LEFT JOIN inter i
       |    ON i.bands = c.bands AND i.a = c.a AND i.b = c.b
       |  JOIN sz sa ON sa.doc_id = c.a
       |  JOIN sz sb ON sb.doc_id = c.b),
       |ver AS (
       |  SELECT bands, COUNT(*) AS n_verified,
       |    CAST(SUM(CASE WHEN i * 5 >= u * 4 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_true
       |  FROM jac GROUP BY bands)
       |SELECT CAST(v.bands AS BIGINT) AS bands,
       |  CAST(v.n_candidates AS BIGINT) AS n_candidates,
       |  ver.n_verified, ver.n_true,
       |  (1000000 * ver.n_true) // ver.n_verified AS precision_ppm
       |FROM vol v JOIN ver ON v.bands = ver.bands
       |ORDER BY bands""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("t01_dedup_exact", t01DedupExact, Some(t01Oracle)),
    Q("t02_token_stats", t02TokenStats, Some(t02Oracle)),
    Q("t03_quality_score", t03QualityScore, Some(t03Oracle)),
    Q("t04_lang_id", t04LangId, Some(t04Oracle)),
    Q("t05_fingerprint", t05Fingerprint, Some(t05Oracle)),
    Q("t06_minhash_sig", t06MinhashSig, Some(t06Oracle)),
    Q("t07_lsh_pairs", t07LshPairs, Some(t07Oracle)),
    Q("t08_simhash", t08Simhash, Some(t08Oracle)),
    Q("t09_jaccard_verify", t09JaccardVerify, Some(t09Oracle)),
    Q("t10_training_mix", t10TrainingMix, Some(t10Oracle)),
    Q("t11_edit_distance", t11EditDistance, Some(t11Oracle)),
    Q("t12_dedup_clusters", t12DedupClusters, Some(t12Oracle)),
    Q("t13_simhash_pairs", t13SimhashPairs, Some(t13Oracle)),
    Q("t14_hash_split", t14HashSplit, Some(t14Oracle)),
    Q("t15_shard_packing", t15ShardPacking, Some(t15Oracle)),
    Q("t16_trigram_profile", t16TrigramProfile, Some(t16Oracle)),
    Q("t17_dedup_apply", t17DedupApply, Some(t17Oracle)),
    Q("t18_dedup_then_lsh", t18DedupThenLsh, Some(t18Oracle)),
    Q("t59_banding_curve", t59BandingCurve, Some(t59Oracle)),
    Q("t60_incremental_ingest", t60IncrementalIngest, Some(t60Oracle)),
    Q("t61_ingest_tombstones", t61IngestTombstones, Some(t61Oracle)))

  /** t60: incremental ingest dedup — the shape a DAILY crawl increment
    * runs: the new batch (pinned here as doc_id % 4 = 0) is deduped
    * AGAINST the existing corpus without ever joining the corpus with
    * itself. Each incoming document gets one decision: `exact` (its
    * md5 matches a corpus document), `near` (any LSH band bucket — the
    * t06/t07 (8, 2) banding — collides with a corpus signature), else
    * `new`. Both probes are LEFT-SEMI joins, so a pathological corpus
    * (one giant near-dup clique) can never materialize a pair
    * explosion: the cost is one signature pass plus two semi-joins
    * keyed by hash/bucket, and the output is exactly |increment| rows.
    * The corpus side probes a STORED index artifact — (doc_id, text
    * hash, band buckets) materialized once per corpus
    * ([[Artifacts.materialized]], the ANN-codebook discipline) — which
    * is the production 100 TB daily-crawl contract: the increment pays
    * shingling, the corpus pays a pruned scan of the index it already
    * keeps (the t06 signature table + a hash column), NEVER a re-shingle
    * of the full corpus per run. */
  def t60IncrementalIngest(s: SparkSession, dir: String): DataFrame = {
    val index = Artifacts.materialized(s, "ingest_index", dir)(
      ingestIndexOf(documents(s, dir)))
    incrementalIngestOf(documents(s, dir),
      corpusIndex = Some(index.filter(col("doc_id") % 4 =!= 0)))
      .sortedWide("doc_id")
  }

  /** The per-document ingest index — text hash + the t06 LSH band
    * buckets — i.e. everything [[incrementalIngestOf]] needs from a
    * document to be probed against. Kept next to the corpus as an
    * artifact; the daily job appends each accepted increment's rows to
    * it (signatures are per-document, so the index is append-only). */
  private[graft] def ingestIndexOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft_md5(col("text")).as("th"))
      .join(minhashSigOf(docs)
        .select(col("doc_id"), col("band0"), col("band1")), Seq("doc_id"))

  /** The t60 pipeline over any (doc_id, text, n_chars) frame — public
    * for the spec, which pins the `exact` branch the dup-free gate
    * corpus cannot reach. `corpusIndex` is the stored (doc_id, th,
    * band0, band1) artifact for the corpus arm (doc_id % 4 != 0); when
    * absent (spec-scale synthetic corpora) it is computed inline. */
  private[graft] def incrementalIngestOf(docs: DataFrame,
      corpusIndex: Option[DataFrame] = None): DataFrame = {
    val incDocs = docs.filter(col("doc_id") % 4 === 0)
    val inc = incDocs.select(col("doc_id"), graft_md5(col("text")).as("th"))
    val corIdx = corpusIndex.getOrElse(
      ingestIndexOf(docs.filter(col("doc_id") % 4 =!= 0)))
    val exact = inc.join(corIdx.select(col("th")), Seq("th"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    def bandsOf(df: DataFrame): DataFrame = (0 until 2).map(i =>
      df.select(col("doc_id"), lit(i).as("band"), col(s"band$i").as("bkt")))
      .reduce(_ unionByName _)
    val incB = bandsOf(minhashSigOf(incDocs))
    val corB = bandsOf(corIdx).select(col("band"), col("bkt"))
    val near = incB.join(corB, Seq("band", "bkt"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("is_near", lit(true))
    inc.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "exact")
          .when(col("is_near"), "near")
          .otherwise("new").as("decision"))
  }

  /** t61: INGEST DEDUP UNDER TOMBSTONES — the daily loop composed with
    * RETIREMENT: every fifth corpus document is removed from the index
    * by a row-level DELETE (deletion vectors — an O(deleted) sidecar
    * commit, zero index bytes rewritten,
    * [[graft.psn.TableStore.deleteRows]]), and the increment's probe
    * runs through the SAME partition-pruned path s24 uses
    * ([[graft.psn.TableStore.readPartitions]], hive-bucketed on the
    * probe keys) — which must subtract the vector inside the pruned
    * scan: a document whose only duplicate was retired now correctly
    * decides `new`. The oracle recomputes decisions against the
    * post-retirement corpus, so the hash gate proves DV subtraction
    * composes with partition pruning, not just with full scans.
    *
    * Scale shape: retirement is the 100 TB takedown path (GDPR erasure,
    * licence recall) — O(deleted) vector bytes + one manifest; the
    * probe stays O(increment + touched buckets) with the vector
    * anti-join folded into the pruned scan. */
  def t61IngestTombstones(s: SparkSession, dir: String): DataFrame = {
    val buckets = 8
    val docs = documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val base = java.nio.file.Files.createTempDirectory("graft_t61")
    val store = new graft.psn.TableStore(s, base.resolve("wh").toString)
    val pbktOf = pmod(hash(col("th")), lit(buckets))
    val bbktOf = pmod(hash(col("band"), col("bkt")), lit(buckets))
    def bandsOf(df: DataFrame): DataFrame = (0 until 2).map(i =>
      df.select(col("doc_id"), lit(i).as("band"), col(s"band$i").as("bkt")))
      .reduce(_ unionByName _)
    val corpusDocs = docs.filter(col("doc_id") % 4 =!= 0)
    // ONE table, TWO row families told apart by the partition value
    // `sbkt` — exact-hash rows in [0, buckets), band rows in
    // [buckets, 2×buckets) — the s24 composite layout. Round 15 kept two
    // tables here, which paid FOUR commits of fixed cost per run (two
    // index appends + two tombstone DV commits) and scanned the corpus
    // index twice in deleteRows; one table costs exactly two commits and
    // one DV scan, while each probe still prunes to its own bucket range
    // (the row families never share a partition directory).
    def exactRows(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("th"),
        lit(null).cast("int").as("band"), lit(null).cast("string").as("bkt"),
        pbktOf.cast("int").as("sbkt"))
    def bandRows(df: DataFrame): DataFrame = bandsOf(df)
      .select(col("doc_id"), lit(null).cast("string").as("th"),
        col("band").cast("int").as("band"), col("bkt"),
        (bbktOf + buckets).cast("int").as("sbkt"))
    store.append("ingest_idx",
      exactRows(corpusDocs
          .select(col("doc_id"), graft_md5(col("text")).as("th")))
        .unionByName(bandRows(minhashSigOf(corpusDocs)))
        .repartition(2 * buckets, col("sbkt")),
      Some("sbkt"))
    // retire every fifth corpus document: ONE DV commit covers both row
    // families, zero index bytes rewritten
    store.deleteRows("ingest_idx", col("doc_id") % 5 === 1)
    val incDocs = docs.filter(col("doc_id") % 4 === 0)
    val inc = incDocs
      .select(col("doc_id"), graft_md5(col("text")).as("th")).persist()
    val sig = minhashSigOf(incDocs).persist()
    try {
      // one bounded collect: both probes' touched buckets (≤ 2×buckets)
      val bkts = inc.select(pbktOf.as("b"), lit(0).as("side"))
        .unionByName(bandsOf(sig).select(bbktOf.as("b"), lit(1).as("side")))
        .distinct().collect()
      val thB = bkts.filter(_.getInt(1) == 0).map(_.getInt(0)).toSeq
      val bandB = bkts.filter(_.getInt(1) == 1)
        .map(r => r.getInt(0) + buckets).toSeq
      val idxTh = store.readPartitions("ingest_idx", "sbkt", thB)
      val idxB = store.readPartitions("ingest_idx", "sbkt", bandB)
      val exact = inc.join(idxTh.select(col("th")), Seq("th"), "left_semi")
        .select(col("doc_id")).withColumn("is_exact", lit(true))
      val near = bandsOf(sig)
        .join(idxB.select(col("band"), col("bkt")),
          Seq("band", "bkt"), "left_semi")
        .select(col("doc_id")).distinct().withColumn("is_near", lit(true))
      inc.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact"), "exact")
            .when(col("is_near"), "near")
            .otherwise("new").as("decision"))
        .sortedWide("doc_id")
    } finally { inc.unpersist(); sig.unpersist(): Unit }
  }

  lazy val t61Oracle: String =
    s"""WITH sig AS ($sigSql),
       |inc AS (SELECT doc_id, md5(text) AS th FROM documents
       |        WHERE doc_id % 4 = 0),
       |cor AS (SELECT md5(text) AS th FROM documents
       |        WHERE doc_id % 4 <> 0 AND doc_id % 5 <> 1),
       |ex AS (SELECT DISTINCT i.doc_id FROM inc i JOIN cor c
       |       ON i.th = c.th),
       |ib AS (SELECT doc_id, 0 AS band, band0 AS bkt FROM sig
       |         WHERE doc_id % 4 = 0
       |       UNION ALL
       |       SELECT doc_id, 1, band1 FROM sig WHERE doc_id % 4 = 0),
       |cb AS (SELECT 0 AS band, band0 AS bkt FROM sig
       |         WHERE doc_id % 4 <> 0 AND doc_id % 5 <> 1
       |       UNION ALL
       |       SELECT 1, band1 FROM sig
       |       WHERE doc_id % 4 <> 0 AND doc_id % 5 <> 1),
       |nr AS (SELECT DISTINCT ib.doc_id FROM ib JOIN cb
       |       ON ib.band = cb.band AND ib.bkt = cb.bkt)
       |SELECT i.doc_id,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
       |       WHEN nr.doc_id IS NOT NULL THEN 'near'
       |       ELSE 'new' END AS decision
       |FROM inc i LEFT JOIN ex ON i.doc_id = ex.doc_id
       |LEFT JOIN nr ON i.doc_id = nr.doc_id
       |ORDER BY i.doc_id""".stripMargin

  // lazy: referenced by `all`, which is declared above this definition
  lazy val t60Oracle: String =
    s"""WITH sig AS ($sigSql),
       |inc AS (SELECT doc_id, md5(text) AS th FROM documents
       |        WHERE doc_id % 4 = 0),
       |cor AS (SELECT md5(text) AS th FROM documents
       |        WHERE doc_id % 4 <> 0),
       |ex AS (SELECT DISTINCT i.doc_id FROM inc i JOIN cor c
       |       ON i.th = c.th),
       |ib AS (SELECT doc_id, 0 AS band, band0 AS bkt FROM sig
       |         WHERE doc_id % 4 = 0
       |       UNION ALL
       |       SELECT doc_id, 1, band1 FROM sig WHERE doc_id % 4 = 0),
       |cb AS (SELECT 0 AS band, band0 AS bkt FROM sig
       |         WHERE doc_id % 4 <> 0
       |       UNION ALL
       |       SELECT 1, band1 FROM sig WHERE doc_id % 4 <> 0),
       |nr AS (SELECT DISTINCT ib.doc_id FROM ib JOIN cb
       |       ON ib.band = cb.band AND ib.bkt = cb.bkt)
       |SELECT i.doc_id,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
       |       WHEN nr.doc_id IS NOT NULL THEN 'near'
       |       ELSE 'new' END AS decision
       |FROM inc i LEFT JOIN ex ON i.doc_id = ex.doc_id
       |LEFT JOIN nr ON i.doc_id = nr.doc_id
       |ORDER BY i.doc_id""".stripMargin
}
