package graft.ext

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.psn.TableStore

/** STORE-RESIDENT materialization of per-corpus derived state — index
  * artifacts and trained models alike — the durable twin of the
  * pay-at-ingest layouts in [[graft.ops.Bucketed]].
  *
  * Two kinds of state live here, both pure functions of the corpus:
  *   - index artifacts (PQ codes, capped posting lists, canonical-
  *     representative maps, kNN edges, …), probed as lazy scans through
  *     [[materialized]];
  *   - trained models (IVF/PQ codebooks, the exact-top-k eval fixture,
  *     t45's WordPiece vocabulary, t54's BPE merge list, t55's DSIR
  *     bucket counts), KB-sized by construction and read on the driver
  *     through [[modelRows]] / [[model]]: their rows are collected ONCE
  *     per (model, corpus) per JVM into the row memo, so a consumer plans
  *     against literal rows instead of the training lineage or a scan.
  * Every model is a committed artifact table (`model_<name>`) behind that
  * memo — no per-module map keeps a second copy — so a model survives a
  * JVM restart and is rebuilt when the corpus changes, exactly like an
  * index artifact. A model build returns an explicit order column (rank,
  * round, bucket) whenever order matters: the committed rows come back in
  * parquet file order, which no decoder may rely on.
  *
  * Layout: one store warehouse per corpus directory
  * (`<indexRoot>/<murmur(dir)>`), one table per artifact name. The
  * store's CAS commit protocol supplies crash safety: a half-written
  * build from a dead run is an unpublished claim directory — invisible
  * to readers, swept by a later commit — never trusted data. The root
  * is `spark.graft.indexDir` (conf) / `SPARK_GRAFT_INDEX_DIR` (env),
  * defaulting to tmpdir.
  *
  * Staleness contract (the dir-corpus side of REFRESH INDEX semantics):
  * each committed artifact carries a `_corpusfp.v<version>` sidecar
  * fingerprinting the corpus files (relpath, size, mtime). It is named
  * like the store's own version-keyed sidecars, so the store's GC ages
  * it out with its version. A reader that finds a fingerprint mismatch
  * — the corpus was regenerated — or no fingerprint for the head
  * REBUILDS rather than serving stale candidates; an auto-refresh,
  * because a parquet corpus dir has no committed version to refuse
  * against. (Store TABLES get the refuse-loudly variant through
  * `CREATE INDEX` / `REFRESH INDEX`, [[graft.ops.Indexes]].) The
  * fingerprint is checked once per (artifact, corpus) per JVM — the
  * in-process memos (scans and model rows) assume the corpus dir
  * immutable within a process; [[dropMemoForTest]] clears both.
  *
  * `build` must be a DETERMINISTIC pure function of the corpus (seeded
  * k-means, content hashes — every consumer is hash-gated against its
  * oracle, which already enforces this), so a cold-JVM reuse is
  * bit-compatible with a rebuild.
  */
private[graft] object Artifacts {
  /** Builds actually executed by this JVM — the test witness that a
    * warm store serves probes with ZERO rebuilds. */
  private[graft] val buildCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** key -> resolved scan of a verified-fresh artifact. Memoizing the
    * DataFrame (not just the location) matters: `TableStore.read` pays a
    * marker-log listing plus parquet file listing + footer reads at PLAN
    * time, and consumers probe an artifact once per pass — a fresh
    * artifact is immutable for the JVM's lifetime (the fingerprint
    * contract above), so the resolved relation is pure fixed cost paid
    * once, the `Tables.load` discipline. A lazy plan, never rows. */
  private val fresh =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** (model, corpus dir) -> the committed model's rows and schema: the
    * driver-side row memo behind [[modelRows]]. Bounded by construction —
    * only codebook/vocabulary-sized models go through it. */
  private val rowMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Row], StructType)]()

  /** Drop the in-process memos (scans and model rows) — simulates a cold
    * JVM for specs. */
  private[graft] def dropMemoForTest(): Unit = {
    fresh.clear()
    rowMemo.clear()
  }

  private def indexRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.indexDir")
      .orElse(sys.env.get("SPARK_GRAFT_INDEX_DIR"))
      .getOrElse(new java.io.File(sys.props("java.io.tmpdir"),
        "graft_indexes").getAbsolutePath)

  /** Fingerprint of every regular file under the corpus dir:
    * (relative path, size, mtime-millis), order-independent hash. Cheap
    * — a corpus is O(tables × files) directory entries, no data read. */
  private def fingerprint(dir: String): String = {
    val root = Paths.get(dir)
    val entries =
      if (!Files.isDirectory(root)) Seq.empty[String]
      else {
        val s = Files.walk(root)
        try s.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => root.relativize(p).toString + ":" + Files.size(p) +
            ":" + Files.getLastModifiedTime(p).toMillis)
          .toSeq.sorted
        finally s.close()
      }
    Integer.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(entries))
  }

  private def fpPath(wh: String, table: String, v: Int) =
    Paths.get(wh, table, s"_corpusfp.v$v")

  /** Return a scan of the `name` artifact for corpus `dir`, building and
    * COMMITTING it to the artifact store only when no fresh committed
    * copy exists (first touch ever, or the corpus fingerprint moved). */
  def materialized(s: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val key = name + ":" + dir
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val cached = fresh.get(key)
      if (cached != null) cached
      else {
        val (wh, table) = {
          val tag = Integer.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(dir))
          val w = new java.io.File(indexRoot(s), tag).getAbsolutePath
          val store = new TableStore(s, w)
          val fp = fingerprint(dir)
          val isFresh = store.exists(name) && {
            val head = store.headVersion(name)
            val p = fpPath(w, name, head)
            Files.exists(p) && Files.readString(p).trim == fp
          }
          if (!isFresh) {
            buildCount.incrementAndGet()
            store.overwrite(name, build)
            // Build pipelines end in explicit repartition(parallelism)
            // exchanges (shinglesOf's explode parallelizer and friends),
            // which AQE never coalesces — so the committed artifact lands
            // as one tiny file PER SHUFFLE PARTITION (measured: 32 × ~20 KB
            // for minhash_sketch/pq_codes at sf0.1). Every probe then pays
            // a 32-file listing + 32 footer reads + 32 scan tasks for KBs
            // of data — pure fixed cost on the hot path (guide §6: small
            // files hurt twice). Compact once at build time, with the bin
            // target sized from the artifact's OWN bytes: bytes/parallelism
            // clamped to [1 MB, 128 MB], so a KB-sized artifact becomes ONE
            // file, a few-MB one keeps enough files that its first scan
            // still fans across cores (the 4 MB open-cost floor otherwise
            // caps a single 5 MB file at 2 splits — measured 2.5 s serial
            // sort on banding_cand's 4.6M rows), and a 100 TB-scale
            // artifact converges to ~128 MB splits. Amortized with the
            // build; the probe side is what every query pays.
            val bytes = store.tableBytes(name)
            val par = math.max(1, s.sparkContext.defaultParallelism)
            store.compact(name, targetBytes = math.min(128L * 1024 * 1024,
              math.max(1L * 1024 * 1024, bytes / par)))
            // fingerprint sidecar published AFTER the data commit (and the
            // compaction commit), named for the version it describes: a
            // crash in between leaves a committed-but-unstamped head, which
            // reads as stale and rebuilds — safe-degrade, never stale-serve
            TableStore.writeAtomically(
              fpPath(w, name, store.headVersion(name)), fp)
          }
          (w, name)
        }
        val df = new TableStore(s, wh).read(table)
        fresh.put(key, df)
        df
      }
    }
  }

  /** The rows of trained model `name` for corpus `dir` — the committed
    * `model_<name>` artifact ([[materialized]]), collected once per
    * (model, corpus) per JVM. A trained model is an ARTIFACT: built once
    * per corpus, read by every query — recomputing it inside each query
    * billed the model BUILD to every SEARCH (e07 re-trained e06's IVF;
    * e13/e14 re-trained PQ and re-ran e02's brute force), and the store
    * commit makes it survive the JVM: a cold process loads the committed
    * rows instead of re-running training over the corpus. The memo
    * survives the catalog cache clears Bench isolates queries with. */
  def modelRows(s: SparkSession, name: String, dir: String)(
      build: => DataFrame): (Array[Row], StructType) = {
    val key = s"rows:$name:$dir"
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      Option(rowMemo.get(key)).getOrElse {
        val df = materialized(s, s"model_$name", dir)(build)
        val rows = (df.collect(), df.schema)
        rowMemo.put(key, rows)
        rows
      }
    }
  }

  /** [[modelRows]] as a driver-local frame (a LocalRelation): consumers'
    * plans stop at literal data instead of the training lineage. */
  def model(s: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val (rows, schema) = modelRows(s, name, dir)(build)
    s.createDataFrame(rows.toSeq.asJava, schema)
  }
}
