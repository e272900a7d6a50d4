package graft.psn

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, struct, sum, when}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.roaringbitmap.RoaringBitmap

/** One aggregate of a materialized view: `out` = FUNC(`in`), FUNC ∈
  * COUNT(*) | SUM | MIN | MAX — exactly the incrementally-combinable
  * class BigQuery's aggregate MVs restrict to (each merges with itself:
  * counts and sums add, min/max re-min/max), which is what makes the
  * stale-rows + delta combine in [[TableStore.readMaterialized]] sound. */
final case class MvAgg(out: String, func: String, in: String)

/** Sink abstraction (SURVEY §2.2 K1-K6) over a parquet warehouse directory:
  * append = K1/K2 (`insert_rows_from_dataframe` / WRITE_APPEND loads),
  * overwrite = K3 (WRITE_TRUNCATE), merge = K4 (`UPDATE … FROM temp`, which
  * the reference runs inside BigQuery's transactional DML; here the commit
  * protocol below gives the same semantics), drop = K5.
  *
  * == Versions ==
  *
  * Version N is a list of immutable files ([[filesOf]]): those its writer
  * put under its own `v<N>/` directory, plus those its commit INHERITS,
  * named in the claim's `_inherited` manifest by their path relative to
  * the table root (the Delta Lake design: a version names files, it never
  * copies or links them). A commit that keeps its base's files therefore
  * costs O(1) file operations whatever the table's size. Every write
  * commits — an [[append]] too is a new version that inherits its base's
  * files — so a published version never changes. Everything that names a
  * file — deletion-vector entries, stats and Bloom sidecar entries, a
  * materialized view's covered set — uses that same root-relative path,
  * valid in every version that inherits the file.
  *
  * == Commit protocol ==
  *
  * Every committing verb is one call of ONE primitive, [[transact]]:
  *
  *   1. claim `<table>/v<X>/` via atomic `createDirectory` (two racing
  *      writers cannot claim the same version directory);
  *   2. run the verb's STAGE function, which fills the claim (new files,
  *      base files inherited by name, a deletion vector, …) and reports
  *      the declared schema and the inherited files, which the claim's
  *      manifest names before the publish (empty when it inherits none);
  *   3. COMPARE-AND-SWAP on the commit log: publish `<table>/_commit.<S+1>`
  *      (content `v<X>`, the commit time, an optional transaction tag),
  *      where S is the seq of the base the stage read. The publish is
  *      `Files.createLink` of a staged content file — POSIX link(2) is
  *      atomic create-if-absent WITH content (rename without
  *      REPLACE_EXISTING is check-then-rename in the JDK, i.e. not a CAS,
  *      and createFile-then-write has an empty-content crash window). On
  *      an object store the same seam maps to put-if-absent;
  *   4. the post-commit step: refresh the advisory `_current` pointer, GC
  *      the versions behind the replaced head, carry the declared-schema
  *      and stats sidecars forward, seed the schema memo.
  *
  * Exactly one writer can own seq S+1. A loser follows its verb's
  * [[LostRace]] policy: REBASE (overwrite, clone, transactions) publishes
  * the same claim at the next free seq; RE-APPLY (merges, appends — a
  * first write included) re-stages on the new head, so no update is
  * lost, and throws after repeated losses; GIVE UP (compact, cluster,
  * evolution, restore, row deletes) discards the claim — nothing changed.
  *
  * The marker log is the source of truth: readers resolve the HIGHEST
  * `_commit.<seq>`'s content at DataFrame creation; `_current` is a
  * human-readable hint only. Consequences:
  *   - a reader mid-commit sees exactly the old or the new version, never a
  *     mix: committed files are immutable, and a commit names the old
  *     files it keeps instead of touching them;
  *   - a crash anywhere before step 3 leaves the table untouched; the
  *     orphaned claim is swept by a later commit's GC or by [[vacuum]].
  *     There is NO wedged state: an unpublished claim blocks nobody
  *     (versions are sparse), and a published marker is complete;
  *   - an in-flight reader of the previous version keeps its snapshot: GC
  *     retains one version behind the head (readers are assumed to finish
  *     within one upstream commit) and deletes a file only once no
  *     retained version names it.
  *
  * == Reads ==
  *
  * Every read-side verb pins ONE marker — `head(table)` once, or the
  * marker of a retained version — and takes everything it reads from it:
  * the version's files, its schema (the `_schema.v<N>` sidecar, else the
  * commit's memoized footer schema), its deletion vector and its stats
  * sidecar. Every row it reads goes through one scan of that marker
  * ([[scan]]), so a verb never mixes two versions and every reader
  * subtracts deletes and null-fills evolved columns the same way. A
  * deletion vector is one Roaring bitmap of row positions per data file
  * ([[DeletionVectors]]), read on the driver; the scan subtracts it with
  * one predicate over `_metadata.file_path` and `_metadata.row_index`, so
  * a read of a table with deletes plans no join. The verbs that only
  * count or carry deletes (row counts, the partition catalog, inherit,
  * clone) read and write the bitmaps on the driver with no Spark job.
  */
final class TableStore(private[graft] val spark: SparkSession,
    warehouse: String) {
  import TableStore._

  private def dir(table: String): Path = Paths.get(warehouse, table)

  /** The warehouse root — the seam secondary-index metadata
    * ([[graft.ops.Indexes]]) keys its sidecars off. */
  private[graft] def warehouseDir: String = warehouse
  private def pointer(table: String): Path = dir(table).resolve("_current")

  private val MarkerName = "_commit\\.(\\d+)".r
  private val VersionDir = "v(\\d+)".r
  /** A sidecar keyed to version N, beside the log: `_<name>.v<N>`. */
  private val VersionSidecar = "_\\w+\\.v(\\d+)".r

  /** One commit-log entry: the commit that published `version` at `seq`.
    * `ts` is the commit wall-clock stamp (epoch millis); `tag` is the
    * optional application transaction tag (see [[txnVersion]]). A marker
    * also IDENTIFIES its commit: a dropped and recreated table reuses seqs
    * and version numbers, never (seq, ts) pairs. */
  private final case class Marker(seq: Int, version: Int, ts: Long,
      tag: Option[String])

  /** The head of a table with no commit (it does not exist). */
  private val NoCommit = Marker(0, 0, 0L, None)

  /** Marker content: line 1 `v<version>`, then a `ts=<millis>` line and an
    * optional `tag=<text>` line. */
  private def parseMarker(seq: Int, content: String): Marker = {
    val lines = content.linesIterator.toSeq.map(_.trim).filter(_.nonEmpty)
    def field(key: String) =
      lines.collectFirst { case l if l.startsWith(key) => l.stripPrefix(key) }
    Marker(seq, lines.head.stripPrefix("v").toInt,
      field("ts=").getOrElse(throw new IllegalStateException(
        s"commit marker $seq has no ts= line")).toLong,
      field("tag="))
  }

  /** The commit log, ascending by seq. Marker files are published
    * atomically with their content (hard link), so a listed marker is
    * always complete. */
  private def markerLog(table: String): Seq[Marker] =
    listDir(table).flatMap { p =>
      p.getFileName.toString match {
        case MarkerName(s) =>
          // A concurrent commit's GC may sweep an AGED marker between the
          // directory listing and this read; the head marker is never
          // swept (retention keeps one version behind it), so a missing
          // file here is by definition not the head — skip it.
          try Some(parseMarker(s.toInt, Files.readString(p)))
          catch { case _: java.nio.file.NoSuchFileException => None }
        case _ => None
      }
    }.sortBy(_.seq)

  /** Head of the commit log — the commit readers resolve. */
  private def head(table: String): Marker =
    markerLog(table).lastOption.getOrElse(NoCommit)

  /** The marker that published retained version `v` (seq 0 when none did:
    * an unpublished claim below the head). */
  private def markerOf(table: String, v: Int): Marker =
    markerLog(table).findLast(_.version == v).getOrElse(Marker(0, v, 0L, None))

  /** The head commit's version number (0 = no commit). A rebased commit
    * can number below the version it replaced, so this is not always the
    * highest of [[versions]]. */
  private[graft] def headVersion(table: String): Int = head(table).version

  /** CAS publish of commit seq (content: version + commit time + optional
    * transaction tag, see [[parseMarker]]): the marker iff this writer won
    * the seq. link(2) atomically creates the marker complete with content
    * or fails with EEXIST; the staged source is always removed. */
  private def publish(table: String, seq: Int, version: Int,
      tag: Option[String]): Option[Marker] = {
    val m = Marker(seq, version, System.currentTimeMillis, tag)
    val marker = dir(table).resolve(s"_commit.$seq")
    val staged = dir(table).resolve(
      s"_commit.$seq.staged.${System.nanoTime}.${Thread.currentThread.getId}")
    Files.writeString(staged,
      s"v$version\nts=${m.ts}" + tag.map(t => s"\ntag=$t").getOrElse(""))
    try { Files.createLink(marker, staged); Some(m) }
    catch { case _: java.nio.file.FileAlreadyExistsException => None }
    finally { Files.deleteIfExists(staged) }
  }

  /** Directory of committed version `v`; the bare table directory when
    * there is none, so a read of a missing table fails as path-not-found. */
  private def snapshotDir(table: String, v: Int): Path =
    if (v > 0) dir(table).resolve(s"v$v") else dir(table)

  /** Entries of directory `p`; none when it does not exist. */
  private def list(p: Path): List[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }

  private def listDir(table: String): Seq[Path] = list(dir(table))

  /** Names of the warehouse's table and view directories. */
  private def namespace(): Seq[String] =
    list(Paths.get(warehouse)).filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  def exists(table: String): Boolean = headVersion(table) > 0

  /** Names of every table with a committed version in this store — the
    * namespace listing (the K6 counterpart of BigQuery's
    * dataset.list_tables). Driver-side directory walk: bounded by the
    * table COUNT, never data-sized. */
  def tables(): Seq[String] = namespace().filter(exists).sorted

  def read(table: String): DataFrame = scan(table, head(table))

  /** Wildcard table read — BigQuery's `FROM ds.events_*` idiom: the union
    * of every store table whose name extends `prefix`, each branch tagged
    * with a `_TABLE_SUFFIX` pseudo-column holding the name remainder as a
    * per-branch LITERAL. That literal is the whole pruning design: a
    * WHERE over `_TABLE_SUFFIX` constant-folds inside each branch, so
    * Catalyst's PruneFilters collapses non-matching branches to empty
    * relations and their parquet scans vanish from the plan — shard
    * pruning as an optimizer consequence, not bespoke code. Branch
    * schemas union BY NAME with null-fill (BigQuery's wildcard contract:
    * shards may drift by added columns).
    *
    * `suffixPred` additionally prunes at METADATA time — with 10 000
    * date shards, planning a 10 000-branch union just to fold most away
    * is wasted driver work; callers that already know the suffix range
    * pass it here and the union is built over survivors only. */
  def readWildcard(prefix: String,
      suffixPred: String => Boolean = _ => true): DataFrame = {
    val matched = tables()
      .filter(t => t.startsWith(prefix) && t.length > prefix.length)
      .filter(t => suffixPred(t.stripPrefix(prefix)))
    require(matched.nonEmpty,
      s"wildcard '$prefix*' matches no store table")
    matched.map { t =>
      read(t).withColumn("_TABLE_SUFFIX",
        org.apache.spark.sql.functions.lit(t.stripPrefix(prefix)))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** THE scan of pinned marker `m`: `paths` (some of its data files; all
    * of them when empty) under the version's schema ([[schemaOf]]) —
    * which makes metadata-only evolution sound: Spark null-fills missing
    * columns and projects away undeclared ones per file — minus its
    * DELETION VECTOR when it has one ([[deleteRows]]). The vector is
    * subtracted by one predicate ([[KeepLive]]) over each row's
    * `_metadata.file_path` and `_metadata.row_index`, holding the bitmaps
    * of the scanned files only: no join, no exchange, no broadcast.
    * `positions` keeps each row's file path as `_metadata.file_path`
    * renders it ([[DvPath]], see [[relOfUri]]) and in-file row index
    * ([[DvPos]]): stable for immutable files, and the same in every
    * version that inherits the file. `live = false` skips the
    * subtraction: a bloom built over a file describes its bytes, which
    * outlive any one version's vector. */
  private def scan(table: String, m: Marker, paths: Seq[Path] = Nil,
      positions: Boolean = false, live: Boolean = true): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val schema = schemaOf(table, m) // a missing table fails here
    val vf = filesOf(table, m)
    val scanned = if (paths.isEmpty) vf.data else paths
    val files = parquetOf(table, schema, scanned)
    val vector = if (live) deletedOf(table, vf) else Map.empty[String, RoaringBitmap]
    val deleted = scanned.flatMap(f => vector.get(dir(table).relativize(f).toString)
      .map(f.toAbsolutePath.normalize.toString -> _)).toMap
    val kept = if (deleted.isEmpty) files else files.filter(column(KeepLive(
      new DeletedRows(deleted), expression(col("_metadata.file_path")),
      expression(col("_metadata.row_index")))))
    if (!positions) kept
    else kept.withColumn(DvPath, col("_metadata.file_path"))
      .withColumn(DvPos, col("_metadata.row_index"))
  }

  /** The root-relative path of the file `_metadata.file_path` renders as
    * `uri` (a percent-encoded URI: a partition directory may hold a space
    * or a `%`); loud for a file outside the table. */
  private def relOfUri(table: String, uri: String): String = {
    val root = dir(table).toAbsolutePath.normalize
    val f = Paths.get(new java.net.URI(uri))
    require(f.startsWith(root),
      s"$table: scanned file '$uri' lies outside the table root $root")
    root.relativize(f).toString
  }

  /** `files` of `table` as one parquet relation under `schema`, a hive
    * partition value being the `k=v` segment below a file's version
    * directory. Spark gets the store's own listing, so planning launches
    * no listing job however many directories a version's files span. */
  private def parquetOf(table: String, schema: StructType,
      files: Seq[Path]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val byVersion = files.groupBy(f => dir(table).relativize(f).getName(0))
    org.apache.spark.sql.GraftBridge.parquetFiles(spark, schema,
      files.map(f => dir(table).relativize(f).getName(0)).distinct.map { v =>
        dir(table).resolve(v).toString -> byVersion(v).map { f =>
          val p = new org.apache.hadoop.fs.Path(f.toUri)
          p.getFileSystem(conf).getFileStatus(p)
        }
      })
  }

  /** A committed version's files are immutable and share one schema (the
    * [[assertSchemaMatches]] invariant), so the schema of a version with
    * no declared sidecar is a pure function of the commit that published
    * it — memoized per store instance. Without the memo every `read` or
    * probe pays footer inference at PLAN time, a fixed cost the
    * commit-per-micro-batch loops (s18–s26, t60/t61, the DDL scripts) pay
    * dozens of times per query. The key is the commit — (table, seq, ts)
    * of its marker — not the (table, version) NAME: another store may
    * drop the table and recreate it at the same version numbers with
    * other columns. Versions no marker names are not memoized. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Long), StructType]()

  /** The schema of pinned marker `m`'s version WITHOUT planning a scan:
    * the declared `_schema.v<N>` sidecar when the table has evolved
    * ([[addColumn]]/[[dropColumn]]), else its FIRST data file's footer,
    * read with the table root as `basePath` so hive partition columns
    * still surface. A whole-directory inference costs a leaf-listing job
    * per commit on wide layouts — pure fixed overhead in
    * commit-per-micro-batch loops. */
  private def schemaOf(table: String, m: Marker): StructType =
    declaredSchemaOf(table, m.version).getOrElse {
      // no data file (or no table): the version directory, so a missing
      // table fails as path-not-found and an empty one as Spark's own error
      def infer = spark.read.option("basePath", dir(table).toString).parquet(
        filesOf(table, m).data.headOption
          .getOrElse(snapshotDir(table, m.version)).toString).schema
      if (m.seq <= 0) infer
      else schemaMemo.computeIfAbsent((table, m.seq, m.ts), _ => infer)
    }

  /** Memoize a version just written FLAT (hive layouts reorder and retype
    * partition columns on inference): parquet reads every column back
    * nullable, so that form of the written schema IS the footer schema. */
  private def seedSchema(table: String, m: Marker, written: StructType): Unit =
    schemaMemo.put((table, m.seq, m.ts),
      org.apache.spark.sql.GraftBridge.asNullable(written))
  private[graft] def memoizedSchema(table: String, v: Int): Option[StructType] = {
    val m = markerOf(table, v) // for the specs
    Option(schemaMemo.get((table, m.seq, m.ts)))
  }

  // ------------------------------------------- version files (_inherited)

  /** A version's files, absolute: data files and deletion-vector files. */
  private final case class VersionFiles(data: Seq[Path], dv: Seq[Path])

  /** Stage claim `claimed`'s manifest: `rels`, relative to the table root. */
  private def writeManifest(claimed: Path, rels: Seq[String]): Unit =
    writeAtomically(claimed.resolve("_inherited"), rels.map(_ + "\n").mkString)

  /** The paths version `v`'s manifest names; None when it cannot be read. */
  private def inheritedOf(table: String, v: Int): Option[Seq[String]] =
    try Some(Files.readString(snapshotDir(table, v).resolve("_inherited"))
      .linesIterator.filter(_.nonEmpty).toSeq)
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** THE file set of pinned marker `m`'s version — every reader of a
    * version's files goes through here. */
  private def filesOf(table: String, m: Marker): VersionFiles =
    if (m.version <= 0) VersionFiles(Nil, Nil)
    else filesIn(table, m.version, inheritedOf(table, m.version).getOrElse(Nil))

  /** Version `v`'s files when its manifest names `inherited`: those first,
    * then the files under its own directory. */
  private def filesIn(table: String, v: Int,
      inherited: Seq[String]): VersionFiles = {
    val (dv, data) = inherited.partition(_.split('/')(1) == "_dv")
    VersionFiles(data.map(dir(table).resolve) ++ dataFiles(snapshotDir(table, v)),
      dv.map(dir(table).resolve) ++ dataFiles(dvDir(snapshotDir(table, v))))
  }

  /** (data files, deletion-vector files) retained version `v` names. */
  private[graft] def namedFiles(table: String, v: Int): (Seq[Path], Seq[Path]) = {
    val vf = filesOf(table, markerOf(table, v))
    (vf.data, vf.dv)
  }

  /** `f`'s directory below its version directory: "" for a flat file,
    * the `k=v` segments for a hive partition. */
  private def partitionPath(table: String, f: Path): String = {
    val rel = dir(table).relativize(f)
    if (rel.getNameCount <= 2) "" else rel.subpath(1, rel.getNameCount - 1).toString
  }

  /** THE inherit step: keep, by name, those of base marker `m`'s data
    * files that `keep` selects, with the base's deletion-vector bitmaps
    * for exactly those — its vector files when every file is kept, else
    * the kept files' bitmaps, read and rewritten on the driver into the
    * claim's `_dv/` — and, when the first file stays first, the base's
    * memoized schema. */
  private def inherit(table: String, m: Marker, claimed: Path,
      keep: Path => Boolean = _ => true): Staged = {
    val base = filesOf(table, m)
    val kept = base.data.filter(keep)
    val rel = (f: Path) => dir(table).relativize(f).toString
    val dv =
      if (kept.length == base.data.length) base.dv.map(rel)
      else {
        val keptRels = kept.map(rel).toSet
        writeDv(claimed, deletedOf(table, base).filter(e => keptRels(e._1)))
        Nil
      }
    val seed = if (kept.nonEmpty && kept.head == base.data.head)
      Option(schemaMemo.get((table, m.seq, m.ts))) else None
    Staged(Carried, inherited = kept.map(rel) ++ dv, seed = seed)
  }

  // ----------------------------------------------- deletion vectors (_dv/)

  /** A version's own deletion vector: one [[DeletionVectors]] file of
    * Roaring bitmaps, keyed by a data file's path relative to the table
    * root, naming rows every read subtracts. Bookkeeping, so
    * [[dataFiles]] never sees it as data. */
  private def dvDir(versionDir: Path): Path = versionDir.resolve("_dv")
  private val DvPath = "__dv_path"
  private val DvPos = "__dv_pos"

  /** Write `vector` as claim `claimed`'s own vector file, if it names any
    * row. The name has no `_` or `.` prefix, so the claim's listing of
    * `_dv/` finds it. */
  private def writeDv(claimed: Path, vector: Map[String, RoaringBitmap]): Unit =
    if (vector.nonEmpty) DeletionVectors.write(dvDir(claimed).resolve("deleted.rbm"), vector)

  /** The deletion vector of files `vf`, per data file (relative path). */
  private def deletedOf(table: String, vf: VersionFiles): Map[String, RoaringBitmap] =
    DeletionVectors.union(vf.dv.map(DeletionVectors.read))

  /** Row-level DELETE WITHOUT rewriting data — deletion vectors. One
    * collect finds the matching rows' (file, position) pairs — the one
    * Spark job — and the driver writes them as one bitmap file in the
    * claim's `_dv/`; the commit inherits every data file and the base's
    * vector files: O(1) file operations + O(deleted) vector bytes.
    * Every read subtracts the vector; rewriting commits (merge,
    * overwrite, cluster) read through it, so they materialize the deletes
    * and carry no vector — the natural purge. Time travel keeps each
    * snapshot's own vector. Successive deletes union (the new scan runs
    * on the already-filtered table, so no position is named twice). A
    * delete matching nothing commits nothing; a position past
    * [[DeletionVectors.MaxPosition]] fails it. Refused on change-feed
    * tables: the feed streams raw appended files. Returns the number of
    * rows deleted. */
  def deleteRows(table: String, condition: org.apache.spark.sql.Column,
      txnTag: Option[String] = None): Long = {
    val pinned = head(table)
    require(pinned.version > 0, s"deleteRows: table '$table' does not exist")
    requireWritable(table, pinned) // loud before the scan, not after it
    requireNotMv(table, "deleteRows")
    requireNoFeed(table, "deleteRows")
    checkTag(txnTag)
    val hits = scan(table, pinned, positions = true).filter(condition)
      .select(col(DvPath), col(DvPos)).collect()
    if (hits.isEmpty) return 0L
    val vector = hits.groupMap(_.getString(0))(_.getLong(1)).map { case (uri, ps) =>
      val rel = relOfUri(table, uri)
      rel -> DeletionVectors.bitmapOf(rel, ps)
    }
    val committed = transact(table, pinned, txnTag, GiveUp) { (_, claimed) =>
      val staged = inherit(table, pinned, claimed)
      writeDv(claimed, vector)
      staged
    }
    if (committed.isEmpty) throw new IllegalStateException(
      s"deleteRows($table): lost the commit race — rerun")
    hits.length.toLong
  }

  /** DESCRIBE HISTORY: the live commit log as a DataFrame — one row per
    * retained marker with (seq, version, ts_millis, txn_tag), newest
    * last. Driver-side marker reads (bounded by retention, like every
    * log walk here), then a local DataFrame: the audit surface Delta
    * spells DESCRIBE HISTORY and BigQuery hides in INFORMATION_SCHEMA. */
  def history(table: String): DataFrame = {
    require(exists(table), s"history: table '$table' does not exist")
    val rows = markerLog(table).map(m => (m.seq, m.version, m.ts, m.tag.orNull))
    import spark.implicits._
    rows.toDF("seq", "version", "ts_millis", "txn_tag")
  }

  /** RESTORE (rollback): republish a RETAINED snapshot as the new head
    * (Delta's RESTORE TABLE). The commit inherits the snapshot's files and
    * deletion vector and carries ITS declared schema, so the head becomes
    * identical to the snapshot — later deletes and schema evolution
    * undone. O(1) file operations; history is append-only (the restore is
    * a NEW version). Bounded by the retention window; restoring the head
    * is a no-op (true). Refused on change-feed tables: the feed's
    * consumers could not observe the rollback. */
  def restore(table: String, v: Int, txnTag: Option[String] = None): Boolean = {
    val pinned = head(table)
    requireWritable(table, pinned) // loud before the no-op short circuit
    requireNoFeed(table, "restore")
    checkTag(txnTag)
    val have = versions(table)
    require(have.contains(v),
      s"restore($table): version v$v not retained (readable: " +
        s"${have.mkString(",")})")
    if (v == pinned.version) return true
    transact(table, pinned, txnTag, GiveUp) { (_, claimed) =>
      // the head's declaration is the SNAPSHOT's (or absent), never
      // carried forward from the rolled-back head
      inherit(table, markerOf(table, v), claimed)
        .copy(declared = Exactly(declaredSchemaOf(table, v)))
    }.isDefined
  }

  /** Versions currently readable, ascending: every version whose commit
    * marker GC has not aged out. A claim that is
    * still staging (or was abandoned) has no marker and stays hidden,
    * whatever its number; a rebased commit can publish a LOWER number than
    * the head it replaced, and that retained head stays listed. */
  def versions(table: String): Seq[Int] = {
    val onDisk = listDir(table).map(_.getFileName.toString).toSet
    markerLog(table).map(_.version).distinct
      .filter(v => onDisk(s"v$v")).sorted
  }

  // ------------------------------------------------------- logical views

  private def viewDefPath(name: String): Path =
    dir(name).resolve("_viewdef")

  def isView(name: String): Boolean = Files.exists(viewDefPath(name))

  /** CREATE VIEW — a LOGICAL view: the stored artifact is the SQL text
    * itself (BigQuery's standard view), re-planned against the CURRENT
    * state of whatever it references at every query. No rows are
    * materialized — freshness is free and storage is one sidecar file;
    * the trade against [[createMaterializedView]] is paying the full
    * plan per read. The definition is validated by the CALLER (binding
    * needs [[graft.ops.Sql]]'s resolver); this just claims the name. */
  def createView(name: String, sql: String, orReplace: Boolean = false): Unit = {
    require(sql.trim.nonEmpty, "CREATE VIEW: empty definition")
    require(!exists(name) && !isMaterializedView(name),
      s"CREATE VIEW $name: a table or materialized view already holds " +
        "the name")
    require(orReplace || !isView(name),
      s"CREATE VIEW $name: view exists (use CREATE OR REPLACE VIEW)")
    Files.createDirectories(dir(name))
    writeAtomically(viewDefPath(name), sql)
  }

  def viewSql(name: String): String = {
    require(isView(name), s"'$name' is not a view")
    Files.readString(viewDefPath(name))
  }

  /** View names, sorted. A view binds its references when a statement
    * reads it ([[graft.ops.Sql]]), so no registration order exists to
    * keep. */
  def views(): Seq[String] = namespace().filter(isView).sorted

  /** Logical views whose stored SQL reads `table`: the relations in the
    * parsed definition — FROM and JOIN items, comma joins, subqueries,
    * time-travel pins and TABLE_CHANGES bases, never a WITH name or a
    * column. Bounded by view COUNT — one sidecar read and parse per
    * view. */
  def viewsReferencing(table: String): Seq[String] =
    views().filter(v => v != table &&
      graft.ops.Sql.relationsIn(spark, viewSql(v)).contains(table))

  def dropView(name: String): Unit = {
    require(isView(name), s"DROP VIEW $name: no such view")
    deleteRecursive(dir(name))
  }

  // ------------------------------------------------- clones + snapshots

  /** True when `table` was created read-only (CREATE SNAPSHOT TABLE).
    * The flag lives INSIDE the committed version directory, not the
    * table root: a clone that crashes (or loses its publish race) before
    * committing leaves only an orphaned claim — invisible here — so a
    * failed snapshot-clone can never permanently poison the target name
    * for later CREATEs. A snapshot refuses every write, so its flagged
    * version is its only version for life. */
  def isSnapshot(table: String): Boolean = isSnapshotAt(table, head(table))

  private def isSnapshotAt(table: String, m: Marker): Boolean =
    m.version > 0 &&
      Files.exists(snapshotDir(table, m.version).resolve("_snapshot"))

  /** Every mutating path funnels through here (every commit via
    * [[claimNext]]; verbs that scan before they claim, and RENAME, check
    * explicitly first): a SNAPSHOT table
    * refuses all writes for its whole life — the read-only half of the
    * BigQuery snapshot contract. DROP stays allowed (deleting a snapshot
    * is how BigQuery retires one; the data it shares with the source
    * lives on through the hard-link counts). `m` is the head the caller
    * pinned. */
  private def requireWritable(table: String, m: Marker): Unit = {
    // the table/view namespace is mutually exclusive: a committing write
    // under a logical view's name would nest version dirs beside the
    // stored definition and every later statement would resolve the name
    // to the STALE view SQL — loud here, the funnel every write passes
    require(!isView(table),
      s"'$table' is a logical view — tables cannot be written under a " +
        "view's name (DROP VIEW first, or pick another name)")
    require(!isSnapshotAt(table, m),
      s"'$table' is a read-only snapshot table (CREATE SNAPSHOT TABLE) — " +
        "writes are refused; clone it writable (CREATE TABLE … CLONE) or " +
        "drop it")
  }

  /** Direct DML refuses materialized views (BigQuery does the same):
    * their rows are DERIVED state pinned to the base by the `_mvdef`
    * sidecar — an append or merge would silently corrupt every
    * [[readMaterialized]] combine after it. REFRESH maintains a view;
    * DROP retires it. The MV machinery itself rewrites through the
    * internal commit path, not these verbs. */
  private def requireNotMv(table: String, op: String): Unit =
    require(!isMaterializedView(table),
      s"'$table' is a materialized view — $op would corrupt its stored " +
        "combine; REFRESH MATERIALIZED VIEW maintains it, DROP retires it")

  /** Zero-copy table clone — BigQuery's `CREATE TABLE … CLONE` (Delta's
    * SHALLOW CLONE): a retained snapshot of `source` (the head, or a pinned
    * earlier version) becomes a NEW table whose v1 hard-links the
    * snapshot's data files into its own directory and carries its
    * sidecars — declared schema, deletion vector (its bitmaps read and
    * rewritten on the driver, keys rebased onto the clone's paths), CHECK
    * constraints. The one cross-table way to keep files: a clone must
    * outlive its source's GC, so it links where a commit inherits by
    * name. O(files) link(2) calls, zero bytes copied; the tables then
    * evolve independently (committed files are immutable), and the
    * shared inodes live until the last referrer goes.
    * `snapshot = true` marks the clone read-only for life (BigQuery's
    * CREATE SNAPSHOT TABLE). Returns the clone's version number (1). */
  def cloneTable(source: String, target: String,
      asOfVersion: Option[Int] = None, snapshot: Boolean = false,
      txnTag: Option[String] = None): Int = {
    require(exists(source), s"clone: source table '$source' does not exist")
    require(!exists(target),
      s"clone: target table '$target' already exists in the store")
    checkTag(txnTag)
    val v = asOfVersion.getOrElse(headVersion(source))
    val have = versions(source)
    require(have.contains(v),
      s"clone($source): version v$v not retained (readable: " +
        s"${have.mkString(",")})")
    transact(target, head(target), txnTag, Rebase) { (_, claimed) =>
      val vf = filesOf(source, markerOf(source, v))
      vf.data.foreach { f =>
        val p = partitionPath(source, f)
        val dst = claimed.resolve(p).resolve(f.getFileName.toString)
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, f)
      }
      // the bitmaps name the source's paths: rebase each onto the claim
      writeDv(claimed, deletedOf(source, vf).map { case (rel, bits) =>
        claimed.getFileName.toString + rel.dropWhile(_ != '/') -> bits
      })
      val cs = constraints(source)
      if (cs.nonEmpty) writeConstraints(target, cs)
      // The flag rides in the claimed dir and becomes visible WITH the
      // commit: read-only from the first visible instant, and a crashed
      // clone leaves no stale root flag to poison the name.
      if (snapshot) Files.writeString(claimed.resolve("_snapshot"), "")
      Staged(Exactly(declaredSchemaOf(source, v)))
    }.get
  }

  // ---------------------------------------------------- INFORMATION_SCHEMA

  /** INFORMATION_SCHEMA.TABLES — the warehouse's own catalog as a
    * queryable DataFrame: every readable table with its kind (BASE
    * TABLE / SNAPSHOT / MATERIALIZED VIEW — BigQuery's table_type
    * vocabulary), committed version, metadata-only row count (parquet
    * footers, zero data read — [[countRows]]), data-file count, and
    * column count. Driver-side directory + footer walk: O(tables ×
    * files) metadata I/O, no Spark job for the stats themselves — the
    * catalog must stay readable even when the cluster is saturated. */
  def informationSchemaTables(): DataFrame = {
    import spark.implicits._
    tables().map { t =>
      val m = head(t)
      val tpe =
        if (isSnapshotAt(t, m)) "SNAPSHOT"
        else if (isMaterializedView(t)) "MATERIALIZED VIEW"
        else "BASE TABLE"
      (t, tpe, m.version, rowCount(t, m), filesOf(t, m).data.length,
        schemaOf(t, m).fields.length)
    }.toDF("table_name", "table_type", "version", "n_rows", "n_files",
      "n_columns")
  }

  /** INFORMATION_SCHEMA.COLUMNS — (table, column, ordinal, type) for
    * every readable table, under each table's DECLARED schema (so
    * metadata-only ADD/DROP COLUMN show their post-evolution shape,
    * not a sampled footer's). */
  def informationSchemaColumns(): DataFrame = {
    import spark.implicits._
    tables().flatMap { t =>
      read(t).schema.fields.zipWithIndex.map { case (f, i) =>
        (t, f.name, i + 1, f.dataType.sql)
      }
    }.toDF("table_name", "column_name", "ordinal_position", "data_type")
  }

  /** INFORMATION_SCHEMA.PARTITIONS — BigQuery's partition-level catalog:
    * one row per hive partition of `table` with its metadata-only row
    * count (parquet footers minus the cardinalities of the partition's
    * deletion-vector bitmaps — zero data read, no Spark job) and
    * data-file count. Unpartitioned tables yield one `__NULL__` row
    * covering the whole table, matching BigQuery's null partition_id.
    * The partition-management surface rests on this: retention sweeps,
    * skew audits, and load balancing all start from "how big is each
    * partition" answered without a scan. */
  def informationSchemaPartitions(table: String,
      parallelism: Int = 8): DataFrame = {
    import spark.implicits._
    val vf = filesOf(table, head(table))
    val conf = spark.sessionState.newHadoopConf()
    // a file's partition: the first directory below its version directory
    def partOf(f: Path) = partitionPath(table, f).split('/').head match {
      case d if d.contains("=") => d
      case _ => "__NULL__"
    }
    // deleted rows per partition, so partition counts subtract exactly
    // their own deletes
    val dvByDir = deletedOf(table, vf).toSeq.groupMapReduce(
      e => partOf(dir(table).resolve(e._1)))(_._2.getLongCardinality)(_ + _)
    val byPart = vf.data.groupBy(partOf)
    byPart.toSeq.map { case (part, files) =>
      val rows = pooled(files, parallelism)(
        FileStats.rowCount(conf, _)).sum - dvByDir.getOrElse(part, 0L)
      val value =
        if (part == "__NULL__") part
        else java.net.URLDecoder.decode(
          part.substring(part.indexOf('=') + 1), "UTF-8")
      (table, value, rows, files.length)
    }.sortBy(_._2)
      .toDF("table_name", "partition_value", "n_rows", "n_files")
  }

  // ---------------------------------------------------- materialized views

  /** A view's definition and what its stored rows cover: the base's data
    * files and deletion-vector files, relative to the base's table root. */
  private final case class MvDef(base: String, keys: Seq[String],
      aggs: Seq[MvAgg], dv: Set[String], covered: Set[String])

  private def mvDefPath(mv: String): Path = dir(mv).resolve("_mvdef")

  def isMaterializedView(mv: String): Boolean = Files.exists(mvDefPath(mv))

  /** Sidecar format (line-oriented like the marker log): base, keys,
    * aggs (`out:func:in`), the pinned deletion-vector files (tab-separated,
    * empty for none), then one covered relPath per line. Rewritten
    * atomically on refresh. */
  private def writeMvDef(mv: String, d: MvDef): Unit =
    writeAtomically(mvDefPath(mv),
      (Seq(d.base, d.keys.mkString("\t"),
        d.aggs.map(a => s"${a.out}:${a.func}:${a.in}").mkString("\t"),
        d.dv.toSeq.sorted.mkString("\t")) ++ d.covered.toSeq.sorted)
        .mkString("", "\n", "\n"))

  private def readMvDef(mv: String): MvDef = {
    require(isMaterializedView(mv),
      s"'$mv' is not a materialized view (no _mvdef sidecar)")
    val lines = Files.readString(mvDefPath(mv)).linesIterator.toSeq
    MvDef(lines.head, lines(1).split("\t").toSeq,
      lines(2).split("\t").toSeq.map { s =>
        val Array(o, f, i) = s.split(":", 3); MvAgg(o, f, i)
      },
      lines(3).split("\t").filter(_.nonEmpty).toSet,
      lines.drop(4).filter(_.nonEmpty).toSet)
  }

  private def mvAggExprs(aggs: Seq[MvAgg]) = aggs.map {
    case MvAgg(out, "COUNT", _) => count(lit(1)).as(out)
    case MvAgg(out, "SUM", c) => sum(col(c)).as(out)
    case MvAgg(out, "MIN", c) => min(col(c)).as(out)
    case MvAgg(out, "MAX", c) => max(col(c)).as(out)
    case MvAgg(_, f, _) => throw new IllegalArgumentException(
      s"materialized views support COUNT(*)/SUM/MIN/MAX, got $f")
  }

  /** The self-merge of each MV aggregate — counts/sums ADD, min/max
    * re-minimize/maximize — applied over stored ∪ delta partials. */
  private def mvCombineExprs(aggs: Seq[MvAgg]) = aggs.map {
    case MvAgg(out, "COUNT" | "SUM", _) => sum(col(out)).as(out)
    case MvAgg(out, "MIN", _) => min(col(out)).as(out)
    case MvAgg(out, "MAX", _) => max(col(out)).as(out)
    case MvAgg(_, f, _) => throw new IllegalArgumentException(
      s"materialized views support COUNT(*)/SUM/MIN/MAX, got $f")
  }

  /** `d`'s GROUP BY over exactly the data files `rels` (relPaths) of
    * base marker `m`. */
  private def mvAggOver(d: MvDef, m: Marker, rels: Set[String]): DataFrame = {
    scan(d.base, m, rels.toSeq.map(dir(d.base).resolve))
      .groupBy(d.keys.map(col): _*)
      .agg(mvAggExprs(d.aggs).head, mvAggExprs(d.aggs).tail: _*)
  }

  /** Pinned marker `m`'s (data files, deletion-vector files), relative to
    * the table root. */
  private def relPaths(table: String, m: Marker): (Set[String], Set[String]) = {
    val vf = filesOf(table, m)
    val rel = (f: Path) => dir(table).relativize(f).toString
    (vf.data.map(rel).toSet, vf.dv.map(rel).toSet)
  }

  /** Whether a base version with data files `files` and deletion-vector
    * files `dv` only GREW since `d` was pinned: it names every covered file
    * and exactly the vector files the view pinned, so its rows are the
    * covered rows plus those of `files -- d.covered`. Appends keep this;
    * a merge, overwrite or compact drops covered files and a row delete
    * adds a vector file, so each falls back to a full recompute. */
  private def mvGrewOnly(d: MvDef, files: Set[String], dv: Set[String]): Boolean =
    d.covered.subsetOf(files) && dv == d.dv

  /** CREATE MATERIALIZED VIEW — BigQuery's aggregate MV: a store table
    * holding `SELECT keys, aggs FROM base GROUP BY keys`, plus a sidecar
    * pinning WHAT it covered (the base's data and deletion-vector files,
    * relative to the base's table root). The restriction to COUNT/SUM/MIN/MAX is the
    * point, not a shortcut: it
    * is the class whose partials merge associatively, so a read can
    * combine the stored rows with a partial aggregate over just the
    * files appended since — BigQuery's "smart tuning" freshness — and a
    * REFRESH can advance the view incrementally. At 100 TB the MV turns
    * a full-table aggregate into a tiny-table read plus a delta scan. */
  def createMaterializedView(mv: String, base: String, keys: Seq[String],
      aggs: Seq[MvAgg]): Unit = {
    require(exists(base), s"materialized view base '$base' does not exist")
    require(!exists(mv) && !isMaterializedView(mv),
      s"CREATE MATERIALIZED VIEW $mv: name already exists in the store")
    require(keys.nonEmpty && aggs.nonEmpty,
      "a materialized view needs >= 1 GROUP BY key and >= 1 aggregate")
    val m = head(base)
    val (files, dv) = relPaths(base, m)
    val d = MvDef(base, keys, aggs, dv, files)
    overwrite(mv, mvAggOver(d, m, files))
    writeMvDef(mv, d)
  }

  /** Data files of the MV's base that the stored rows do NOT cover —
    * appends since the last (re)materialization. Freshness evidence for
    * gates; empty right after REFRESH. Meaningful only while the base
    * only grew (a rewrite or a row delete invalidates the file algebra
    * wholesale — see [[readMaterialized]]), else 0. */
  def mvDeltaFiles(mv: String): Int = {
    val d = readMvDef(mv)
    val (files, dv) = relPaths(d.base, head(d.base))
    if (!mvGrewOnly(d, files, dv)) 0 else (files -- d.covered).size
  }

  /** Read the view AT FULL FRESHNESS without rewriting it — the
    * BigQuery query-time combine, decided by file algebra
    * ([[mvGrewOnly]]), not by version number:
    *   - the base names exactly the covered files → the stored rows as-is;
    *   - the base only grew (appends committed since) → stored rows
    *     ∪ a partial aggregate over ONLY the delta files, merged per
    *     key (counts/sums add, min/max fold) — cost scales with the
    *     APPEND, not the base;
    *   - the base dropped a covered file or changed its deletion vector
    *     (merge / overwrite / compact / row delete) → transparent full
    *     recompute from the base: append-only file algebra no longer
    *     applies, and a
    *     wrong-but-fast answer is worse than a slow-but-right one.
    *     REFRESH re-pins the view and restores the cheap path.
    * Both paths read the base through [[scan]] of one pinned marker, so
    * hive-partitioned bases keep their partition columns. Aggregate
    * columns are cast back to the STORED schema — combining widens
    * sums (decimal precision growth) and the view's schema must not
    * drift with freshness. */
  def readMaterialized(mv: String): DataFrame = {
    val d = readMvDef(mv)
    val m = head(d.base)
    val (files, dv) = relPaths(d.base, m)
    mvAnswer(d, m, files, dv, read(mv))
  }

  /** [[readMaterialized]]'s answer over base marker `m`, whose data files
    * are `files` and vector files `dv`: it reads exactly those files, so a
    * refresh that records them as covered records what it aggregated. */
  private def mvAnswer(d: MvDef, m: Marker, files: Set[String],
      dv: Set[String], stored: DataFrame): DataFrame =
    if (!mvGrewOnly(d, files, dv)) mvConform(mvAggOver(d, m, files), stored)
    else {
      val delta = files -- d.covered
      if (delta.isEmpty) stored
      else {
        val merged = stored
          .unionByName(mvConform(mvAggOver(d, m, delta), stored))
          .groupBy(d.keys.map(col): _*)
          .agg(mvCombineExprs(d.aggs).head, mvCombineExprs(d.aggs).tail: _*)
        mvConform(merged, stored)
      }
    }

  /** Cast a combined/recomputed frame to the stored MV schema (column
    * order and types), so freshness never changes the view's shape. */
  private def mvConform(df: DataFrame, stored: DataFrame): DataFrame =
    df.select(stored.schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)

  /** REFRESH MATERIALIZED VIEW — materialize [[readMaterialized]]'s
    * answer and re-pin the sidecar: incremental (stored + delta merge)
    * when the base only grew by appends, full recompute when it was
    * rewritten or lost rows to a delete. No-op when already fresh. The
    * base is pinned ONCE, before the answer is planned: the files and
    * vector files the sidecar records are exactly what the answer
    * aggregated, so an append that lands during the refresh stays
    * uncovered (the next read's delta) and a rewrite that lands then
    * leaves the view pinned to the files it read (the next read
    * recomputes). */
  def refreshMaterializedView(mv: String): Unit = {
    val d = readMvDef(mv)
    val m = head(d.base)
    val (files, dv) = relPaths(d.base, m)
    if (mvGrewOnly(d, files, dv) && files.subsetOf(d.covered)) return
    val next = mvAnswer(d, m, files, dv, read(mv))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      next.count() // materialize BEFORE the overwrite drops the old rows
      // internal commit path: `overwrite` (the user verb) refuses MVs
      commitRewrite(mv, next)
      writeMvDef(mv, d.copy(dv = dv, covered = files))
    } finally next.unpersist()
  }

  /** Time-travel read of a retained snapshot: the table exactly as some
    * earlier commit left it. Bounded by the GC retention window (one
    * version behind the pointer by default) — the versioned layout makes
    * this free: a snapshot IS the list of immutable files its commit
    * names, and GC deletes none of them while it is retained. */
  def readVersion(table: String, v: Int): DataFrame = {
    val have = versions(table)
    require(have.contains(v),
      s"version v$v of $table not available (readable: ${have.mkString(",")})")
    scan(table, markerOf(table, v))
  }

  /** Timestamp time travel — BigQuery's `FOR SYSTEM_TIME AS OF`: the
    * table as of wall-clock `tsMillis`, i.e. the newest commit whose
    * stamp is ≤ the timestamp. Resolution walks the live marker log
    * (bounded by retention, like [[readVersion]]); asking for a time
    * before the oldest retained commit — or before the table existed —
    * is LOUD, never a silent empty scan: a vanished snapshot must fail
    * the audit query, not fabricate one. */
  def readAsOf(table: String, tsMillis: Long): DataFrame =
    readVersion(table, versionAsOf(table, tsMillis))

  /** Resolve a wall-clock timestamp to the newest committed version at or
    * before it — the shared resolution step of [[readAsOf]] and
    * timestamp-pinned clones. Loud outside the retention window. */
  def versionAsOf(table: String, tsMillis: Long): Int = {
    val log = markerLog(table)
    require(log.nonEmpty,
      s"$table has no commit log — SYSTEM_TIME time travel needs " +
        "versioned commits")
    val at = log.filter(_.ts <= tsMillis)
    require(at.nonEmpty,
      s"no commit of $table at or before ts=$tsMillis (oldest retained: " +
        s"ts=${log.head.ts}) — outside the retention window")
    at.last.version
  }

  /** Highest committed transaction version for application `appId` among
    * the RETAINED markers — the Delta `txn` idempotence primitive: a
    * writer that stamps commits with `tag = "<appId>:<n>"` (monotonic n,
    * e.g. a streaming batchId) can skip any replayed n ≤ this. The
    * lookback window equals marker retention (≥ 1 commit behind head),
    * which covers exactly the at-least-once replay foreachBatch can see
    * after checkpoint recovery: the one batch whose sink commit landed
    * but whose checkpoint offset did not. */
  def txnVersion(table: String, appId: String): Option[Long] = {
    val prefix = appId + ":"
    markerLog(table).flatMap(_.tag)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong)
      .maxOption
  }

  /** Time-travel diff: full-row changes between two retained snapshots,
    * keyed on `key`. One full outer join on the key; each side's non-key
    * columns compare as a single struct (null-safe), so the diff is one
    * shuffle regardless of schema width. `change` ∈ added | removed |
    * changed — unchanged rows are dropped. The audit companion to
    * [[mergeWith]]: "what did commit N actually do" without replaying the
    * transform. */
  def diffVersions(table: String, from: Int, to: Int, key: String): DataFrame = {
    val before = readVersion(table, from)
    val after = readVersion(table, to)
    require(before.columns.sameElements(after.columns),
      s"schema changed between v$from and v$to of $table — row diff undefined")
    val rest = before.columns.filterNot(_ == key)
    def packed(df: DataFrame, side: String) = df.select(
      col(key).as(s"${side}_key"),
      struct(rest.map(col).toIndexedSeq: _*).as(s"${side}_row"))
    packed(before, "b")
      .join(packed(after, "a"), col("b_key") === col("a_key"), "full_outer")
      .filter(!(col("b_row") <=> col("a_row")))
      .select(
        coalesce(col("b_key"), col("a_key")).as(key),
        when(col("b_key").isNull, "added")
          .when(col("a_key").isNull, "removed")
          .otherwise("changed").as("change"),
        col("b_row").as("before"), col("a_row").as("after"))
  }

  // ------------------------------------------------ the commit primitive
  // (its vocabulary — LostRace, Declared, Staged — is in the companion)

  /** THE commit primitive: claim the next version, let `stage` fill the
    * claim from `base`, CAS-publish at `base.seq + 1` and run the
    * post-commit step ([[publishClaim]]); a lost race follows `onLost`.
    * A stage that throws leaves its claim as an orphan (a crashed
    * writer's shape), swept by a later GC or [[vacuum]]. Returns the
    * committed version, None when a [[GiveUp]] commit lost. */
  private def transact(table: String, base: Marker, tag: Option[String],
      onLost: LostRace)(stage: (Marker, Path) => Staged): Option[Int] = {
    @scala.annotation.tailrec
    def attempt(from: Marker, losses: Int): Option[Int] = {
      val (v, claimed) = claimNext(table)
      val staged = stage(from, claimed)
      writeManifest(claimed, staged.inherited)
      staged.declared match {
        case Exactly(Some(st)) => writeAtomically(schemaPath(table, v), st.json)
        case _ => ()
      }
      if (publishClaim(table, from, v, tag, onLost == Rebase, staged)) Some(v)
      else {
        deleteRecursive(claimed)
        Files.deleteIfExists(schemaPath(table, v))
        onLost match {
          case Reapply(max) if losses < max => attempt(head(table), losses + 1)
          case Reapply(_) => throw new IllegalStateException(
            s"'$table': lost the commit race ${losses + 1} times")
          case _ => None
        }
      }
    }
    attempt(base, 0)
  }

  /** The publish half of [[transact]], shared with transaction manifests:
    * publish claim `v` at `base.seq + 1` (when `rebase`, at the next free
    * seq after each loss), then the post-commit step. The post-commit
    * step runs against the head the commit replaced — the version
    * in-flight readers may still be scanning. Returns whether `v` was
    * published. */
  private def publishClaim(table: String, base: Marker, v: Int,
      tag: Option[String], rebase: Boolean, staged: Staged): Boolean = {
    @scala.annotation.tailrec
    def cas(prev: Marker): Option[(Marker, Marker)] =
      publish(table, prev.seq + 1, v, tag) match {
        case Some(m) => Some(prev -> m)
        case None if rebase => cas(head(table))
        case None => None
      }
    val won = cas(base)
    won.foreach { case (prev, m) =>
      commitPointer(table, v)
      gc(table, prev.version, v)
      maintainSchema(table, prev.version, v, staged.declared)
      maintainStats(table, prev.version, staged.analyze)
      staged.seed.foreach(seedSchema(table, m, _))
    }
    won.isDefined
  }

  /** Atomically claim the next free version directory (≥ committed + 1,
    * skipping orphaned claims from crashed or in-flight writers). */
  private def claimNext(table: String): (Int, Path) = {
    val m = head(table)
    requireWritable(table, m) // every committing rewrite claims first
    Files.createDirectories(dir(table))
    val taken = listDir(table).map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
    var n = math.max(m.version,
      if (taken.isEmpty) 0 else taken.max) + 1
    while (true) {
      try {
        val p = dir(table).resolve(s"v$n")
        Files.createDirectory(p)
        return (n, p)
      } catch { case _: java.nio.file.FileAlreadyExistsException => n += 1 }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Advisory pointer refresh (staged write + atomic rename): readers go
    * through the marker log; `_current` is the human-readable head hint. */
  private def commitPointer(table: String, v: Int): Unit =
    writeAtomically(pointer(table), s"v$v")

  /** Age out the versions behind the retention window: every vN < `prev`
    * (the head this commit replaced, which in-flight readers may still
    * scan) except the just-published `v` — anchored to the log, as claims
    * skip orphans and a rebased commit can publish a lower number. Their
    * markers and `_<name>.v<N>` sidecars go (a staged sidecar never
    * matches), and their directories lose every file no retained version
    * names ([[sweep]]); an unpublished claim there goes whole. Nothing is
    * deleted while a retained version's manifest cannot be read. */
  private def gc(table: String, prev: Int, v: Int): Unit = {
    def aged(n: Int) = n < prev && n != v
    val log = markerLog(table)
    namedBy(table, log.filterNot(m => aged(m.version))).foreach { named =>
      val agedMarkers = log.filter(m => aged(m.version)).map(_.seq).toSet
      listDir(table).foreach { p =>
        p.getFileName.toString match {
          case MarkerName(s) => // log entries of swept versions age out too
            if (agedMarkers(s.toInt)) Files.deleteIfExists(p)
          case VersionDir(n) => if (aged(n.toInt)) sweep(p, named)
          case VersionSidecar(s) => if (aged(s.toInt)) Files.deleteIfExists(p)
          case _ => ()
        }
      }
    }
  }

  /** Every file the versions of `markers` name; None when the manifest of
    * one of them cannot be read — never read as "names nothing". */
  private def namedBy(table: String, markers: Seq[Marker]): Option[Set[Path]] = {
    val named = markers.map(m => inheritedOf(table, m.version)
      .map(filesIn(table, m.version, _)))
    if (named.exists(_.isEmpty)) None
    else Some(named.flatten.flatMap(vf => vf.data ++ vf.dv).toSet)
  }

  /** Delete the files under `p` that `named` lacks, then the directories
    * left empty, `p` included; true when anything went. */
  private def sweep(p: Path, named: Set[Path]): Boolean = {
    val s = Files.walk(p)
    val entries = try s.iterator().asScala.toList finally s.close()
    entries.sortWith(_.compareTo(_) > 0).foldLeft(false) { (swept, f) =>
      val gone = if (Files.isDirectory(f)) list(f).isEmpty else !named(f)
      if (gone) Files.delete(f)
      swept || gone
    }
  }

  /** Full-table rewrite of `df` — overwrite, first write, truncate,
    * CREATE TABLE LIKE, materialized-view refresh. The written frame's
    * schema replaces a declared one: an overwrite IS the explicit
    * schema-replacement path. */
  private def commitRewrite(table: String, df: DataFrame,
      tag: Option[String] = None): Unit =
    transact(table, head(table), tag, Rebase) { (_, claimed) =>
      // Append mode: the claimed directory is empty and MUST survive the
      // write (Overwrite would delete-and-recreate it, dropping the claim).
      enforced(table, df).write.mode(SaveMode.Append).parquet(claimed.toString)
      Staged(Replaced(df.schema), seed = Some(df.schema))
    }

  /** Schema-on-write guard for appends: a version's schema is that of its
    * first file's footer (or its declared sidecar), so a frame whose
    * columns or types differ from the table's would land mixed-schema
    * files under one version — the new column silently vanishes (or the
    * read fails) far from the write that caused it. Appends therefore
    * fail loudly on drift; widening is an explicit
    * [[overwrite]]/[[mergeWith]] or [[addColumn]], so time travel keeps
    * each snapshot's schema intact. Column order and nullability are not
    * drift; names + types are. `m` is the head the append stages over. */
  private def assertSchemaMatches(table: String, m: Marker, df: DataFrame,
      relaxed: Set[String] = Set.empty): Unit = {
    // `relaxed` columns compare by NAME only: hive-style partition values
    // are type-inferred on read, so the partition column's physical type
    // may legitimately differ from the written frame's.
    def shape(fs: Array[org.apache.spark.sql.types.StructField]) = fs
      .map(f => (f.name, if (relaxed(f.name)) "*" else f.dataType.sql))
      .sortBy(_._1).toSeq
    val cur = shape(schemaOf(table, m).fields)
    val in = shape(df.schema.fields)
    require(cur == in,
      s"schema drift on append to '$table': table has " +
        s"${cur.map { case (n, t) => s"$n:$t" }.mkString("[", ", ", "]")}, " +
        s"frame has ${in.map { case (n, t) => s"$n:$t" }.mkString("[", ", ", "]")}. " +
        "Widen via overwrite/mergeWith (a new version), never by mixing " +
        "file schemas in one version.")
  }

  /** APPEND (K1/K2) — the one append verb, a commit like every other
    * write: the new version inherits its base's files and deletion vector
    * by name (O(1) file operations) plus the frame's files in its claim; a
    * first write inherits nothing. A lost race re-stages on the new head,
    * so racing appends — first writes included — all land; a failed write
    * publishes nothing (its claim is an orphan for GC or [[vacuum]]).
    * `txnTag` makes a replayed micro-batch skippable through
    * [[txnVersion]]; `partitionCol` lands the files hive-style, so
    * [[readPartitions]] probes stay pruned (s24's ingest loop). A feed
    * table gets the published version's own files once the commit has
    * won, and refuses a partitioned append (feed files lack the column). */
  def append(table: String, df: DataFrame, partitionCol: Option[String] = None,
      txnTag: Option[String] = None): Unit = {
    requireNotMv(table, "append")
    checkTag(txnTag)
    require(partitionCol.isEmpty || !feedEnabled(table),
      s"'$table' has the change feed enabled; hive-partitioned appends " +
        "cannot feed (files lack the partition column)")
    val pinned = head(table)
    def fits(m: Marker): Unit =
      if (m.version > 0) assertSchemaMatches(table, m, df, partitionCol.toSet)
    fits(pinned) // loud before anything is claimed
    val committed = transact(table, pinned, txnTag, Reapply()) { (base, claimed) =>
      if (base != pinned) fits(base)
      val staged =
        if (base.version > 0) inherit(table, base, claimed)
        // a flat first write seeds the schema memo, as a rewrite does
        else Staged(Carried, seed = if (partitionCol.isEmpty) Some(df.schema) else None)
      val w = enforced(table, df).write.mode(SaveMode.Append)
      partitionCol.fold(w)(w.partitionBy(_)).parquet(claimed.toString)
      staged
    }
    if (feedEnabled(table)) committed.foreach(v =>
      dataFiles(snapshotDir(table, v)).foreach(linkIntoFeed(table, _)))
  }

  /** (files selected, files total) of the most recent [[readPartitions]]
    * probe — the witness a spec asserts to prove a probe is pruned, the
    * [[lastCompactConcurrency]] instrumentation pattern. */
  private val probePeek =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))
  private[graft] def lastPartitionProbe: (Int, Int) = probePeek.get

  /** Partition-pruned point read: [[scan]] of the head restricted to the
    * files in the `partitionCol=v` hive directories of `values`, so a
    * probe reads O(files in touched buckets), not O(table), and equals
    * `read(table).filter(col in values)` by construction. The caller
    * passes every bucket value the probe keys can hash into. */
  def readPartitions(table: String, partitionCol: String,
      values: Seq[Any]): DataFrame = {
    val m = head(table)
    val wanted = values.map(String.valueOf).toSet
    val all = filesOf(table, m).data
    val kept = all.filter(f =>
      partitionValue(table, f, partitionCol).exists(wanted))
    probePeek.set((kept.length, all.length))
    if (kept.isEmpty) scan(table, m).filter(lit(false))
    else scan(table, m, kept)
  }

  /** The value of hive partition column `partitionCol` in data file `f`'s
    * first directory below its version directory; None when that is not
    * a `partitionCol=` directory. */
  private def partitionValue(table: String, f: Path,
      partitionCol: String): Option[String] = {
    val d = partitionPath(table, f).split('/').head
    val prefix = partitionCol + "="
    if (!d.startsWith(prefix)) None
    else Some(java.net.URLDecoder.decode(d.substring(prefix.length), "UTF-8"))
  }

  def overwrite(table: String, df: DataFrame, // K3
      txnTag: Option[String] = None): Unit = {
    requireNotMv(table, "overwrite")
    requireNoFeed(table, "overwrite")
    commitRewrite(table, df, checkTag(txnTag))
  }

  /** Transaction tags ride inside the line-oriented marker file. */
  private def checkTag(tag: Option[String]): Option[String] = {
    tag.foreach(t => require(t.nonEmpty && !t.exists(c => c == '\n' || c == '\r'),
      s"transaction tag must be non-empty and single-line, got '$t'"))
    tag
  }

  /** Parquet data-file count of the table's current version — the
    * read-amplification metric [[compact]] manages. Driver-side
    * manifest read and directory listing, bounded by the file count. */
  def fileCount(table: String): Int = filesOf(table, head(table)).data.length

  /** Total parquet data bytes of the table's current version — the input
    * [[compact]] callers size their `targetBytes` from. Same bounded
    * driver-side walk as [[fileCount]]. */
  def tableBytes(table: String): Long =
    filesOf(table, head(table)).data.map(Files.size).sum

  /** Upsert (K4): materialize `Ops.mergeUpdates(target, updates)` into a
    * claimed version directory, then commit the pointer. The source scan
    * reads the old version while the new one is written — different
    * directories, so the classic read-overwrite-same-path parquet trap
    * cannot occur, and no reader ever observes a half-merged table. */
  def merge(table: String, updates: DataFrame): Unit =
    mergeWith(table)(Ops.mergeUpdates(_, updates))

  // ------------------------------------------- multi-table transactions

  /** Commit MANY tables' new states as one all-or-nothing transaction —
    * the statement surface behind `BEGIN … COMMIT` scripts
    * ([[graft.ops.Sql.runScript]]) and the multi-table twin of the s24
    * composite commit. Protocol (write-ahead roll-FORWARD):
    *
    *   1. STAGE: claim a version directory per table and materialize its
    *      full new state there. Claims are invisible to readers; a crash
    *      anywhere in this phase leaves only orphaned claims (swept by
    *      later commits' GC) — the transaction never happened.
    *   2. LOG: atomically publish a manifest under `_txnlog/` naming
    *      every staged (table, version). This is the transaction's
    *      durability point: before the manifest, nothing is visible;
    *      after it, the transaction is GUARANTEED to complete.
    *   3. PUBLISH: commit each staged version through the per-table CAS
    *      log ([[publishClaim]], rebasing — a concurrent writer just bumps
    *      the seq; the transaction's state wins, the overwrite contract).
    *   4. Delete the manifest.
    *
    * A crash between 2 and 4 is healed by [[recoverTransactions]]: the
    * manifest's staged directories are complete by construction, so
    * recovery PUBLISHES the remainder — all-or-nothing with no wedged
    * state and no data rewritten twice. Readers mid-window may see table
    * A's new state before table B's (per-table markers publish in
    * sequence); crash atomicity, not snapshot isolation across tables,
    * is the contract — the same seam every per-table-log lakehouse
    * format has.
    *
    * Scale shape: each table's state is materialized exactly ONCE no
    * matter how many statements touched it — a script that rewrites one
    * table N times pays one write, not N (the q63 8-commit chain drops
    * to 4 staged writes + 4 pointer publishes). */
  def commitTransaction(writes: Seq[(String, DataFrame)],
      txnTag: Option[String] = None): Unit = {
    val manifest = stageTransaction(writes, txnTag)
    publishManifest(manifest,
      writes.map { case (t, df) => t -> df.schema }.toMap, checkTag(txnTag))
  }

  /** Phase 1+2 of [[commitTransaction]] — exposed package-private so the
    * crash specs can stop at the durability point and hand recovery the
    * wheel. Returns the published manifest path. */
  private[graft] def stageTransaction(writes: Seq[(String, DataFrame)],
      txnTag: Option[String] = None): Path = {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_._1).distinct.length == writes.length,
      "transaction stages one write per table")
    checkTag(txnTag)
    val claims = writes.map { case (t, df) =>
      requireNotMv(t, "transaction write")
      requireNoFeed(t, "transaction write")
      val (v, claimed) = claimNext(t)
      (t, v, claimed, df)
    }
    // materialize the claims CONCURRENTLY: each targets its own claimed
    // directory (no shared state below the driver), so the staged writes
    // are independent Spark jobs — wall-clock is the largest write, not
    // the sum (the multi-job submission pattern; FIFO interleaves tasks)
    graft.ops.Par.concurrently(4)(claims.map { case (t, _, claimed, df) =>
      () => enforced(t, df).write.mode(SaveMode.Append).parquet(claimed.toString)
    })
    claims.foreach { case (_, _, claimed, _) => writeManifest(claimed, Nil) }
    val logDir = Paths.get(warehouse, "_txnlog")
    Files.createDirectories(logDir)
    val id = s"txn.${System.nanoTime}"
    val stagedManifest = logDir.resolve(s".staged.$id")
    Files.writeString(stagedManifest,
      claims.map { case (t, v, _, _) => s"$t $v" }.mkString("\n"))
    val manifest = logDir.resolve(id)
    Files.move(stagedManifest, manifest, StandardCopyOption.ATOMIC_MOVE)
    manifest
  }

  /** Phase 3+4: publish every (table, version) the manifest names whose
    * marker has not landed yet, then retire the manifest. Idempotent —
    * safe under replay and concurrent recovery (the per-table CAS
    * dedupes; a marker already naming the version is skipped). */
  private def publishManifest(manifest: Path,
      schemas: Map[String, StructType],
      txnTag: Option[String]): Unit = {
    Files.readString(manifest).linesIterator
      .filter(_.nonEmpty).foreach { line =>
        val Array(t, vs) = line.split(" ", 2)
        val v = vs.trim.toInt
        val published = markerLog(t).exists(_.version == v)
        if (!published && Files.isDirectory(snapshotDir(t, v)))
          publishClaim(t, head(t), v, txnTag, rebase = true,
            Staged(schemas.get(t).fold[Declared](Carried)(Replaced(_))))
      }
    Files.deleteIfExists(manifest)
  }

  /** Roll FORWARD transactions whose manifest survived a crash between
    * the durability point and the last pointer publish. Called at script
    * entry ([[graft.ops.Sql.runScript]]); staged directories named by a
    * manifest are complete by construction, so completion — never
    * rollback — is always the correct direction. Returns the number of
    * manifests retired. O(1) when `_txnlog/` is absent or empty. */
  def recoverTransactions(): Int = {
    val logDir = Paths.get(warehouse, "_txnlog")
    val manifests = list(logDir).map(_.getFileName.toString)
      .filter(_.startsWith("txn.")).sorted
    manifests.foreach(m =>
      publishManifest(logDir.resolve(m), Map.empty, None))
    manifests.length
  }

  /** Generic transactional rewrite: `f` maps the table's current contents
    * to its next version, committed through the same protocol. [[merge]]
    * is `mergeWith(t)(Ops.mergeUpdates(_, updates))`.
    *
    * Optimistic concurrency through the log CAS: the transaction reads
    * the log head (seq S, version B), applies `f` to EXACTLY version B's
    * directory, materializes into its claim, and commits by publishing
    * seq S+1. The publish is atomic create-if-absent, so two writers
    * from the same base can never both commit — success PROVES no other
    * commit intervened anywhere in the read-transform-write window (a
    * competing commit would have taken seq S+1). The loser discards its
    * claim and re-applies `f` on the new contents (up to `maxRetries`),
    * so a racing writer's merge is never silently overwritten — no
    * lost-update anomaly, no residual both-validate-then-both-rename
    * window.
    *
    * `publishGate` is work that must finish before this commit becomes
    * visible — DailyRun's fact append, which precedes its `game` commit.
    * It starts on its own thread once the base is pinned, runs beside the
    * first staging write (which stays on the caller's thread), and is
    * awaited before the CAS. It runs exactly once: a lost race re-stages
    * but does not re-run it. When it throws, nothing is published, its
    * exception propagates, and the staged claim is an orphan for a later
    * GC; a staging failure propagates only after the gate has finished. */
  def mergeWith(table: String, maxRetries: Int = 5,
      txnTag: Option[String] = None, publishGate: Option[() => Unit] = None)(
      f: DataFrame => DataFrame): Unit = {
    requireNotMv(table, "mergeWith")
    requireNoFeed(table, "mergeWith")
    checkTag(txnTag)
    var gate = Option.empty[java.util.concurrent.FutureTask[Unit]]
    try transact(table, head(table), txnTag, Reapply(maxRetries)) { (base, claimed) =>
      if (gate.isEmpty) gate = publishGate.map { g =>
        val task = new java.util.concurrent.FutureTask[Unit](() => g())
        new Thread(task, s"publish-gate-$table").start()
        task
      }
      // Pin the scan to the base marker (not the head, which could drift
      // to a concurrent commit mid-transaction): the CAS is only
      // meaningful if f consumed exactly the state it names.
      val next = f(scan(table, base))
      // Materialize BEFORE committing: f's plan lazily re-reads the table
      // at job time, so commit must not expose a half-new view. The claim
      // directory is the natural materialization target.
      enforced(table, next).write.mode(SaveMode.Append)
        .parquet(claimed.toString)
      gate.foreach { t =>
        try t.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
      // A full rewrite lands f's OUTPUT schema in every file, so that is
      // the declaration to carry forward — f may have CHANGED it
      // (renameColumn routes here); copying the base's sidecar would
      // silently project the new files back to the old names,
      // null-filling the renamed column.
      Staged(Replaced(next.schema), seed = Some(next.schema))
    } finally gate.foreach(t => scala.util.Try(t.get()))
  }

  /** Partition-pruned transactional rewrite — K4 at fact-table scale,
    * where [[mergeWith]] rewrites the whole table per commit. This variant
    * rewrites ONLY the hive partitions in `touched` (the scan is pruned to
    * them, `f` transforms just that subset) and inherits every file of
    * every untouched partition: O(touched partitions) I/O, same CAS
    * commit, same snapshot isolation.
    *
    * CONTRACT: the table has a hive layout on `partitionCol` (written by
    * [[append]] with that `partitionCol`), and the merge key determines its partition: a
    * key whose update names another partition value than its existing row
    * would leave the old row in place — that shape needs [[mergeWith]].
    * `touched` values compare against directory names via
    * `String.valueOf`, so stick to string/integral partition columns. */
  def mergePartitionedWith(table: String, partitionCol: String,
      touched: Seq[Any], txnTag: Option[String] = None)(
      f: DataFrame => DataFrame): Unit = {
    if (touched.isEmpty) return
    requireNotMv(table, "mergePartitionedWith")
    requireNoFeed(table, "mergePartitionedWith")
    checkTag(txnTag)
    val touchedStr = touched.map(String.valueOf).toSet
    transact(table, head(table), txnTag, Reapply()) { (base, claimed) =>
      // The isin filter lands in the scan's PartitionFilters: untouched
      // partitions' files are never opened, let alone read.
      val next = f(scan(table, base)
        .filter(col(partitionCol).isin(touched: _*)))
      enforced(table, next).write.mode(SaveMode.Append)
        .partitionBy(partitionCol).parquet(claimed.toString)
      // Untouched partitions are inherited with their deletion-vector
      // bitmaps; touched ones were rewritten through the DV-aware read,
      // which applied theirs.
      inherit(table, base, claimed, f =>
        partitionValue(table, f, partitionCol).exists(!touchedStr(_)))
    }
  }

  /** Peak number of bin-rewrite Spark jobs observed in flight during the
    * last [[compact]] call — the spec's evidence that bins rewrite
    * concurrently (a wall-clock assertion would be box-weather flaky). */
  private val compactPeak = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def lastCompactConcurrency: Int = compactPeak.get

  /** OPTIMIZE (compaction): bin-pack this table's small data files into
    * ~`targetBytes` outputs in a NEW version — what keeps an append-heavy
    * table scannable, since scan cost follows FILE count, not bytes.
    * I/O is O(small files), never O(table): files are packed
    * first-fit-decreasing by size per hive partition (across the version
    * directories they live in), a single-file bin (already at or above
    * target) is inherited unchanged, and each other bin is rewritten to
    * one file in the same partition directory of the claim.
    *
    * Commit is strictly optimistic at seq+1 over the compacted version: if
    * ANY other commit lands first, the claim is discarded and `false`
    * returns — compaction changes nothing logically, so the caller just
    * retries later. */
  def compact(table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      parallelism: Int = 8): Boolean = {
    val pinned = head(table)
    transact(table, pinned, None, GiveUp) { (_, claimed) =>
      // Plan first (driver-side), then rewrite the multi-file bins through
      // a bounded pool: Spark schedules jobs from several threads
      // concurrently, so wall time tracks the LARGEST bin, not bin COUNT,
      // and one bin is at most `targetBytes` of input.
      val bins = filesOf(table, pinned).data.groupBy(partitionPath(table, _))
        .toSeq.flatMap { case (part, files) =>
          files.map(f => f -> Files.size(f)).sortBy(-_._2)
            .foldLeft(Vector.empty[(Vector[Path], Long)]) { case (bs, (f, sz)) =>
              bs.indexWhere(_._2 + sz <= targetBytes) match {
                case -1 => bs :+ (Vector(f) -> sz)
                case i => bs.updated(i, (bs(i)._1 :+ f) -> (bs(i)._2 + sz))
              }
            }.map(b => b._1 -> part)
        }
      val (singles, rewrites) = bins.partition(_._1.length == 1)
      compactPeak.set(0)
      val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
      pooled(rewrites, parallelism) { case (bin, part) =>
        val depth = inFlight.incrementAndGet()
        compactPeak.accumulateAndGet(depth, (a: Int, b: Int) => math.max(a, b))
        val tmp = Files.createTempDirectory(dir(table), "_compact")
        try {
          // The one scan: it null-fills an evolved table's older files
          // and materializes row-level deletes. The bin's hive partition
          // columns live in its directory names, not in the file.
          scan(table, pinned, bin)
            .drop(part.split('/').filter(_.contains("=")).map(_.takeWhile(_ != '=')).toSeq: _*)
            .coalesce(1).write.mode(SaveMode.Append).parquet(tmp.toString)
          val dstDir = Files.createDirectories(claimed.resolve(part))
          dataFiles(tmp).foreach(f => Files.move(f, dstDir.resolve(f.getFileName)))
        } finally { deleteRecursive(tmp); inFlight.decrementAndGet() }
      }
      inherit(table, pinned, claimed, singles.flatMap(_._1).toSet)
    }.isDefined
  }

  // ------------------------------------------------------ append change feed

  private def feedDir(table: String): Path = dir(table).resolve("_feed")

  /** Is the append change feed on for this table? */
  def feedEnabled(table: String): Boolean = Files.isDirectory(feedDir(table))

  /** Directory a streaming consumer reads — hand it to
    * `spark.readStream.parquet(...)`: Spark's file stream source gives
    * exactly-once consumption of an append-only directory out of the
    * box (checkpointed seen-file log), so the store needs no custom
    * streaming Source at all. */
  def feedPath(table: String): String = {
    require(feedEnabled(table), s"change feed not enabled on '$table'")
    feedDir(table).toString
  }

  /** Turn on the APPEND CHANGE FEED: from now on, every data file an
    * [[append]] commits is HARD-LINKED into `<table>/_feed/` once its commit
    * has won (a re-staged loser feeds nothing), an append-only directory a
    * Structured Streaming file source consumes ("subscribe to a table's
    * appends"). Enabling bootstraps the feed with every file the head
    * names, so a new consumer sees the full table, then the appends.
    *
    * The contract is APPEND-ONLY tables: rewriting commits are LOUD on a
    * feed-enabled table — their row changes are not expressible as
    * appends (Delta's ignoreChanges problem). Layout-only commits
    * (compact/cluster) are allowed and do NOT feed; the feed's links keep
    * fed bytes alive after GC deletes the files, so a slow consumer loses
    * nothing to compaction (the link count IS the retention).
    * Hive-partitioned tables are refused: their files lack the partition
    * column. Feeding costs O(appended files) link(2) calls; backlog is
    * reclaimed by [[truncateFeed]]. */
  def enableFeed(table: String): Unit = {
    val m = head(table)
    require(m.version > 0, s"enableFeed on missing table '$table'")
    require(declaredSchemaOf(table, m.version).isEmpty,
      s"'$table' has a declared (evolved) schema — feed readers scan raw " +
        "files and would mis-read mixed physical schemas")
    val vf = filesOf(table, m)
    require(vf.dv.isEmpty,
      s"'$table' carries a deletion vector — feed consumers read raw " +
        "files and cannot observe row-level deletes")
    require(vf.data.forall(partitionPath(table, _).isEmpty),
      s"'$table' is hive-partitioned — the feed cannot carry partition " +
        "columns (data files don't contain them)")
    Files.createDirectories(feedDir(table))
    vf.data.foreach(linkIntoFeed(table, _))
  }

  /** Reclaim feed backlog `olderThanMs` old — run once consumers'
    * checkpoints have passed it. Deleting a feed file only drops a link;
    * live table bytes are untouched. */
  def truncateFeed(table: String, olderThanMs: Long): Unit = {
    val now = System.currentTimeMillis()
    list(feedDir(table)).foreach { p =>
      if (now - Files.getLastModifiedTime(p).toMillis >= olderThanMs)
        Files.deleteIfExists(p)
    }
  }

  /** Idempotent: a file already fed (same unique part-file name) is
    * skipped, so bootstrap + append races cannot double-feed. */
  private def linkIntoFeed(table: String, f: Path): Unit =
    try Files.createLink(feedDir(table).resolve(f.getFileName.toString), f)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }

  private def requireNoFeed(table: String, op: String): Unit =
    require(!feedEnabled(table),
      s"$op on '$table' is a rewriting commit, but the append change " +
        "feed is enabled — row changes are not expressible as appends. " +
        "Drop the feed first (or keep the table append-only).")

  // ------------------------------------------------------- CHECK constraints

  private def constraintsPath(table: String): Path =
    dir(table).resolve("_constraints")

  /** Declared CHECK constraints, in declaration order: (name, boolean SQL
    * expression over the table's columns). Table-level (not per-version):
    * an invariant describes the table's contract going forward, and every
    * retained snapshot satisfied it when written. */
  def constraints(table: String): Seq[(String, String)] =
    if (!Files.exists(constraintsPath(table))) Seq.empty
    else Files.readString(constraintsPath(table)).linesIterator
      .filter(_.nonEmpty).map { l =>
        val Array(n, e) = l.split("\t", 2); (n, e)
      }.toSeq

  private def writeConstraints(table: String,
      cs: Seq[(String, String)]): Unit =
    writeAtomically(constraintsPath(table),
      cs.map { case (n, e) => s"$n\t$e" }.mkString("", "\n", "\n"))

  /** ADD CONSTRAINT … CHECK: declare a row invariant every future write
    * must satisfy (ANSI semantics: a row violates only when the
    * expression is FALSE — NULL passes, so `x IS NOT NULL` spells NOT
    * NULL explicitly). EXISTING rows are validated first, one scan, like
    * its warehouse namesakes — a constraint the current table already
    * breaks is rejected loudly, never recorded as aspirational. */
  def addConstraint(table: String, name: String, checkSql: String): Unit = {
    require(name.matches("\\w+"), s"constraint name must be \\w+, got '$name'")
    require(!checkSql.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "constraint expression must be single-line")
    val m = head(table)
    require(m.version > 0, s"ADD CONSTRAINT on missing table '$table'")
    val bad = scan(table, m)
      .filter(!coalesce(org.apache.spark.sql.functions.expr(checkSql),
        org.apache.spark.sql.functions.lit(true)))
      .limit(1).count()
    require(bad == 0,
      s"cannot add constraint $name: existing rows of '$table' violate " +
        s"CHECK ($checkSql)")
    writeConstraints(table,
      constraints(table).filterNot(_._1 == name) :+ (name -> checkSql))
  }

  /** Remove a declared constraint; loud when absent (a typo'd DROP that
    * "succeeds" leaves the caller believing enforcement stopped). */
  def dropConstraint(table: String, name: String): Unit = {
    val cs = constraints(table)
    require(cs.exists(_._1 == name),
      s"DROP CONSTRAINT $name: no such constraint on '$table' " +
        s"(declared: ${cs.map(_._1).mkString(",") })")
    writeConstraints(table, cs.filterNot(_._1 == name))
  }

  /** Fuse constraint enforcement INTO a write's plan: each CHECK becomes
    * a codegen'd `assert_true` filter evaluated on every row AS IT IS
    * WRITTEN — zero extra scan, zero extra job (the Delta-invariant
    * discipline; a separate validation pass would double every write's
    * I/O at 100 TB). A violating row fails its task, the job aborts, and
    * the surrounding commit protocol discards the claim — enforcement
    * composes with atomicity for free. */
  private def enforced(table: String, df: DataFrame): DataFrame =
    constraints(table).foldLeft(df) { case (d, (n, e)) =>
      import org.apache.spark.sql.functions.{assert_true, expr, isnull, lit}
      d.filter(isnull(assert_true(coalesce(expr(e), lit(true)),
        lit(s"CHECK constraint $n violated: $e"))))
    }

  // ------------------------------------- declared schema (metadata-only DDL)

  private def schemaPath(table: String, v: Int): Path =
    dir(table).resolve(s"_schema.v$v")

  /** The DECLARED schema of one snapshot — present only once a table has
    * evolved via [[addColumn]]/[[dropColumn]]. Versioned beside the
    * commit log like the stats sidecar, GC'd with its version, so time
    * travel reads every snapshot under the schema IT was committed with. */
  private def declaredSchemaOf(table: String, v: Int): Option[StructType] = {
    val p = schemaPath(table, v)
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(Files.readString(p)).asInstanceOf[StructType])
  }

  /** Current declared schema, when the table has evolved; None means the
    * physical footer schema is the only truth (the common case). */
  def declaredSchema(table: String): Option[StructType] =
    declaredSchemaOf(table, headVersion(table))

  /** Carry the declared schema across commit `v` — the [[maintainStats]]
    * discipline: once a table opts into evolution, every later commit's
    * head gets a sidecar too, or the next read would silently fall back
    * to one sampled footer. See [[Declared]] for the three cases; an
    * [[Exactly]] sidecar was written before the publish. */
  private def maintainSchema(table: String, prevV: Int, v: Int,
      declared: Declared): Unit = declared match {
    case Exactly(_) => ()
    case _ => declaredSchemaOf(table, prevV).foreach { prevSt =>
      val st = declared match {
        case Replaced(written) => written
        case _ => prevSt
      }
      writeAtomically(schemaPath(table, v), st.json)
    }
  }

  /** ALTER TABLE ADD COLUMN — METADATA-ONLY schema evolution: the commit
    * inherits every data file and the deletion vector (O(1) file
    * operations, zero bytes moved) and publishes the widened schema as
    * the version's sidecar; readers null-fill the new, nullable column for
    * older files ([[scan]]). The schema widened is that of the marker the
    * commit publishes over ([[evolveTo]]), so a concurrent evolution that
    * lands first makes this one lose its CAS, never drops its column.
    *
    * Resurrection guard: if a file of that version still physically
    * carries `column` (dropped earlier, never rewritten away), re-adding
    * the name would surface the old bytes as new data — refused loudly;
    * OPTIMIZE or overwrite first. O(files) footer reads, pooled. */
  def addColumn(table: String, column: String, typeDdl: String,
      txnTag: Option[String] = None): Boolean = {
    require(exists(table), s"addColumn: table '$table' does not exist")
    requireNoFeed(table, "ALTER TABLE ADD COLUMN")
    val dt = DataType.fromDDL(typeDdl)
    evolveTo(table, txnTag) { (base, cur) =>
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(column)),
        s"column '$column' already exists on '$table'")
      val conf = spark.sessionState.newHadoopConf()
      val lingering = pooled(filesOf(table, base).data, 8)(f =>
        FileStats.physicalColumns(conf, f).exists(_.equalsIgnoreCase(column)))
        .exists(identity)
      require(!lingering,
        s"addColumn($table, $column): a current data file still physically " +
          "carries that column (dropped earlier, never rewritten) — " +
          "OPTIMIZE or overwrite the table to purge it before re-adding")
      StructType(cur.fields :+ StructField(column, dt, nullable = true))
    }
  }

  /** ALTER TABLE … RENAME COLUMN — committed as ONE REWRITE version
    * (`withColumnRenamed` through the merge protocol). BigQuery's rename
    * is metadata-only; here the store's append path writes PHYSICAL
    * column names into the current version directory, so a
    * metadata-only rename would leave one directory holding files with
    * both names — a silent null-fill trap for every schema-by-name
    * read. The safe contract without engine-level field IDs (Iceberg's
    * name mapping) is an explicit rewrite: O(data) once, every
    * invariant intact — time travel keeps each snapshot's OWN column
    * name (the q96 discipline), deletion vectors purge naturally,
    * appends under the new name schema-check against the new head.
    * Refused while a CHECK constraint pins the old name (the constraint
    * text would silently stop matching rows); views referencing the
    * column safe-degrade at their next use, the tolerant-registration
    * contract. */
  def renameColumn(table: String, from: String, to: String): Unit = {
    require(exists(table), s"renameColumn: table '$table' does not exist")
    requireNotMv(table, "ALTER TABLE RENAME COLUMN")
    requireNoFeed(table, "ALTER TABLE RENAME COLUMN")
    val cur = schemaOf(table, head(table))
    require(cur.fieldNames.exists(_.equalsIgnoreCase(from)),
      s"renameColumn($table): no column '$from' " +
        s"(have ${cur.fieldNames.mkString(", ")})")
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"renameColumn($table): column '$to' already exists")
    val pat = ("(?i)\\b" + java.util.regex.Pattern.quote(from) + "\\b").r
    val pinned = constraints(table).collect {
      case (n, check) if pat.findFirstIn(check).isDefined => n
    }
    require(pinned.isEmpty,
      s"renameColumn($table): CHECK constraint(s) ${pinned.mkString(", ")} " +
        s"reference '$from' — drop them first, re-add against '$to'")
    mergeWith(table)(_.withColumnRenamed(from, to))
  }

  /** CREATE TABLE … LIKE — a new EMPTY table carrying the source's
    * current schema (BigQuery's LIKE: schema, no data, no derived
    * state). One empty commit; nothing scanned. */
  def createLike(source: String, target: String): Unit = {
    require(exists(source), s"CREATE TABLE LIKE: '$source' does not exist")
    require(!exists(target) && !isView(target) &&
      !isMaterializedView(target),
      s"CREATE TABLE $target LIKE: the target name is already held")
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schemaOf(source, head(source)))
    commitRewrite(target, empty, None)
  }

  /** ALTER TABLE DROP COLUMN — metadata-only, like [[addColumn]]: the new
    * version inherits the same files and declares a schema WITHOUT the
    * column; readers project it away per-file (an explicit read schema is
    * a projection, so the bytes are never even decoded). The data stays
    * in the files until the next full rewrite — which is exactly what
    * makes the drop O(1) instead of O(table) — and the [[addColumn]]
    * resurrection guard keeps that residue from ever coming back under a
    * re-declared name. Refused while a CHECK constraint references the
    * column (future writes could no longer evaluate it). */
  def dropColumn(table: String, column: String,
      txnTag: Option[String] = None): Boolean = {
    require(exists(table), s"dropColumn: table '$table' does not exist")
    requireNoFeed(table, "ALTER TABLE DROP COLUMN")
    constraints(table).foreach { case (name, check) =>
      val refs = spark.sessionState.sqlParser.parseExpression(check)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }
      require(!refs.exists(_.equalsIgnoreCase(column)),
        s"dropColumn($table, $column): CHECK constraint '$name' ($check) " +
          "references it — drop the constraint first")
    }
    evolveTo(table, txnTag) { (_, cur) =>
      require(cur.fieldNames.exists(_.equalsIgnoreCase(column)),
        s"dropColumn($table): no column '$column' " +
          s"(have ${cur.fieldNames.mkString(", ")})")
      require(cur.fields.length > 1,
        s"dropColumn($table): cannot drop the last column")
      StructType(cur.fields.filterNot(_.name.equalsIgnoreCase(column)))
    }
  }

  /** Commit a schema evolution: pin the head, derive the new schema from
    * THAT marker (`evolve` may refuse by throwing, before anything is
    * claimed), inherit every file, stage the `_schema.v<N>` sidecar and
    * publish strictly at seq+1 over the pinned marker, so a concurrent ADD
    * COLUMN is never lost nor a concurrent DROP COLUMN resurrected.
    * Returns false on a lost race — nothing changed; rerun. */
  private def evolveTo(table: String, txnTag: Option[String])(
      evolve: (Marker, StructType) => StructType): Boolean = {
    val pinned = head(table)
    // the form a read of the version reports: every column nullable
    val newSchema = evolve(pinned,
      org.apache.spark.sql.GraftBridge.asNullable(schemaOf(table, pinned)))
    transact(table, pinned, checkTag(txnTag), GiveUp) { (_, claimed) =>
      inherit(table, pinned, claimed).copy(declared = Exactly(Some(newSchema)))
    }.isDefined
  }

  // ------------------------------------------------- stats + data skipping

  /** The stats sidecar describing version `v` — lives beside the commit
    * log (never inside the snapshot dir, which stays byte-immutable once
    * committed) and is GC'd with its version. */
  private def statsPath(table: String, v: Int): Path =
    dir(table).resolve(s"_stats.v$v")

  /** The data files under directory `base` — a version's own directory,
    * or its own `_dv/` (relative order stable; none when it does not
    * exist). EVERY path segment under `base` must be non-bookkeeping: a
    * name-only check would descend into `_dv/`, or into a concurrent
    * writer's `_temporary`. */
  private def dataFiles(base: Path): Seq[Path] =
    if (!Files.isDirectory(base)) Nil
    else {
      val s = Files.walk(base)
      try s.iterator().asScala.filter { p =>
        Files.isRegularFile(p) &&
          base.relativize(p).iterator.asScala.forall { seg =>
            val n = seg.toString
            !n.startsWith("_") && !n.startsWith(".")
          }
      }.toSeq finally s.close()
    }

  /** Run `f` over `items` through a bounded pool (the [[compact]]
    * discipline: driver-side per-file metadata work parallelizes so wall
    * time tracks pool width, not item count). */
  private def pooled[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] =
    graft.ops.Par.concurrently(parallelism)(items.map(a => () => f(a)))

  /** Keep a stats-maintained table maintained: when the version a commit
    * just replaced carried a sidecar (or the stage asks, `force` — layouts
    * that exist FOR the stats), re-derive one for the new head — the
    * Delta discipline (stats ride every commit) without imposing the
    * footer pass on tables that never opted in via [[analyze]]. Called
    * AFTER gc, which sweeps only sidecars of versions strictly below the
    * replaced one, so the opt-in marker is still visible here. Cost is
    * O(files) footer reads per commit — noise next to the commit's own
    * write — plus, once [[analyzeBloom]] opted columns in, one grouped job
    * building the filters of the files the commit added. */
  private def maintainStats(table: String, prevV: Int, force: Boolean): Unit =
    if (force || (prevV > 0 && Files.exists(statsPath(table, prevV)))) {
      analyze(table)
      Files.deleteIfExists(statsPath(table, prevV))
    }

  /** ANALYZE: derive per-file min/max/null-count stats for the CURRENT
    * version from parquet FOOTERS — O(files) metadata reads, zero data
    * scanned — and publish them as the version-keyed sidecar
    * [[readWhere]] prunes with. Explicit like its SQL namesake; once run,
    * every later commit re-derives the sidecar ([[maintainStats]]). A
    * file a sidecar has no entry for is always kept, so a stale sidecar
    * costs speed, never correctness. Once [[analyzeBloom]] opted columns in, every analyze
    * also maintains their per-file Bloom filters: carried forward by
    * relPath for files whose bytes survived the commit (inherited,
    * appended),
    * rebuilt in one grouped job for the rest. Returns the number of
    * files covered. */
  def analyze(table: String, parallelism: Int = 8): Int =
    publishStats(table, head(table), Nil, parallelism)._1

  /** Opt `columns` into per-file BLOOM FILTERS for equality skipping —
    * the point-lookup complement of footer min/max, which is near-useless
    * on a high-cardinality key in a hash-distributed layout (every
    * file's range spans the domain; a bloom answers "definitely not in
    * this file"). Filters are built over `xxhash64(CAST(col AS STRING))`
    * in ONE grouped Spark job for every file missing one — never a job
    * per file — and ride the stats sidecar; the spec (items, fpp) is
    * recorded so later analyzes rebuild rewritten files identically.
    * Integral and string columns only (their cast-to-string form is the
    * canonical hash input; see [[FileStats.mightMatch]]). A false
    * positive keeps a file — results never change, only cost. Returns
    * the number of files fully covered.
    *
    * Scale shape: the build is one column-pruned scan at table-append
    * cadence; the probe is O(files) driver-side metadata. At 100 TB a
    * keyed point lookup ("fetch document X") opens ~1 file instead of
    * every file whose [min,max] happens to straddle the key. */
  def analyzeBloom(table: String, columns: Seq[String],
      expectedItemsPerFile: Long = 1000000L, fpp: Double = 0.03,
      parallelism: Int = 8): Int = {
    require(columns.nonEmpty, s"analyzeBloom($table): no columns")
    require(columns.distinct.length == columns.length,
      s"analyzeBloom($table): duplicate columns in ${columns.mkString(",")}")
    val m = head(table)
    val schema = schemaOf(table, m)
    columns.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"analyzeBloom($table): no column '$c'")
      val dt = schema(schema.fieldIndex(c)).dataType
      import org.apache.spark.sql.types._
      require(dt == ByteType || dt == ShortType || dt == IntegerType ||
        dt == LongType || dt == StringType,
        s"analyzeBloom($table): column '$c' is ${dt.sql} — equality " +
          "blooms cover integral and string columns (their cast-to-string " +
          "form is canonical across physical widths)")
    }
    publishStats(table, m,
      columns.map(FileStats.BloomSpec(_, expectedItemsPerFile, fpp)),
      parallelism)._2
  }

  /** Shared sidecar publisher: footer stats for every current file, prior
    * blooms donated by relPath (immutable bytes — inherited and
    * untouched files keep their filters for free), missing ones rebuilt
    * per the union of recorded + newly added specs, then one atomic
    * sidecar write for pinned marker `m`. Returns (files covered, files
    * fully bloom-covered). */
  private def publishStats(table: String, m: Marker,
      addSpecs: Seq[FileStats.BloomSpec], parallelism: Int): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val stats = pooled(filesOf(table, m).data, parallelism)(
      FileStats.ofFile(conf, dir(table), _))
    val prior = newestSidecar(table)
    val priorSpecs = prior.map(FileStats.loadBloomSpecs).getOrElse(Nil)
    val specs = (priorSpecs.filterNot(p =>
      addSpecs.exists(_.column == p.column)) ++ addSpecs).sortBy(_.column)
    val specCols = specs.map(_.column).toSet
    val donated = prior.map(FileStats.load).getOrElse(Map.empty)
    val carried = stats.map(fs => fs.copy(blooms =
      donated.get(fs.relPath)
        .map(_.blooms.view.filterKeys(specCols).toMap)
        .getOrElse(Map.empty)))
    val done =
      if (specs.isEmpty) carried
      else attachBlooms(table, m, carried, specs)
    FileStats.write(statsPath(table, m.version), done, specs)
    (done.length,
      done.count(fs => specs.forall(s => fs.blooms.contains(s.column))))
  }

  private def newestSidecar(table: String): Option[Path] =
    listDir(table)
      .filter(_.getFileName.toString.matches("_stats\\.v\\d+"))
      .sortBy(_.getFileName.toString.stripPrefix("_stats.v").toInt)
      .lastOption

  /** Build missing per-file blooms in ONE job: group the files' rows by
    * their path and aggregate every configured column's filter at once
    * ([[graft.functions.BloomOps.bloom_build_agg]]). The scan keeps
    * deleted rows: a filter describes its file's bytes, which later
    * versions share by relPath. An empty file yields no group → no filter
    * → kept conservatively. */
  private def attachBlooms(table: String, m: Marker,
      stats: Seq[FileStats.FileStat],
      specs: Seq[FileStats.BloomSpec]): Seq[FileStats.FileStat] = {
    import org.apache.spark.sql.functions.xxhash64
    val missing = stats.filter(fs =>
      specs.exists(s => !fs.blooms.contains(s.column)))
    if (missing.isEmpty) return stats
    val df = scan(table, m, missing.map(fs => dir(table).resolve(fs.relPath)),
      positions = true, live = false)
    val aggs = specs.map(s => graft.functions.BloomOps.bloom_build_agg(
      xxhash64(col(s.column).cast("string")), s.items, s.fpp)
      .as(s"__b_${s.column}"))
    val built = df.groupBy(col(DvPath))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        relOfUri(table, r.getString(0)) -> specs.zipWithIndex.flatMap { case (s, i) =>
          Option(r.get(i + 1))
            .map(b => s.column -> b.asInstanceOf[Array[Byte]])
        }.toMap
      }.toMap
    stats.map(fs => built.get(fs.relPath) match {
      case Some(bs) => fs.copy(blooms = fs.blooms ++ bs)
      case None => fs
    })
  }

  /** Pinned marker `m`'s data files, and those of them whose stats
    * sidecar entry can match every pred — every file when the version
    * has no sidecar or a file has no entry. */
  private def skipping(table: String, m: Marker,
      preds: Seq[FileStats.Pred]): (Seq[Path], Seq[Path]) = {
    val stats = FileStats.load(statsPath(table, m.version))
    val all = filesOf(table, m).data
    (all.filter(p => stats.get(dir(table).relativize(p).toString)
      .forall(fs => preds.forall(FileStats.mightMatch(fs, _)))), all)
  }

  /** (files kept, files total) under `preds` for the current version —
    * the spec- and plan-level evidence that skipping engages. */
  def pruneInfo(table: String, preds: Seq[FileStats.Pred]): (Int, Int) = {
    val (kept, all) = skipping(table, head(table), preds)
    (kept.length, all.length)
  }

  /** Data-skipping read: `read(table).filter(preds)` with file-level
    * pruning — [[scan]] of the head it pins, restricted to the files
    * [[pruneInfo]] counts as kept (footer ranges and blooms that can
    * match the conjunction). The full predicate is ALWAYS re-applied as a
    * residual filter, so results are identical to the unpruned scan by
    * construction; when nothing is pruned the scan is the whole version,
    * exactly as `read` plans it. At 100 TB this — with [[cluster]] laying
    * files out disjointly — is what turns a selective query from a table
    * scan into a handful of file reads. */
  def readWhere(table: String, preds: Seq[FileStats.Pred]): DataFrame = {
    val residual = preds.map(FileStats.toColumn).reduceOption(_ && _)
      .getOrElse(lit(true))
    val m = head(table)
    val (kept, all) = skipping(table, m, preds)
    if (kept.length == all.length) scan(table, m).filter(residual)
    else if (kept.isEmpty) scan(table, m).filter(lit(false))
    else scan(table, m, kept).filter(residual)
  }

  /** Metadata-only COUNT(*): sum of footer row counts over the current
    * version's files — O(files), no Spark job, no data read. The
    * versioned layout makes this sound: a snapshot's files are immutable,
    * so footer counts ARE the row count. */
  def countRows(table: String, parallelism: Int = 8): Long =
    rowCount(table, head(table), parallelism)

  /** [[countRows]] of pinned marker `m`'s version: footer row counts minus
    * the rows its deletion vector names (the bitmaps' cardinalities, read
    * on the driver). */
  private def rowCount(table: String, m: Marker, parallelism: Int = 8): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val vf = filesOf(table, m)
    pooled(vf.data, parallelism)(FileStats.rowCount(conf, _)).sum -
      deletedOf(table, vf).values.map(_.getLongCardinality).sum
  }

  /** Metadata-only MIN/MAX of one column over the current version:
    * sidecar stats where covered, live footer reads for files an
    * [[analyze]] has not seen — still O(files) metadata I/O, zero data
    * scanned (footer min/max ignore nulls exactly as MIN/MAX do). None
    * when ANY file lacks usable stats for the column (all-null file,
    * unsupported physical type): a metadata answer must be provably
    * complete or it is no answer — the caller falls back to a scan.
    * Returns (kind, min, max) in [[FileStats]] canonical string form. */
  def minMax(table: String, column: String,
      parallelism: Int = 8): Option[(FileStats.Kind, String, String)] = {
    val m = head(table)
    val vf = filesOf(table, m)
    // A deletion vector may have deleted the extreme row itself — footer
    // stats still include it, so a metadata answer would be wrong, not
    // just stale. Fall back to a scan (None).
    if (vf.dv.nonEmpty) return None
    val sidecar = FileStats.load(statsPath(table, m.version))
    val conf = spark.sessionState.newHadoopConf()
    val files = vf.data
    if (files.isEmpty) return None
    // A ZERO-ROW file (Spark writes one for an empty partition) carries no
    // chunk stats for any column, but it also provably contributes nothing
    // to MIN/MAX — skip it instead of letting it poison the
    // complete-or-None contract.
    val per = pooled(files, parallelism) { p =>
      sidecar.getOrElse(dir(table).relativize(p).toString,
        FileStats.ofFile(conf, dir(table), p))
    }.filter(_.rows > 0).map(_.cols.get(column))
    if (per.isEmpty || per.exists(_.isEmpty)) None
    else {
      val cs = per.flatten
      if (cs.map(_.kind).distinct.length != 1) None
      else {
        val k = cs.head.kind
        Some((k,
          cs.map(_.min).reduce((a, b) => if (FileStats.le(k, a, b)) a else b),
          cs.map(_.max).reduce((a, b) => if (FileStats.le(k, a, b)) b else a)))
      }
    }
  }

  /** CLUSTER (OPTIMIZE ... BY range): transactional rewrite of the table
    * range-partitioned + sorted on `column`, so file ranges are DISJOINT
    * and [[readWhere]]'s pruning drops every file outside the predicate's
    * range. Content-identical by construction (a layout change, like
    * [[compact]]); commit is strictly optimistic at seq+1 over the
    * clustered version — returns false (nothing changed) on a lost race.
    * Runs [[analyze]] on success: clustering exists FOR the stats. */
  def cluster(table: String, column: String, partitions: Int,
      txnTag: Option[String] = None): Boolean =
    transact(table, head(table), checkTag(txnTag), GiveUp) { (base, claimed) =>
      scan(table, base)
        .repartitionByRange(partitions, col(column))
        .sortWithinPartitions(col(column))
        .write.mode(SaveMode.Append).parquet(claimed.toString)
      Staged(Carried, analyze = true)
    }.isDefined

  /** ZORDER (OPTIMIZE … ZORDER BY): transactional rewrite of the table
    * along the Z-address of SEVERAL columns ([[TableStore.zOrdered]]), so
    * [[readWhere]] prunes files on a predicate over ANY of them — the
    * multi-dimensional counterpart of [[cluster]], whose single-column
    * range layout makes every other column's file ranges near-useless.
    * Files cover small hyper-rectangles of the key space, i.e. TIGHT
    * footer min/max on every participating column at once.
    *
    * Cost: one approxQuantile pass over the pinned snapshot (before the
    * claim, so a refused column type claims nothing) + one full rewrite
    * — the same budget as [[cluster]]. Commit is strictly optimistic at
    * seq+1, content-identical by construction; [[analyze]] runs on
    * success — like [[cluster]], the layout exists FOR the stats. */
  def clusterZ(table: String, columns: Seq[String], partitions: Int,
      txnTag: Option[String] = None): Boolean = {
    val pinned = head(table)
    // No persist: the quantile pass and the rewrite each scan the PINNED
    // snapshot (immutable), so the two passes see identical data. A
    // full-width persist materializes every column into the storage pool
    // just to serve a 2-column quantile aggregation (measured: the fill
    // WAS the quantile phase's cost at sf0.1), and at scale a table
    // cannot be cached to serve its own rewrite. Unpersisted, Catalyst
    // prunes the quantile scan to the key columns and the rewrite
    // streams the full rows exactly once.
    val laid = zOrdered(scan(table, pinned), columns, partitions)
    transact(table, pinned, checkTag(txnTag), GiveUp) { (_, claimed) =>
      laid.write.mode(SaveMode.Append).parquet(claimed.toString)
      Staged(Carried, analyze = true)
    }.isDefined
  }

  def drop(table: String): Unit = { // K5
    // DROP TABLE refuses view names outright: a logical view is not a
    // table, and deleteRecursive on its dir would silently erase the
    // stored definition — the namespace is mutually exclusive, and the
    // verbs route loudly (DROP VIEW is one word away).
    require(!isView(table),
      s"cannot DROP TABLE '$table': it is a logical view — use DROP VIEW")
    // A base with dependent MVs cannot silently vanish: every later
    // readMaterialized would throw deep in its base scan, far from this DROP.
    // BigQuery errors the same way; drop (or re-pin) the views first.
    val dependents = tables().filter(t => t != table &&
      isMaterializedView(t) && readMvDef(t).base == table)
    require(dependents.isEmpty,
      s"cannot drop '$table': materialized view(s) " +
        s"${dependents.mkString(", ")} are pinned to it — drop the " +
        "view(s) first")
    // Same discipline for LOGICAL views: their stored SQL re-plans per
    // read, so dropping the base would fail far from this DROP (at the
    // next statement's view registration). Loud here, where the cause is.
    val viewDeps = viewsReferencing(table)
    require(viewDeps.isEmpty,
      s"cannot drop '$table': logical view(s) ${viewDeps.mkString(", ")} " +
        "reference it — drop the view(s) first")
    deleteRecursive(dir(table))
  }

  /** TRUNCATE TABLE — BigQuery's statement spelling of WRITE_TRUNCATE
    * with no payload (/root/reference/main.py:268-271's disposition, as
    * SQL): commit an EMPTY next version through the standard rewrite
    * protocol. Schema, declared-schema sidecar, and CHECK constraints
    * all survive (the sidecars live at the table root; the empty
    * DataFrame carries the current schema), history stays time-travelable
    * — a RESTORE or FOR VERSION AS OF read of the pre-truncate version
    * still works, exactly like every other committed rewrite. O(1) data:
    * nothing is scanned, nothing is written but the commit itself. */
  def truncate(table: String): Unit = {
    requireNotMv(table, "TRUNCATE")
    requireNoFeed(table, "TRUNCATE")
    require(exists(table), s"TRUNCATE TABLE $table: table does not exist")
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schemaOf(table, head(table)))
    commitRewrite(table, empty, None)
  }

  /** ALTER TABLE … RENAME TO — a METADATA-ONLY move of the table
    * directory: versions, markers, declared schema, constraints, stats
    * and deletion vectors all travel with it, so time travel keeps
    * working under the new name (same version dirs, same commit log).
    * Refused when the old name is load-bearing elsewhere — dependent
    * MVs pin the base by NAME in `_mvdef`, logical views resolve it per
    * read — and when the new name is taken by anything (table, view,
    * MV, or a crashed writer's claim debris). One atomic rename, zero
    * data moved — the contract a 100 TB table requires. */
  def rename(table: String, to: String): Unit = {
    // view check FIRST: a view has no versions, so the existence check
    // would otherwise shadow this message with "table does not exist"
    require(!isView(table),
      s"cannot RENAME '$table': it is a logical view")
    val m = head(table)
    require(m.version > 0, s"RENAME $table: table does not exist")
    requireNotMv(table, "RENAME")
    requireWritable(table, m) // snapshots refuse namespace writes too
    // a live change-feed consumer holds the ABSOLUTE _feed path; the
    // atomic directory move would strand it mid-stream (the same reason
    // truncate/restore/deleteRows refuse feed-enabled tables)
    requireNoFeed(table, "RENAME")
    val mvDeps = tables().filter(t => t != table &&
      isMaterializedView(t) && readMvDef(t).base == table)
    require(mvDeps.isEmpty,
      s"cannot rename '$table': materialized view(s) " +
        s"${mvDeps.mkString(", ")} are pinned to it by name")
    val viewDeps = viewsReferencing(table)
    require(viewDeps.isEmpty,
      s"cannot rename '$table': logical view(s) " +
        s"${viewDeps.mkString(", ")} reference it by name")
    require(!Files.exists(dir(to)),
      s"cannot rename '$table' to '$to': the target name is already " +
        "held (table, view, materialized view, or uncollected debris — " +
        "DROP or VACUUM it first)")
    Files.move(dir(table), dir(to), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Sweep the claims CRASHED writers left — `vN` directories no commit
    * marker names — deleting, like [[gc]], only files no retained version
    * names (an aged-out version's directory keeps the files a retained
    * one inherits), and nothing while a retained version's manifest
    * cannot be read. Age-gated, since a fresh claim may belong to an
    * in-flight writer that will still publish: only directories whose
    * newest entry is older than `olderThanMs` are swept (the lease
    * discipline). Orphans below the head also age out through [[gc]];
    * vacuum covers the above-head case and idle tables. Returns the
    * versions whose directories lost files. */
  def vacuum(table: String, olderThanMs: Long = 3600000L): Seq[Int] = {
    val log = markerLog(table)
    val referenced = log.map(_.version).toSet
    val now = System.currentTimeMillis()
    namedBy(table, log).fold(Seq.empty[Int]) { named =>
      listDir(table).flatMap { p =>
        p.getFileName.toString match {
          case VersionDir(n) if !referenced(n.toInt) =>
            val lastTouched = (p +: list(p))
              .map(f => Files.getLastModifiedTime(f).toMillis).max
            if (now - lastTouched >= olderThanMs && sweep(p, named))
              Some(n.toInt)
            else None
          case _ => None
        }
      }.sorted
    }
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
}

/** The vocabulary of the commit primitive, [[TableStore]]'s `transact`:
  * lost-race policies and what a stage reports. */
object TableStore {
  /** Replace the small text file `target` atomically: the content is
    * staged beside it under a unique name and renamed over it, so a
    * reader sees the old file or the whole new one, never a torn write
    * (a crash leaves only an orphaned staged file). Every sidecar a
    * reader parses goes through here; the commit marker (link-based
    * CAS) and the transaction manifest (a move that must not replace)
    * keep their own protocols. */
  private[graft] def writeAtomically(target: Path, content: String): Unit = {
    val staged = target.resolveSibling(s"${target.getFileName}.staged." +
      s"${System.nanoTime}.${Thread.currentThread.getId}")
    Files.writeString(staged, content)
    Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `df` laid out along the Z-address of `columns` — the one
    * multi-dimensional layout, behind both OPTIMIZE … ZORDER
    * ([[TableStore.clusterZ]]) and q53's events copy
    * ([[graft.ops.Bucketed]]). Each column maps to a 4-bit bucket via its
    * own approx-quantile boundaries (equi-DEPTH, so skewed distributions
    * still spread across buckets; NULLs land in bucket 0), the bucket
    * bits interleave into the Z-address, and the rows range-partition
    * into `partitions` and sort on it: each output file covers a small
    * hyper-rectangle of the key space. Sorting by the Z-address makes
    * every aligned box of buckets a CONTIGUOUS range, so a file holding a
    * slab has tight min/max statistics on all columns at once — a
    * single-column sort can only ever serve one predicate dimension.
    *
    * Cost: one sampled approxQuantile pass over the key columns, run
    * eagerly here (the driver gets ~15 doubles per column); the rest is a
    * lazy plan, pure codegen'd arithmetic plus the range exchange.
    * Numeric, date, and timestamp columns only; strings have no
    * quantile→locality mapping here and are refused loudly (hash-
    * bucketing a string column would shred the very min/max locality the
    * layout exists to create). The result has `df`'s columns. */
  private[graft] def zOrdered(df: DataFrame, columns: Seq[String],
      partitions: Int): DataFrame = {
    require(columns.length >= 2,
      s"ZORDER needs at least 2 columns (single-column layout is cluster)")
    import org.apache.spark.sql.functions.{datediff, shiftleft, shiftright}
    import org.apache.spark.sql.types.{DateType, NumericType,
      TimestampNTZType, TimestampType}
    val keyed = columns.foldLeft(df) { (d, c) =>
      val key = d.schema(d.schema.fieldIndex(c)).dataType match {
        case _: NumericType => col(c).cast("double")
        case DateType => datediff(col(c),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("double")
        case TimestampType | TimestampNTZType =>
          col(c).cast("long").cast("double")
        case dt => throw new IllegalArgumentException(
          s"ZORDER column '$c' has type ${dt.sql} — ZORDER supports " +
            "numeric/date/timestamp (strings have no quantile-to-range " +
            "locality)")
      }
      d.withColumn(s"__zk_$c", key)
    }
    val bits = 4
    val probs = (1 to (1 << bits) - 1).map(_.toDouble / (1 << bits)).toArray
    // one sampling pass covers every column's boundaries. 0.01 relative
    // error is an order of magnitude tighter than the 1/16 bucket width
    // it feeds; the round-15 0.001 setting made this pass the second
    // largest cost of the whole rewrite (measured 0.90 s vs 0.29 s at
    // sf0.1) for boundaries the 4-bit bucketing cannot distinguish.
    val bounds = keyed.stat.approxQuantile(
      columns.map(c => s"__zk_$c").toArray, probs, 0.01).toSeq
    val buckets = columns.zip(bounds).map { case (c, bs) =>
      val k = col(s"__zk_$c")
      // count of boundaries ≤ v — a 15-term when-sum. NOT an aggregate()
      // fold over a literal array: ArrayAggregate is a HigherOrderFunction
      // with no codegen, and the Z-address below inlines each bucket
      // expression `bits` times, so the fold was interpreted 8×/row
      // (measured: the rewrite stage spent 2.1 s at sf0.1, 1.0 s of it in
      // NamedLambdaVariable eval; the when-sum form codegens and dedupes
      // via subexpression elimination).
      when(k.isNull, lit(0)).otherwise(
        bs.map(b => when(k >= b, lit(1)).otherwise(lit(0))).reduce(_ + _))
    }
    val n = columns.length
    val z = (for {
      i <- 0 until bits
      (b, j) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1)),
      i * n + (n - 1 - j))).reduce(_ + _) // disjoint bits: + is OR
    keyed.withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** What a commit does when another commit took the seq it read. */
  private sealed trait LostRace
  /** The content does not depend on the base: publish the same claim at
    * the next free seq. */
  private case object Rebase extends LostRace
  /** The content was derived from the base: discard the claim and
    * re-stage on the new head, at most `maxRetries` times. */
  private final case class Reapply(maxRetries: Int = 5) extends LostRace
  /** A layout or metadata change over a pinned base: discard the claim;
    * nothing changed. */
  private case object GiveUp extends LostRace

  /** The declared schema (`_schema.v<N>` sidecar) of a staged version. */
  private sealed trait Declared
  /** The base's declaration, if any, carries over: rewrites that read
    * through the base's snapshot preserve it by construction. */
  private case object Carried extends Declared
  /** A full rewrite physically landed `written`: when the base declared a
    * schema, `written` is the new declaration (the explicit
    * schema-replacement path — a rename must not be projected back). */
  private final case class Replaced(written: StructType) extends Declared
  /** Exactly this declaration, or none — never the base's (evolution,
    * restore, clone). Written into place before the publish. */
  private final case class Exactly(schema: Option[StructType]) extends Declared

  /** What a stage reports about the version it filled: its declared
    * schema, whether to analyze it even if the base never opted in, the
    * footer schema of its first file when that may seed the schema memo,
    * and the files it inherits, relative to the table root. */
  private final case class Staged(declared: Declared, analyze: Boolean = false,
      seed: Option[StructType] = None, inherited: Seq[String] = Nil)
}
