package graft.psn

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, struct, sum, when}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** One aggregate of a materialized view: `out` = FUNC(`in`), FUNC ∈
  * COUNT(*) | SUM | MIN | MAX — exactly the incrementally-combinable
  * class BigQuery's aggregate MVs restrict to (each merges with itself:
  * counts and sums add, min/max re-min/max), which is what makes the
  * stale-rows + delta combine in [[TableStore.readMaterialized]] sound. */
final case class MvAgg(out: String, func: String, in: String)

/** Sink abstraction (SURVEY §2.2 K1-K6) over a parquet warehouse directory.
  *
  * append  = K1/K2 (`insert_rows_from_dataframe` / WRITE_APPEND loads)
  * overwrite = K3 (WRITE_TRUNCATE)
  * merge   = K4 (`UPDATE … FROM temp` — the reference runs it inside
  *           BigQuery's transactional DML; here the same semantics come from
  *           a version-pointer commit protocol, below)
  * drop    = K5 (`delete_table(not_found_ok=True)`)
  *
  * == Version-pointer commit protocol ==
  *
  * Rewriting writes (overwrite, merge) never touch live data. Each commit:
  *
  *   1. claims `<table>/v<X>/` via atomic `createDirectory` (two racing
  *      writers cannot claim the same version directory),
  *   2. materializes the full new table into the claimed directory,
  *   3. commits by COMPARE-AND-SWAP on the commit log: publish
  *      `<table>/_commit.<S+1>` (content `v<X>`), where S is the log seq
  *      the transaction read at its start. The publish primitive is
  *      `Files.createLink` of a staged content file — POSIX link(2) is
  *      atomic create-if-absent WITH content (rename without
  *      REPLACE_EXISTING is check-then-rename in the JDK, i.e. not a CAS,
  *      and createFile-then-write has an empty-content crash window).
  *      Exactly one writer can own seq S+1; a loser sees
  *      FileAlreadyExists, discards its claim and re-applies on the new
  *      base. On an object store the same seam maps to put-if-absent /
  *      conditional-put.
  *
  * The marker log is the source of truth: readers resolve the HIGHEST
  * `_commit.<seq>`'s content at DataFrame creation. `_current` is still
  * written after every successful commit — as a human-readable hint and
  * for tables created by older layouts — but it is advisory; correctness
  * never depends on its timing. Consequences:
  *   - a reader mid-merge sees exactly the old or the new version, never a
  *     mix (the two directories are disjoint);
  *   - a crash anywhere before step 3 leaves the log — and thus the
  *     table — untouched; the orphaned claim directory is swept by a later
  *     commit's GC once it falls behind the retention window. There is NO
  *     wedged state: an unpublished claim blocks nobody (versions are
  *     sparse), and a published marker is complete by construction;
  *   - an in-flight reader of the previous version keeps its snapshot: GC
  *     retains one version behind the head (readers are assumed to finish
  *     within one upstream commit — tighten by widening the window).
  *
  * Writer-writer conflicts: the CAS closes the residual
  * both-validate-then-both-rename race the pointer-rename protocol had —
  * two writers from the same base can no longer both commit; the loser
  * re-reads and re-applies (see [[mergeWith]]), so no update is lost.
  *
  * Appends write new part-files into the CURRENT version directory through
  * Spark's job committer (task output lands in `_temporary` and is moved on
  * job commit), so a crashed append leaves no visible rows either.
  *
  * Tables created before this protocol (bare part-files in `<table>/`) read
  * as the implicit v0; the first rewriting write upgrades them to v1 and
  * leaves the v0 files in place as the retained previous snapshot.
  *
  * The empty-append guard the reference needs (main.py:184) is a no-op here:
  * appending an empty DataFrame writes no row files.
  */
final class TableStore(spark: SparkSession, warehouse: String) {

  private def dir(table: String): Path = Paths.get(warehouse, table)

  /** The warehouse root — the seam secondary-index metadata
    * ([[graft.ops.Indexes]]) keys its sidecars off. */
  private[graft] def warehouseDir: String = warehouse
  private def pointer(table: String): Path = dir(table).resolve("_current")

  private val MarkerName = "_commit\\.(\\d+)".r

  /** One commit-log entry. `ts` is the commit wall-clock stamp (epoch
    * millis, written since the round-12 layout; None on older markers —
    * readers needing time fall back to the marker file's mtime, which the
    * atomic link(2) publish fixes at commit time anyway). `tag` is the
    * optional application transaction tag (see [[txnVersion]]). */
  private final case class Marker(seq: Int, version: Int,
      ts: Option[Long], tag: Option[String])

  /** Marker content: line 1 `v<version>`, then optional `ts=<millis>` and
    * `tag=<text>` lines — append-only format, so pre-metadata markers
    * (bare `v<version>`) parse as ts=None/tag=None. */
  private def parseMarker(seq: Int, content: String): Marker = {
    val lines = content.linesIterator.toSeq.map(_.trim).filter(_.nonEmpty)
    Marker(seq, lines.head.stripPrefix("v").toInt,
      lines.collectFirst { case l if l.startsWith("ts=") =>
        l.stripPrefix("ts=").toLong },
      lines.collectFirst { case l if l.startsWith("tag=") =>
        l.stripPrefix("tag=") })
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

  /** (seq → committed version) view of the log. */
  private def markers(table: String): Seq[(Int, Int)] =
    markerLog(table).map(m => m.seq -> m.version)

  /** Head of the commit log: (seq, version). Tables from the pointer-only
    * layout read their pointer as an implicit seq-0 commit; (0, 0) = no
    * rewriting commit yet (legacy flat table or none). */
  private def head(table: String): (Int, Int) =
    markers(table).lastOption.getOrElse {
      if (Files.exists(pointer(table)))
        (0, Files.readString(pointer(table)).trim.stripPrefix("v").toInt)
      else (0, 0)
    }

  /** Committed version number; 0 = no versioned commit. */
  private def currentVersion(table: String): Int = head(table)._2

  /** CAS publish of commit seq (content: version + commit time + optional
    * transaction tag, see [[parseMarker]]): true iff this writer won the
    * seq. link(2) atomically creates the marker complete with content or
    * fails with EEXIST; the staged source is always removed. */
  private def publish(table: String, seq: Int, version: Int,
      tag: Option[String] = None): Boolean = {
    val marker = dir(table).resolve(s"_commit.$seq")
    val staged = dir(table).resolve(
      s"_commit.$seq.staged.${System.nanoTime}.${Thread.currentThread.getId}")
    val meta = s"ts=${System.currentTimeMillis}" +
      tag.map(t => s"\ntag=$t").getOrElse("")
    Files.writeString(staged, s"v$version\n$meta")
    try { Files.createLink(marker, staged); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally { Files.deleteIfExists(staged) }
  }

  /** Directory a reader of `table` scans right now. */
  private def resolve(table: String): Path = {
    val v = currentVersion(table)
    if (v > 0) dir(table).resolve(s"v$v") else dir(table)
  }

  private def listDir(table: String): Seq[Path] =
    if (!Files.exists(dir(table))) Nil
    else {
      val s = Files.list(dir(table))
      try s.iterator().asScala.toList finally s.close()
    }

  /** Flat pre-protocol data: any entry that is neither a version dir nor
    * bookkeeping (covers part-files and hive partition dirs alike). */
  private def legacyData(table: String): Boolean =
    listDir(table).exists { p =>
      val n = p.getFileName.toString
      !n.matches("v\\d+") && !n.startsWith("_") && !n.startsWith(".")
    }

  def exists(table: String): Boolean =
    currentVersion(table) > 0 || legacyData(table)

  /** Names of every table with readable data in this store (committed
    * versions or legacy flat files) — the namespace listing (the K6
    * counterpart of BigQuery's dataset.list_tables). Driver-side
    * directory walk: bounded by the table COUNT, never data-sized. */
  def tables(): Seq[String] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .filter(exists)
        .toSeq.sorted
      finally s.close()
    }
  }

  def read(table: String): DataFrame =
    readSnapshot(table, currentVersion(table), resolve(table))

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

  /** Read one snapshot directory under its version's DECLARED schema when
    * a `_schema.v<N>` sidecar exists ([[addColumn]]/[[dropColumn]]), else
    * under the physical footer schema — then subtract the version's
    * DELETION VECTOR when one exists ([[deleteRows]]). The schema
    * injection is what makes metadata-only evolution sound: after an ADD
    * COLUMN, one version directory legitimately holds files WITH and
    * WITHOUT the new column (evolution hard-links old files; later
    * appends write the full schema), and a plain parquet read samples
    * ONE footer — it would silently drop the column or resurrect a
    * dropped one depending on which file it sampled. With an explicit
    * schema, Spark's reader null-fills missing columns and projects away
    * undeclared ones, per-file, deterministically. */
  private def readSnapshot(table: String, v: Int, path: Path): DataFrame = {
    val plain = declaredSchemaOf(table, v) match {
      case Some(st) => spark.read.schema(st).parquet(path.toString)
      case None =>
        spark.read.schema(inferredSchema(table, v, path)).parquet(path.toString)
    }
    if (!Files.isDirectory(dvDir(path))) plain
    else withRowPos(path, plain).drop(DvRel, DvPos)
  }

  /** A committed version's files are immutable and share one schema (the
    * [[assertSchemaMatches]] invariant), so its inferred schema is a pure
    * function of (table, version) — memoized per store instance. Without
    * the memo every `read`/probe pays footer inference at PLAN time, a
    * fixed cost the commit-per-micro-batch loops (s18–s26, t60/t61, the
    * DDL scripts) pay dozens of times per query. Version 0 (legacy flat
    * layout, in-place appends) is NOT memoized: its file set mutates
    * without a version bump, and a plain inference stays the truth. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), StructType]()
  private def inferredSchema(table: String, v: Int, path: Path): StructType =
    if (v <= 0) spark.read.parquet(path.toString).schema
    else schemaMemo.computeIfAbsent((table, v),
      _ => spark.read.parquet(path.toString).schema)

  /** Memoize a version just written FLAT (hive layouts reorder and retype
    * partition columns on inference): parquet reads every column back
    * nullable, so that form of the written schema IS the footer schema. */
  private def seedSchema(table: String, v: Int, written: StructType): Unit =
    schemaMemo.put((table, v), org.apache.spark.sql.GraftBridge.asNullable(written))
  private[graft] def memoizedSchema(table: String, v: Int): Option[StructType] =
    Option(schemaMemo.get((table, v))) // for the specs

  /** A dropped or renamed table's name can be reused at the same version
    * numbers with a different schema — forget everything memoized for it. */
  private def forgetSchemas(table: String): Unit =
    schemaMemo.keySet.removeIf(_._1 == table)

  // ----------------------------------------------- deletion vectors (_dv/)

  /** The version-local deletion vector: a parquet dataset of (relPath,
    * row_index) pairs naming rows every read of this snapshot must
    * subtract. Bookkeeping (underscore), so [[dataFiles]] never sees it. */
  private def dvDir(versionDir: Path): Path = versionDir.resolve("_dv")
  private val DvRel = "__dv_rel"
  private val DvPos = "__dv_pos"

  private def uriPrefix(versionDir: Path): String = {
    // Hadoop's Path rendering ("file:/tmp/…"), because that is the format
    // `_metadata.file_path` carries — java.nio's toUri ("file:///tmp/…")
    // would silently mangle every stored relPath.
    val u = new org.apache.hadoop.fs.Path(versionDir.toUri).toString
    if (u.endsWith("/")) u else u + "/"
  }

  /** Attach the file-relative path + in-file row position to every row of
    * a scan over `versionDir`, then anti-join the deletion vector (when
    * present), KEEPING the position columns — [[deleteRows]] needs them;
    * [[readSnapshot]] drops them. `_metadata.row_index` is stable for
    * immutable files, and relPath (not the absolute URI) is the join key
    * because hard-link commits move the same bytes between version
    * directories. */
  private def withRowPos(versionDir: Path, scan: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = uriPrefix(versionDir)
    val pos = scan
      .withColumn(DvRel,
        expr(s"substring(_metadata.file_path, ${p.length + 1})"))
      .withColumn(DvPos, expr("_metadata.row_index"))
    if (!Files.isDirectory(dvDir(versionDir))) pos
    else {
      val dv = spark.read.parquet(dvDir(versionDir).toString)
        .toDF("__del_rel", "__del_pos")
      pos.join(dv,
        pos(DvRel) === col("__del_rel") && pos(DvPos) === col("__del_pos"),
        "left_anti")
    }
  }

  /** Row-level DELETE WITHOUT rewriting data — deletion vectors, the
    * lakehouse answer to "a DELETE on a 100 TB table must not rewrite the
    * table". One scan finds the matching rows' (file, position) pairs;
    * the commit hard-links every data file unchanged and writes the
    * merged vector as `_dv/` parquet in the new version — O(files) link
    * metadata + O(deleted) vector bytes, zero data rewritten. Every read
    * path subtracts the vector (an anti-join on (relPath, row_index) —
    * positions are stable because files are immutable); rewriting
    * commits (merge, overwrite, cluster) read through the same paths, so
    * they materialize the deletes physically and the new version carries
    * no vector — the natural purge. Time travel keeps each snapshot's own
    * vector: the pre-delete version still shows the rows, and
    * [[diffVersions]] reports them as removed.
    *
    * Successive deletes union (the new scan runs on the already-filtered
    * logical table, so entries never duplicate). A delete matching
    * nothing commits nothing and returns 0. Refused on change-feed
    * tables: the feed streams raw appended files and its consumers could
    * not observe the subtraction.
    *
    * Returns the number of rows deleted. */
  def deleteRows(table: String, condition: org.apache.spark.sql.Column,
      txnTag: Option[String] = None): Long = {
    require(exists(table), s"deleteRows: table '$table' does not exist")
    requireWritable(table) // loud before the scan, not after it
    requireNotMv(table, "deleteRows")
    requireNoFeed(table, "deleteRows")
    checkTag(txnTag)
    val base = resolve(table)
    val (seq0, v0) = head(table)
    val plain = declaredSchemaOf(table, v0) match {
      case Some(st) => spark.read.schema(st).parquet(base.toString)
      case None => spark.read.parquet(base.toString)
    }
    val hits = withRowPos(base, plain).filter(condition)
      .select(col(DvRel).as("rel"), col(DvPos).as("pos"))
      .persist()
    try {
      // ONE action for (count, relPath sample): a separate first() after
      // the count re-planned and re-launched a job per delete — fixed
      // cost the DDL family and the tombstone loops pay per statement.
      val probe = hits.agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min(col("rel"))).first
      val n = probe.getLong(0)
      if (n == 0) return 0L
      // relPaths are join keys across commits (compact carry, reads after
      // link commits) — a scheme-mangled prefix would be consistent within
      // one version but break every cross-commit consumer. Fail loudly.
      val sample = probe.getString(1)
      require(!sample.contains(":") && !sample.startsWith("/"),
        s"deleteRows($table): derived relPath '$sample' is not relative — " +
          "file_path prefix mismatch")
      val (v, claimed) = claimNext(table)
      dataFiles(base).foreach { f =>
        val dst = claimed.resolve(base.relativize(f).toString)
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, f)
      }
      val merged =
        if (Files.isDirectory(dvDir(base)))
          spark.read.parquet(dvDir(base).toString).toDF("rel", "pos")
            .union(hits)
        else hits
      merged.write.mode(SaveMode.Append).parquet(dvDir(claimed).toString)
      if (publish(table, seq0 + 1, v, checkTag(txnTag))) {
        commitPointer(table, v)
        gc(table, v0)
        maintainStats(table, v0)
        maintainSchema(table, v0)
        n
      } else {
        deleteRecursive(claimed)
        throw new IllegalStateException(
          s"deleteRows($table): lost the commit race — rerun")
      }
    } finally hits.unpersist()
  }

  /** Hard-link a version's deletion-vector parquet into a claimed dir —
    * for commits that link every data file unchanged (schema evolution),
    * where the vector stays valid verbatim. */
  private def linkDvVerbatim(base: Path, claimed: Path): Unit =
    if (Files.isDirectory(dvDir(base))) {
      Files.createDirectories(dvDir(claimed))
      val s = Files.list(dvDir(base))
      try s.iterator().asScala.foreach { f =>
        val n = f.getFileName.toString
        if (Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith("."))
          Files.createLink(dvDir(claimed).resolve(n), f)
      } finally s.close()
    }

  /** DESCRIBE HISTORY: the live commit log as a DataFrame — one row per
    * retained marker with (seq, version, ts_millis, txn_tag), newest
    * last. Driver-side marker reads (bounded by retention, like every
    * log walk here), then a local DataFrame: the audit surface Delta
    * spells DESCRIBE HISTORY and BigQuery hides in INFORMATION_SCHEMA.
    * ts falls back to the marker file's mtime for pre-metadata commits
    * (link(2) publishes atomically at commit time, so mtime IS commit
    * time there). */
  def history(table: String): DataFrame = {
    require(exists(table), s"history: table '$table' does not exist")
    val rows = markerLog(table).map(m =>
      (m.seq, m.version, markerTime(table, m), m.tag.orNull))
    import spark.implicits._
    rows.toDF("seq", "version", "ts_millis", "txn_tag")
  }

  /** RESTORE (rollback): republish a RETAINED snapshot as the new head —
    * the recover-from-a-bad-write verb (Delta's RESTORE TABLE). The
    * commit hard-links the snapshot's data files and carries ITS
    * sidecars (declared schema, deletion vector) verbatim, so the head
    * becomes byte- and semantics-identical to the snapshot — including
    * UNDOING later schema evolution (a restore to a pre-ADD-COLUMN
    * snapshot has no declared schema again) and later deletes. O(files)
    * link metadata, zero data moved; history is append-only (the
    * restore is a NEW version — the bad commits stay inspectable until
    * GC ages them). Bounded by the retention window like every
    * time-travel read; restoring the current head is a no-op (true).
    * Refused on change-feed tables: the feed streams appends and its
    * consumers could not observe the rollback. */
  def restore(table: String, v: Int, txnTag: Option[String] = None): Boolean = {
    requireWritable(table) // loud before the no-op short circuit
    requireNoFeed(table, "restore")
    checkTag(txnTag)
    val have = versions(table)
    require(have.contains(v),
      s"restore($table): version v$v not retained (readable: " +
        s"${have.mkString(",")})")
    val (seq0, v0) = head(table)
    if (v == v0) return true
    val src = if (v == 0) dir(table) else dir(table).resolve(s"v$v")
    val (nv, claimed) = claimNext(table)
    dataFiles(src).foreach { f =>
      val dst = claimed.resolve(src.relativize(f).toString)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, f)
    }
    linkDvVerbatim(src, claimed)
    declaredSchemaOf(table, v).foreach(st =>
      Files.writeString(schemaPath(table, nv), st.json))
    if (publish(table, seq0 + 1, nv, checkTag(txnTag))) {
      commitPointer(table, nv)
      gc(table, v0)
      maintainStats(table, v0)
      // NO maintainSchema: the head's declaration is the SNAPSHOT's (set
      // above, or absent), never carried forward from the rolled-back v0.
      true
    } else {
      deleteRecursive(claimed)
      Files.deleteIfExists(schemaPath(table, nv))
      false
    }
  }

  /** Total rows named by the current version's deletion vector —
    * metadata-only (DV parquet footers). */
  private def dvRowCount(base: Path): Long =
    if (!Files.isDirectory(dvDir(base))) 0L
    else {
      val conf = spark.sessionState.newHadoopConf()
      val s = Files.walk(dvDir(base))
      val files = try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq finally s.close()
      files.map(FileStats.rowCount(conf, _)).sum
    }

  /** Versions currently on disk and readable (committed or retained —
    * ascending; excludes claimed-but-uncommitted directories above the
    * pointer). Legacy flat data reads as the implicit version 0. */
  def versions(table: String): Seq[Int] = {
    val committed = currentVersion(table)
    val onDisk = listDir(table).map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
      .filter(_ <= committed).sorted
    if (onDisk.isEmpty && legacyData(table)) Seq(0) else onDisk
  }

  // ------------------------------------------------------- logical views

  private def viewDefPath(name: String): Path =
    dir(name).resolve("_viewdef")
  private def viewSeqPath(name: String): Path =
    dir(name).resolve("_viewseq")

  def isView(name: String): Boolean = Files.exists(viewDefPath(name))

  /** Monotone creation sequence of a view — the registration-order key.
    * Allocated once at first CREATE and PRESERVED across OR REPLACE, so
    * replacing a view a later view depends on can never reorder it past
    * its dependents (sidecar mtime would: the rewrite bumps it). Legacy
    * views without the sidecar fall back to the def's mtime — a value
    * always far above any allocated counter, so legacy views sort last
    * (documented, not load-bearing: warehouses are session-scoped). */
  private def viewSeq(name: String): Long =
    if (Files.exists(viewSeqPath(name)))
      Files.readString(viewSeqPath(name)).trim.toLong
    else Files.getLastModifiedTime(viewDefPath(name)).toMillis

  /** Allocate a fresh, never-published `_viewseq` number — safe under
    * CONCURRENT allocators, same-JVM or across processes sharing the
    * warehouse. Each candidate is claimed by atomically creating a
    * sentinel named for it under `_viewseq_claims/`; `Files.createFile`
    * fails if any other allocator already owns the number, and the
    * loser retries with the next. Claim files are permanent allocation
    * records (one empty file per view ever created), so a crash between
    * claim and sidecar publish can never lead to a reused value — the
    * read-max-then-write race the bare scan had is closed by the claim,
    * the JVM lock just keeps same-process allocators from spinning. */
  private val viewSeqLock = new Object
  private def claimViewSeq(): Long = viewSeqLock.synchronized {
    val claims = Paths.get(warehouse).resolve("_viewseq_claims")
    Files.createDirectories(claims)
    val claimed = {
      val s = Files.list(claims)
      try s.iterator().asScala.flatMap(p =>
        scala.util.Try(p.getFileName.toString.toLong).toOption).toSeq
      finally s.close()
    }
    var next = ((allViewSeqs() ++ claimed) :+ 0L).max + 1L
    var won = false
    while (!won) {
      try { Files.createFile(claims.resolve(next.toString)); won = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => next += 1L
      }
    }
    next
  }

  /** Every allocated sequence value on disk — INCLUDING orphans whose
    * `_viewdef` never landed (crash between the sidecar writes): the
    * allocator must never hand out a number an orphan already holds. */
  private def allViewSeqs(): Seq[Long] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(d => d.resolve("_viewseq"))
        .filter(Files.exists(_))
        .map(p => Files.readString(p).trim.toLong)
        .toSeq
      finally s.close()
    }
  }

  /** CREATE VIEW — a LOGICAL view: the stored artifact is the SQL text
    * itself (BigQuery's standard view), re-planned against the CURRENT
    * state of whatever it references at every query. No rows are
    * materialized — freshness is free and storage is one sidecar file;
    * the trade against [[createMaterializedView]] is paying the full
    * plan per read. The definition is validated by the CALLER (planning
    * needs the statement-scoped catalog); this just claims the name. */
  def createView(name: String, sql: String, orReplace: Boolean = false): Unit = {
    require(sql.trim.nonEmpty, "CREATE VIEW: empty definition")
    require(!exists(name) && !isMaterializedView(name),
      s"CREATE VIEW $name: a table or materialized view already holds " +
        "the name")
    require(orReplace || !isView(name),
      s"CREATE VIEW $name: view exists (use CREATE OR REPLACE VIEW)")
    Files.createDirectories(dir(name))
    // allocate the creation-order sequence BEFORE publishing the def (a
    // view must never be visible without its order key); OR REPLACE
    // keeps the original — replacement must not reorder registration.
    // The max scans EVERY _viewseq sidecar, including orphans from a
    // crash between the two writes — otherwise the next allocation
    // would reuse the orphan's number and two views could share one.
    if (!Files.exists(viewSeqPath(name))) {
      val next = claimViewSeq()
      val seqStaged = dir(name).resolve(s"_viewseq.staged.${System.nanoTime}")
      Files.writeString(seqStaged, next.toString)
      Files.move(seqStaged, viewSeqPath(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    val staged = dir(name).resolve(s"_viewdef.staged.${System.nanoTime}")
    Files.writeString(staged, sql)
    Files.move(staged, viewDefPath(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def viewSql(name: String): String = {
    require(isView(name), s"'$name' is not a view")
    Files.readString(viewDefPath(name))
  }

  /** View names in CREATION order ([[viewSeq]] — a persisted counter,
    * NOT sidecar mtime: OR REPLACE rewrites the def and would bump a
    * replaced view past its dependents, inverting registration order):
    * registering in this order lets a later view reference an earlier
    * one, and keeps that true across replacement. */
  def views(): Seq[String] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .filter(isView)
        .toSeq
        .sortBy(viewSeq)
      finally s.close()
    }
  }

  /** Logical views whose stored SQL references `table` in RELATION
    * position — the name following a FROM or JOIN keyword, or following
    * a top-level comma INSIDE a FROM list (`FROM a, b` — the second
    * relation of a comma join). The comma branch is tempered: it only
    * fires when an unparenthesized FROM precedes the comma with no
    * clause keyword (WHERE/GROUP/ORDER/…) in between, so a column named
    * like the table in a SELECT or ORDER BY list never blocks a
    * DROP/RENAME. A reference this regex misses (an exotic clause
    * shape) degrades safely: the view breaks at its next USE — loudly,
    * via the tolerant-registration contract — never silently. Bounded
    * by view COUNT — one sidecar read per view. */
  def viewsReferencing(table: String): Seq[String] = {
    val q = java.util.regex.Pattern.quote(table)
    val pat = java.util.regex.Pattern.compile(
      "\\b(?:FROM|JOIN)\\s+`?" + q + "\\b" +
        // comma join: FROM <stuff without ; ( ) or a clause keyword> , name
        "|\\bFROM\\b(?:(?!\\b(?:WHERE|GROUP|ORDER|HAVING|LIMIT|WINDOW|" +
        "SELECT|UNION|INTERSECT|EXCEPT)\\b)[^;()])*,\\s*`?" + q + "\\b",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    views().filter(v => v != table && pat.matcher(viewSql(v)).find())
  }

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
  def isSnapshot(table: String): Boolean =
    exists(table) && (Files.exists(resolve(table).resolve("_snapshot")) ||
      // legacy location (pre-r13 builds flagged the table ROOT): honored
      // on read so upgraded warehouses keep their read-only protection;
      // new snapshots write only the in-version flag (crash-safe — an
      // uncommitted claim can never poison the name)
      Files.exists(dir(table).resolve("_snapshot")))

  /** Every mutating path funnels through here (committing rewrites via
    * [[claimNext]]; in-place appends check explicitly): a SNAPSHOT table
    * refuses all writes for its whole life — the read-only half of the
    * BigQuery snapshot contract. DROP stays allowed (deleting a snapshot
    * is how BigQuery retires one; the data it shares with the source
    * lives on through the hard-link counts). */
  private def requireWritable(table: String): Unit = {
    // the table/view namespace is mutually exclusive: a committing write
    // under a logical view's name would nest version dirs beside the
    // stored definition and every later statement would resolve the name
    // to the STALE view SQL — loud here, the funnel every write passes
    require(!isView(table),
      s"'$table' is a logical view — tables cannot be written under a " +
        "view's name (DROP VIEW first, or pick another name)")
    require(!isSnapshot(table),
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
    * SHALLOW CLONE): materialize a retained snapshot of `source` (the
    * head, or a pinned earlier version) as a NEW table whose v1
    * hard-links the snapshot's data files and carries its sidecars —
    * declared schema, deletion vector, CHECK constraints — verbatim.
    * O(files) link metadata, zero bytes of data copied; from then on the
    * two tables evolve independently, because committed version
    * directories are immutable by protocol and every rewrite allocates
    * new files — hard links share BYTES, never mutable state. The GC of
    * either table unlinks only its own directory entries; the shared
    * inodes survive until the last referrer ages out.
    *
    * `snapshot = true` additionally marks the clone read-only for life
    * (BigQuery's CREATE SNAPSHOT TABLE — the cheap audit/backup verb):
    * every later write, including RESTORE and OPTIMIZE, is refused loudly.
    *
    * At 100 TB this is the difference between an instant metadata
    * operation and a cluster-day of copying — the reason warehouses grew
    * a CLONE verb at all. Returns the clone's version number (1). */
  def cloneTable(source: String, target: String,
      asOfVersion: Option[Int] = None, snapshot: Boolean = false,
      txnTag: Option[String] = None): Int = {
    require(exists(source), s"clone: source table '$source' does not exist")
    require(!exists(target),
      s"clone: target table '$target' already exists in the store")
    checkTag(txnTag)
    val v = asOfVersion.getOrElse(currentVersion(source))
    val have = versions(source)
    require(have.contains(v),
      s"clone($source): version v$v not retained (readable: " +
        s"${have.mkString(",")})")
    val src = if (v == 0) dir(source) else dir(source).resolve(s"v$v")
    val (nv, claimed) = claimNext(target)
    dataFiles(src).foreach { f =>
      val dst = claimed.resolve(src.relativize(f).toString)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, f)
    }
    linkDvVerbatim(src, claimed)
    declaredSchemaOf(source, v).foreach(st =>
      Files.writeString(schemaPath(target, nv), st.json))
    val cs = constraints(source)
    if (cs.nonEmpty) writeConstraints(target, cs)
    // The flag rides in the claimed dir and becomes visible WITH the
    // commit: read-only from the first visible instant, and a crashed or
    // out-raced clone leaves no stale root flag to poison the name.
    if (snapshot) Files.writeString(claimed.resolve("_snapshot"), "")
    commitClaimed(target, nv, checkTag(txnTag))
    nv
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
      val tpe =
        if (isSnapshot(t)) "SNAPSHOT"
        else if (isMaterializedView(t)) "MATERIALIZED VIEW"
        else "BASE TABLE"
      (t, tpe, currentVersion(t), countRows(t), fileCount(t),
        read(t).schema.fields.length)
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
    * count (parquet footers minus the partition's deletion-vector
    * entries — zero data read) and data-file count. Unpartitioned
    * tables yield one `__NULL__` row covering the whole table, matching
    * BigQuery's null partition_id. The partition-management surface
    * rests on this: retention sweeps, skew audits, and load balancing
    * all start from "how big is each partition" answered without a
    * scan. */
  def informationSchemaPartitions(table: String,
      parallelism: Int = 8): DataFrame = {
    import spark.implicits._
    val base = resolve(table)
    val conf = spark.sessionState.newHadoopConf()
    // deletion-vector entries per first-level directory (relPath's head
    // segment), so partition counts subtract exactly their own deletes
    val dvByDir: Map[String, Long] =
      if (!Files.isDirectory(dvDir(base))) Map.empty
      else spark.read.parquet(dvDir(base).toString).toDF("rel", "pos")
        .select(when(col("rel").contains("/"),
          org.apache.spark.sql.functions
            .substring_index(col("rel"), "/", 1))
          .otherwise("__NULL__").as("d"))
        .groupBy(col("d")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byPart = dataFiles(base).groupBy { f =>
      val rel = base.relativize(f)
      if (rel.getNameCount > 1 && rel.getName(0).toString.contains("="))
        rel.getName(0).toString
      else "__NULL__"
    }
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

  private final case class MvDef(base: String, keys: Seq[String],
      aggs: Seq[MvAgg], baseVersion: Int, covered: Set[String])

  private def mvDefPath(mv: String): Path = dir(mv).resolve("_mvdef")

  def isMaterializedView(mv: String): Boolean = Files.exists(mvDefPath(mv))

  /** Sidecar format (line-oriented like the marker log): base, keys,
    * aggs (`out:func:in`), pinned base version, then one covered relPath
    * per line. Rewritten atomically on refresh. */
  private def writeMvDef(mv: String, d: MvDef): Unit = {
    val staged = dir(mv).resolve(s"_mvdef.staged.${System.nanoTime}")
    Files.writeString(staged,
      (Seq(d.base, d.keys.mkString("\t"),
        d.aggs.map(a => s"${a.out}:${a.func}:${a.in}").mkString("\t"),
        d.baseVersion.toString) ++ d.covered.toSeq.sorted)
        .mkString("", "\n", "\n"))
    Files.move(staged, mvDefPath(mv), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def readMvDef(mv: String): MvDef = {
    require(isMaterializedView(mv),
      s"'$mv' is not a materialized view (no _mvdef sidecar)")
    val lines = Files.readString(mvDefPath(mv)).linesIterator.toSeq
    MvDef(lines.head, lines(1).split("\t").toSeq,
      lines(2).split("\t").toSeq.map { s =>
        val Array(o, f, i) = s.split(":", 3); MvAgg(o, f, i)
      },
      lines(3).toInt, lines.drop(4).filter(_.nonEmpty).toSet)
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

  /** Aggregate the base's CURRENT snapshot and record what it covered:
    * (pinned version, covered data-file relPaths, aggregated rows). */
  private def mvSnapshotAgg(d: MvDef): (Int, Set[String], DataFrame) = {
    val v = currentVersion(d.base)
    val baseDir = resolve(d.base)
    val files = dataFiles(baseDir)
      .map(f => baseDir.relativize(f).toString).toSet
    val rows = readSnapshot(d.base, v, baseDir)
      .groupBy(d.keys.map(col): _*)
      .agg(mvAggExprs(d.aggs).head, mvAggExprs(d.aggs).tail: _*)
    (v, files, rows)
  }

  /** CREATE MATERIALIZED VIEW — BigQuery's aggregate MV: a store table
    * holding `SELECT keys, aggs FROM base GROUP BY keys`, plus a sidecar
    * pinning WHAT it covered (base version + data-file relPaths). The
    * restriction to COUNT/SUM/MIN/MAX is the point, not a shortcut: it
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
    val d = MvDef(base, keys, aggs, 0, Set.empty)
    val (v, files, rows) = mvSnapshotAgg(d)
    overwrite(mv, rows)
    writeMvDef(mv, d.copy(baseVersion = v, covered = files))
  }

  /** Data files of the MV's base that the stored rows do NOT cover —
    * in-place appends since the last (re)materialization. Freshness
    * evidence for gates; empty right after REFRESH. Meaningful only
    * while the base version is unchanged (a rewrite invalidates the
    * file algebra wholesale — see [[readMaterialized]]). */
  def mvDeltaFiles(mv: String): Int = {
    val d = readMvDef(mv)
    if (currentVersion(d.base) != d.baseVersion) 0
    else {
      val baseDir = resolve(d.base)
      dataFiles(baseDir)
        .count(f => !d.covered(baseDir.relativize(f).toString))
    }
  }

  /** Read the view AT FULL FRESHNESS without rewriting it — the
    * BigQuery query-time combine:
    *   - base version unchanged, no new files → the stored rows as-is;
    *   - base version unchanged, files appended in place → stored rows
    *     ∪ a partial aggregate over ONLY the delta files, merged per
    *     key (counts/sums add, min/max fold) — cost scales with the
    *     APPEND, not the base;
    *   - base version changed (merge / delete / overwrite / compact
    *     rewrote or relinked files) → transparent full recompute from
    *     the base: append-only file algebra no longer applies, and a
    *     wrong-but-fast answer is worse than a slow-but-right one.
    *     REFRESH re-pins the view and restores the cheap path.
    * Delta files read with the base directory as `basePath`, so
    * hive-partitioned bases keep their partition columns. Aggregate
    * columns are cast back to the STORED schema — combining widens
    * sums (decimal precision growth) and the view's schema must not
    * drift with freshness. */
  def readMaterialized(mv: String): DataFrame = {
    val d = readMvDef(mv)
    val stored = read(mv)
    if (currentVersion(d.base) != d.baseVersion) mvConform(mvSnapshotAgg(d)._3, stored)
    else {
      val baseDir = resolve(d.base)
      val delta = dataFiles(baseDir)
        .filter(f => !d.covered(baseDir.relativize(f).toString))
      if (delta.isEmpty) stored
      else {
        val fresh = spark.read
          .option("basePath", baseDir.toString)
          .parquet(delta.map(_.toString): _*)
          .groupBy(d.keys.map(col): _*)
          .agg(mvAggExprs(d.aggs).head, mvAggExprs(d.aggs).tail: _*)
        val merged = stored.unionByName(mvConform(fresh, stored))
          .groupBy(d.keys.map(col): _*)
          .agg(mvCombineExprs(d.aggs).head, mvCombineExprs(d.aggs).tail: _*)
        mvConform(merged, stored)
      }
    }
  }

  /** Cast a combined/recomputed frame to the stored MV schema (column
    * order and types), so freshness never changes the view's shape. */
  private def mvConform(df: DataFrame, stored: DataFrame): DataFrame =
    df.select(stored.schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)

  /** REFRESH MATERIALIZED VIEW — materialize [[readMaterialized]]'s
    * answer and re-pin the sidecar: incremental (stored + delta merge)
    * when the base only grew in place, full recompute when it was
    * rewritten. No-op when already fresh. */
  def refreshMaterializedView(mv: String): Unit = {
    val d = readMvDef(mv)
    if (currentVersion(d.base) == d.baseVersion && mvDeltaFiles(mv) == 0)
      return
    val next = readMaterialized(mv)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      next.count() // materialize BEFORE the overwrite drops the old rows
      val v = currentVersion(d.base)
      val baseDir = resolve(d.base)
      val files = dataFiles(baseDir)
        .map(f => baseDir.relativize(f).toString).toSet
      // internal commit path: `overwrite` (the user verb) refuses MVs
      commitRewrite(mv, next)
      writeMvDef(mv, d.copy(baseVersion = v, covered = files))
    } finally next.unpersist()
  }

  /** Time-travel read of a retained snapshot: the table exactly as some
    * earlier commit left it. Bounded by the GC retention window (one
    * version behind the pointer by default) — the versioned layout makes
    * this free: a snapshot IS a directory, immutable once committed. */
  def readVersion(table: String, v: Int): DataFrame = {
    val have = versions(table)
    require(have.contains(v),
      s"version v$v of $table not available (readable: ${have.mkString(",")})")
    val p = if (v == 0) dir(table) else dir(table).resolve(s"v$v")
    readSnapshot(table, v, p)
  }

  /** Commit wall-clock stamp of a marker: the `ts=` line when present
    * (round-12 layout), else the marker file's mtime — link(2) publishes
    * the marker atomically at commit time, so mtime IS commit time for
    * pre-metadata markers. */
  private def markerTime(table: String, m: Marker): Long =
    m.ts.getOrElse(
      Files.getLastModifiedTime(dir(table).resolve(s"_commit.${m.seq}"))
        .toMillis)

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
    val at = log.filter(markerTime(table, _) <= tsMillis)
    require(at.nonEmpty,
      s"no commit of $table at or before ts=$tsMillis (oldest retained: " +
        s"ts=${markerTime(table, log.head)}) — outside the retention window")
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

  /** Atomically claim the next free version directory (≥ committed + 1,
    * skipping orphaned claims from crashed or in-flight writers). */
  private def claimNext(table: String): (Int, Path) = {
    requireWritable(table) // every committing rewrite claims first
    Files.createDirectories(dir(table))
    val taken = listDir(table).map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
    var n = math.max(currentVersion(table),
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

  /** Advisory pointer refresh (staged write + atomic rename). Readers go
    * through the marker log; this exists as a human-readable head hint
    * and for compatibility with the pointer-only layout. */
  private def commitPointer(table: String, v: Int): Unit = {
    val staged = dir(table).resolve(s"_current.staged.v$v")
    Files.writeString(staged, s"v$v")
    Files.move(staged, pointer(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Commit an already-written claim directory at the NEXT free log seq —
    * for writes whose content does not depend on the base version
    * (overwrite, first write): a competing commit just bumps the seq we
    * publish at; nothing needs re-applying. */
  private def commitClaimed(table: String, v: Int,
      tag: Option[String] = None,
      written: Option[StructType] = None): Unit = {
    var (seq, prev) = head(table)
    while (!publish(table, seq + 1, v, tag)) {
      val h = head(table); seq = h._1; prev = h._2
    }
    commitPointer(table, v)
    gc(table, prev)
    maintainStats(table, prev)
    maintainSchema(table, prev, written)
  }

  /** Sweep versions that have left the retention window. `prev` is the
    * version that was committed BEFORE this commit — the one in-flight
    * readers may still be scanning — so retention is anchored to the
    * pointer history, never to the new version number: claimNext skips
    * orphaned claims, so `committed - 1` can be far above the live
    * previous version and keying GC off it would delete what a reader is
    * scanning while retaining ghosts. Deletes every vN < prev, plus the
    * pre-protocol flat files once they too are behind the window
    * (prev ≥ 1 means some vN replaced them as the retained snapshot). */
  private def gc(table: String, prev: Int): Unit = {
    val agedMarkers =
      markers(table).filter(_._2 < prev).map(_._1).toSet
    listDir(table).foreach { p =>
      val n = p.getFileName.toString
      n match {
        case MarkerName(s) => // log entries of swept versions age out too
          if (agedMarkers(s.toInt)) Files.deleteIfExists(p)
        case _ if n.matches("v\\d+") =>
          if (n.drop(1).toInt < prev) deleteRecursive(p)
        case _ if n.matches("_stats\\.v\\d+") => // sidecar ages with its version
          if (n.stripPrefix("_stats.v").toInt < prev) Files.deleteIfExists(p)
        case _ if n.matches("_schema\\.v\\d+") => // declared schema too
          if (n.stripPrefix("_schema.v").toInt < prev) Files.deleteIfExists(p)
        case _ if prev >= 1 && !n.startsWith("_") && !n.startsWith(".") =>
          deleteRecursive(p) // legacy v0 flat data aged out of retention
        case _ => ()
      }
    }
  }

  /** Full-table rewrite through the commit protocol (steps 1-3 + GC). */
  private def commitRewrite(table: String, df: DataFrame,
      tag: Option[String] = None): Unit = {
    val (v, claimed) = claimNext(table)
    // Append mode: the claimed directory is empty and MUST survive the
    // write (Overwrite would delete-and-recreate it, dropping the claim).
    enforced(table, df).write.mode(SaveMode.Append).parquet(claimed.toString)
    // A full rewrite's files physically carry the frame's schema, so the
    // declared schema (if the table had evolved) follows the frame: an
    // overwrite IS the explicit schema-replacement path.
    commitClaimed(table, v, tag, written = Some(df.schema))
    seedSchema(table, v, df.schema)
  }

  /** Schema-on-write guard for in-place appends: a frame whose columns or
    * types differ from the table's would land as mixed-schema files in
    * the SAME version directory, and a plain parquet read samples one
    * footer — the new column silently vanishes (or the read fails) far
    * from the write that caused it. Appends therefore fail loudly on
    * drift; widening is an explicit [[overwrite]]/[[mergeWith]] — a NEW
    * version, so time travel keeps each snapshot's schema intact.
    * Column order and nullability are not drift; names + types are. */
  /** The table's current schema WITHOUT planning a full-table scan: the
    * declared sidecar when the table has evolved, else ONE data file's
    * footer (files in a version share a schema — the invariant
    * [[assertSchemaMatches]] itself maintains), read with `basePath` so
    * hive partition columns still surface. A full `read(table)` here
    * costs a leaf-file listing job per append on wide layouts — pure
    * fixed overhead in commit-per-micro-batch loops. */
  private def currentSchema(table: String): StructType = {
    val v = currentVersion(table)
    declaredSchemaOf(table, v).getOrElse {
      val base = resolve(table)
      def infer = dataFiles(base).headOption match {
        case Some(f) => spark.read.option("basePath", base.toString)
          .parquet(f.toString).schema
        case None => read(table).schema
      }
      // same per-version memo as [[inferredSchema]] (committed versions
      // are immutable); v0 keeps the uncached one-footer read
      if (v <= 0) infer
      else schemaMemo.computeIfAbsent((table, v), _ => infer)
    }
  }

  private def assertSchemaMatches(table: String, df: DataFrame,
      relaxed: Set[String] = Set.empty): Unit = {
    // `relaxed` columns compare by NAME only: hive-style partition values
    // are type-inferred on read, so the partition column's physical type
    // may legitimately differ from the written frame's.
    def shape(fs: Array[org.apache.spark.sql.types.StructField]) = fs
      .map(f => (f.name, if (relaxed(f.name)) "*" else f.dataType.sql))
      .sortBy(_._1).toSeq
    val cur = shape(currentSchema(table).fields)
    val in = shape(df.schema.fields)
    require(cur == in,
      s"schema drift on append to '$table': table has " +
        s"${cur.map { case (n, t) => s"$n:$t" }.mkString("[", ", ", "]")}, " +
        s"frame has ${in.map { case (n, t) => s"$n:$t" }.mkString("[", ", ", "]")}. " +
        "Widen via overwrite/mergeWith (a new version), never by mixing " +
        "file schemas in place.")
  }

  def append(table: String, df: DataFrame): Unit =
    if (exists(table)) {
      requireWritable(table) // in-place: no claim, so check here
      requireNotMv(table, "append")
      assertSchemaMatches(table, df)
      val base = resolve(table)
      val before = dataFiles(base).map(_.getFileName.toString).toSet
      enforced(table, df).write.mode(SaveMode.Append)
        .parquet(base.toString)
      feedNewFiles(table, base, before)
    } else commitRewrite(table, df) // first write creates + commits v1

  /** Append with hive-style partitioning — the 100 TB layout for fact
    * tables (time_play partitioned by day): date-filtered scans prune whole
    * partition directories instead of reading and filtering. */
  def appendPartitioned(table: String, df: DataFrame,
      partitionCol: String, txnTag: Option[String] = None): Unit = {
    requireNotMv(table, "appendPartitioned")
    if (!exists(table)) {
      val (v, claimed) = claimNext(table)
      enforced(table, df).write.mode(SaveMode.Append)
        .partitionBy(partitionCol).parquet(claimed.toString)
      commitClaimed(table, v, checkTag(txnTag))
    } else {
      // In-place appends add files to the CURRENT version without a new
      // commit marker, so there is nothing to tag — an idempotent writer
      // needs the committing paths (overwrite/merge*With).
      require(txnTag.isEmpty,
        s"append to existing '$table' does not commit — txnTag unsupported")
      require(!feedEnabled(table),
        s"'$table' has the change feed enabled; hive-partitioned appends " +
          "cannot feed (files lack the partition column)")
      requireWritable(table) // in-place: no claim, so check here
      assertSchemaMatches(table, df, relaxed = Set(partitionCol))
      enforced(table, df).write.mode(SaveMode.Append)
        .partitionBy(partitionCol).parquet(resolve(table).toString)
    }
  }

  /** Commit-protocol APPEND: a new version whose content is the current
    * version's files HARD-LINKED (O(files) metadata, zero data copied or
    * rewritten) plus the frame's files written alongside. Unlike the
    * in-place [[append]], this is a real commit, so it carries a
    * transaction tag — the exactly-once discipline streaming sinks need
    * ([[txnVersion]] watermark: a replayed micro-batch whose commit
    * marker survived the crash is SKIPPED, never double-appended) —
    * while still costing O(increment) data I/O, NOT the O(touched
    * partitions) rewrite of [[mergePartitionedWith]]. With
    * `partitionCol` the new files land hive-style, so
    * [[readPartitions]] probes stay pruned as the table grows — the
    * append-only-index layout (s24's ingest loop). The deletion-vector
    * sidecar carries verbatim: linked files keep their relPaths.
    * CAS-committed at baseSeq+1 (content depends on the base version —
    * a lost race discards the claim and re-links). */
  def appendCommitted(table: String, df: DataFrame,
      partitionCol: Option[String] = None,
      txnTag: Option[String] = None, maxRetries: Int = 5): Unit = {
    requireNotMv(table, "appendCommitted")
    requireNoFeed(table, "appendCommitted")
    checkTag(txnTag)
    def write(claimed: Path): Unit = {
      val w = enforced(table, df).write.mode(SaveMode.Append)
      partitionCol.fold(w)(w.partitionBy(_)).parquet(claimed.toString)
    }
    if (!exists(table)) {
      val (v, claimed) = claimNext(table)
      write(claimed)
      commitClaimed(table, v, txnTag)
    } else {
      assertSchemaMatches(table, df, relaxed = partitionCol.toSet)
      var attempt = 0
      var committed = false
      while (!committed) {
        val (baseSeq, baseV) = head(table)
        val basePath =
          if (baseV > 0) dir(table).resolve(s"v$baseV") else dir(table)
        val (v, claimed) = claimNext(table)
        dataFiles(basePath).foreach { f =>
          val dst = claimed.resolve(basePath.relativize(f))
          Files.createDirectories(dst.getParent)
          Files.createLink(dst, f)
        }
        if (Files.isDirectory(dvDir(basePath))) {
          val dst = dvDir(claimed)
          Files.createDirectories(dst)
          val l = Files.list(dvDir(basePath))
          try l.iterator().asScala.foreach { f =>
            if (Files.isRegularFile(f))
              Files.createLink(dst.resolve(f.getFileName.toString), f)
          } finally l.close()
        }
        write(claimed)
        if (publish(table, baseSeq + 1, v, txnTag)) {
          commitPointer(table, v)
          gc(table, baseV)
          maintainStats(table, baseV)
          maintainSchema(table, baseV)
          committed = true
        } else {
          deleteRecursive(claimed)
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"appendCommitted($table): lost commit race $attempt times")
        }
      }
    }
  }

  /** (files selected, files total) of the most recent [[readPartitions]]
    * probe — the witness a spec asserts to prove a probe is pruned, the
    * [[lastCompactConcurrency]] instrumentation pattern. */
  private val probePeek =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))
  private[graft] def lastPartitionProbe: (Int, Int) = probePeek.get

  /** Partition-pruned point read: ONLY the files under `partitionCol=v`
    * hive directories for the requested values are listed into the scan
    * — directories outside the value set are never opened, so a probe
    * against an N-bucket table costs O(files in touched buckets), not
    * O(table). The caller owns completeness: pass every bucket value the
    * probe keys can hash into (the [[appendCommitted]] bucketing
    * discipline makes that a bounded, collect-free derivation). Results
    * equal `read(table).filter(col in values)` by construction — hive
    * partition values are exact, not statistics. */
  def readPartitions(table: String, partitionCol: String,
      values: Seq[Any]): DataFrame = {
    val base = resolve(table)
    val wanted = values.map(String.valueOf).toSet
    val prefix = partitionCol + "="
    val all = dataFiles(base)
    val kept = all.filter { p =>
      val rel = base.relativize(p)
      rel.getNameCount > 1 && {
        val n = rel.getName(0).toString
        n.startsWith(prefix) && wanted.contains(java.net.URLDecoder
          .decode(n.substring(prefix.length), "UTF-8"))
      }
    }
    probePeek.set((kept.length, all.length))
    // The scan takes the surviving bucket DIRECTORIES (bounded by the
    // value set), not the file list: a per-file path list above the
    // parallel-discovery threshold spends a whole listing JOB per probe
    // — fixed overhead that dwarfs a micro-batch's real work.
    val keptDirs = kept.map(p => base.relativize(p).getName(0).toString)
      .distinct.map(d => base.resolve(d).toString)
    if (kept.isEmpty)
      read(table).filter(org.apache.spark.sql.functions.lit(false))
    else {
      // explicit schema (sidecar or one footer): per-probe schema
      // inference over every surviving file is plan-time overhead a
      // per-micro-batch probe pays hundreds of times
      val scan = spark.read.schema(currentSchema(table))
        .option("basePath", base.toString)
        .parquet(keptDirs: _*)
      if (Files.isDirectory(dvDir(base)))
        withRowPos(base, scan).drop(DvRel, DvPos)
      else scan
    }
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
    * directory listing, bounded by the file count itself. */
  def fileCount(table: String): Int = dataFiles(resolve(table)).length

  /** Total parquet data bytes of the table's current version — the input
    * [[compact]] callers size their `targetBytes` from. Same bounded
    * driver-side listing as [[fileCount]]. */
  def tableBytes(table: String): Long =
    dataFiles(resolve(table)).map(Files.size).sum

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
    *      log ([[commitClaimed]] — a concurrent writer just bumps the
    *      seq; the transaction's state wins, the overwrite contract).
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
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, claims.length))
    val staged = try {
      claims.map { case (t, v, claimed, df) =>
        (t, v, pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = enforced(t, df).write
            .mode(SaveMode.Append).parquet(claimed.toString)
        }))
      }.map { case (t, v, f) => f.get(); (t, v) }
    } finally pool.shutdown()
    val logDir = Paths.get(warehouse, "_txnlog")
    Files.createDirectories(logDir)
    val id = s"txn.${System.nanoTime}"
    val stagedManifest = logDir.resolve(s".staged.$id")
    Files.writeString(stagedManifest,
      staged.map { case (t, v) => s"$t $v" }.mkString("\n"))
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
        val published = markers(t).exists(_._2 == v)
        if (!published && Files.isDirectory(dir(t).resolve(s"v$v")))
          commitClaimed(t, v, txnTag, schemas.get(t))
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
    if (!Files.isDirectory(logDir)) return 0
    val manifests = {
      val s = Files.list(logDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("txn.")).toSeq.sorted
      finally s.close()
    }
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
    * window. */
  def mergeWith(table: String, maxRetries: Int = 5,
      txnTag: Option[String] = None)(
      f: DataFrame => DataFrame): Unit = {
    requireNotMv(table, "mergeWith")
    requireNoFeed(table, "mergeWith")
    checkTag(txnTag)
    var attempt = 0
    var committed = false
    while (!committed) {
      val (baseSeq, baseV) = head(table)
      // Pin the scan to the base version's directory (not resolve(), which
      // could drift to a concurrent commit mid-transaction): the CAS below
      // is only meaningful if f consumed exactly the state it names.
      val basePath =
        if (baseV > 0) dir(table).resolve(s"v$baseV") else dir(table)
      val next = f(readSnapshot(table, baseV, basePath))
      // Materialize BEFORE committing: f's plan lazily re-reads the table
      // at job time, so commit must not expose a half-new view. The claim
      // directory is the natural materialization target.
      val (v, claimed) = claimNext(table)
      enforced(table, next).write.mode(SaveMode.Append)
        .parquet(claimed.toString)
      if (publish(table, baseSeq + 1, v, txnTag)) {
        commitPointer(table, v)
        gc(table, baseV)
        maintainStats(table, baseV)
        // A full rewrite lands f's OUTPUT schema in every file, so that is
        // the declaration to carry forward — f may have CHANGED it
        // (renameColumn routes here); copying baseV's sidecar would
        // silently project the new files back to the old names,
        // null-filling the renamed column.
        maintainSchema(table, baseV, Some(next.schema))
        seedSchema(table, v, next.schema)
        committed = true
      } else {
        deleteRecursive(claimed) // lost the race: discard and re-apply
        attempt += 1
        if (attempt > maxRetries)
          throw new IllegalStateException(
            s"mergeWith($table): lost commit race $attempt times")
      }
    }
  }

  /** Partition-pruned transactional rewrite — K4 at fact-table scale. A
    * daily upsert touches O(changed) rows, but [[mergeWith]] rewrites the
    * whole table per commit; at 100 TB that is the one scale-killer left
    * in the sink layer. This variant rewrites ONLY the hive partitions in
    * `touched` (the scan is partition-pruned to them, `f` transforms just
    * that subset) and HARD-LINKS every file of every untouched partition
    * into the new version directory: O(touched partitions) I/O and an
    * O(files) metadata pass, same CAS commit, same snapshot isolation —
    * links alias immutable files, and GC unlinks old version dirs without
    * ever truncating shared content. (On an object store the link step
    * maps to server-side copy or, better, a manifest that references the
    * unchanged objects.)
    *
    * CONTRACT: the table must carry a hive layout on `partitionCol`
    * (written via [[appendPartitioned]]), and the merge key must
    * determine its partition (the date-partitioned-fact shape): a key
    * whose update names a different partition value than its existing row
    * would leave the old row in place — that shape needs [[mergeWith]].
    * `touched` values compare against directory names via
    * `String.valueOf`, so stick to string/integral partition columns. */
  def mergePartitionedWith(table: String, partitionCol: String,
      touched: Seq[Any], maxRetries: Int = 5,
      txnTag: Option[String] = None)(
      f: DataFrame => DataFrame): Unit = {
    if (touched.isEmpty) return
    requireNotMv(table, "mergePartitionedWith")
    requireNoFeed(table, "mergePartitionedWith")
    checkTag(txnTag)
    val touchedStr = touched.map(String.valueOf).toSet
    var attempt = 0
    var committed = false
    while (!committed) {
      val (baseSeq, baseV) = head(table)
      val basePath =
        if (baseV > 0) dir(table).resolve(s"v$baseV") else dir(table)
      // The isin filter lands in the scan's PartitionFilters: untouched
      // directories are never opened, let alone read.
      val touchedBase = readSnapshot(table, baseV, basePath)
        .filter(col(partitionCol).isin(touched: _*))
      val next = f(touchedBase)
      val (v, claimed) = claimNext(table)
      enforced(table, next).write.mode(SaveMode.Append)
        .partitionBy(partitionCol).parquet(claimed.toString)
      linkUntouchedPartitions(basePath, claimed, partitionCol, touchedStr)
      carryDvForUntouched(basePath, claimed, partitionCol, touchedStr)
      if (publish(table, baseSeq + 1, v, txnTag)) {
        commitPointer(table, v)
        gc(table, baseV)
        maintainStats(table, baseV)
        maintainSchema(table, baseV)
        committed = true
      } else {
        deleteRecursive(claimed)
        attempt += 1
        if (attempt > maxRetries)
          throw new IllegalStateException(
            s"mergePartitionedWith($table): lost commit race $attempt times")
      }
    }
  }

  /** Untouched partitions were hard-linked: their relPaths and bytes are
    * unchanged, so their deletion-vector entries stay valid — carry
    * exactly those. Touched partitions were rewritten through the
    * DV-aware read, which materialized their deletes. */
  private def carryDvForUntouched(base: Path, claimed: Path,
      partitionCol: String, touched: Set[String]): Unit =
    if (Files.isDirectory(dvDir(base))) {
      import spark.implicits._
      val prefix = partitionCol + "="
      val untouchedDirs = {
        val s = Files.list(base)
        try s.iterator().asScala.flatMap { p =>
          val n = p.getFileName.toString
          if (Files.isDirectory(p) && n.startsWith(prefix) &&
              !touched.contains(java.net.URLDecoder.decode(
                n.substring(prefix.length), "UTF-8"))) Some(n)
          else None
        }.toSeq finally s.close()
      }
      if (untouchedDirs.nonEmpty) {
        val keep = spark.read.parquet(dvDir(base).toString)
          .toDF("rel", "pos")
          .withColumn("__dir", org.apache.spark.sql.functions
            .substring_index(col("rel"), "/", 1))
          .join(org.apache.spark.sql.functions.broadcast(
            untouchedDirs.toDF("__dir")), "__dir")
          .select(col("rel"), col("pos"))
        if (!keep.isEmpty)
          keep.write.mode(SaveMode.Append).parquet(dvDir(claimed).toString)
      }
    }

  /** Hard-link every data file of every `partitionCol=` directory whose
    * value is NOT in `touched` from the base version dir into the claimed
    * one. Link, not copy: version dirs share the immutable bytes, and
    * deleting a version dir (GC) merely drops link count. */
  private def linkUntouchedPartitions(base: Path, claimed: Path,
      partitionCol: String, touched: Set[String]): Unit = {
    val prefix = partitionCol + "="
    Files.list(base).iterator().asScala.foreach { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p) && n.startsWith(prefix)) {
        val value = java.net.URLDecoder.decode(
          n.substring(prefix.length), "UTF-8")
        if (!touched.contains(value)) {
          val dst = claimed.resolve(n)
          Files.createDirectories(dst)
          Files.list(p).iterator().asScala.foreach { file =>
            val fn = file.getFileName.toString
            if (Files.isRegularFile(file) &&
                !fn.startsWith("_") && !fn.startsWith("."))
              Files.createLink(dst.resolve(fn), file)
          }
        }
      }
    }
  }

  /** OPTIMIZE (compaction): bin-pack this table's small data files into
    * ~`targetBytes` outputs in a NEW version — the lakehouse maintenance
    * op that keeps an append-heavy table scannable at scale. Every small
    * append (the reference's daily loads, main.py:184-236) adds files;
    * scan cost and task count follow FILE count, not bytes, so a 100 TB
    * fact table drifts toward millions of tiny files without this.
    *
    * I/O is O(small files), never O(table): files are first-fit-decreasing
    * packed by on-disk size, and any single-file bin (= already at or
    * above target) is HARD-LINKED into the new version unchanged (the
    * partition-pruned-merge machinery) — only genuinely small files are
    * read and rewritten, each bin coalescing to one output file. Hive
    * partition directories compact independently and keep their layout
    * (data files in a partition dir carry no partition column; the
    * compacted file lands back in the same directory, so read-side
    * derivation is untouched).
    *
    * Commit is strictly optimistic: the new version publishes at exactly
    * seq+1 over the version that was compacted. If ANY other commit lands
    * first, the claim is discarded and `false` returns — compaction
    * changes nothing logically, so the caller just retries later; a
    * concurrent append into the old version dir is never lost to a
    * half-compacted table. */
  /** Peak number of bin-rewrite Spark jobs observed in flight during the
    * last [[compact]] call — the spec's evidence that bins rewrite
    * concurrently (a wall-clock assertion would be box-weather flaky). */
  private val compactPeak = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def lastCompactConcurrency: Int = compactPeak.get

  def compact(table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      parallelism: Int = 8): Boolean = {
    val base = resolve(table)
    val (seq0, v0) = head(table)
    val (v, claimed) = claimNext(table)
    val byDir = dataFiles(base).groupBy(_.getParent)
    // Plan first (driver-side first-fit-decreasing per directory), then
    // execute: single-file bins are hard links (metadata-only, sequential
    // is fine); multi-file bins each need a Spark read+rewrite JOB, and a
    // 100×-small-files table has thousands of them — running the driver
    // loop sequentially would serialize per-job scheduling latency into
    // the wall clock. Spark schedules jobs submitted from multiple
    // threads concurrently, so the rewrites go through a bounded pool:
    // wall time tracks the LARGEST bin plus pool-width batches, not bin
    // COUNT. Each job is one bin → at most `targetBytes` of input — tiny
    // next to executor memory, so width 8 cannot oversubscribe.
    val rewrites = Seq.newBuilder[(Seq[Path], Path)]
    val linkedRels = Seq.newBuilder[String] // keep their DV entries (below)
    byDir.foreach { case (srcDir, files) =>
      val dstDir = claimed.resolve(base.relativize(srcDir).toString)
      Files.createDirectories(dstDir)
      val binFiles =
        scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Path]]()
      val binSize = scala.collection.mutable.ArrayBuffer[Long]()
      files.map(f => f -> Files.size(f)).sortBy(-_._2).foreach {
        case (f, sz) =>
          val i = binSize.indexWhere(_ + sz <= targetBytes)
          if (i >= 0) { binFiles(i) += f; binSize(i) += sz }
          else {
            binFiles += scala.collection.mutable.ArrayBuffer(f)
            binSize += sz
          }
      }
      binFiles.foreach { bin =>
        if (bin.length == 1) {
          Files.createLink(
            dstDir.resolve(bin.head.getFileName.toString), bin.head)
          linkedRels += base.relativize(bin.head).toString
        } else rewrites += ((bin.toSeq, dstDir))
      }
    }
    val jobs = rewrites.result()
    compactPeak.set(0)
    if (jobs.nonEmpty) {
      val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(parallelism, jobs.length)))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val fs = jobs.map { case (bin, dstDir) =>
          scala.concurrent.Future {
            val depth = inFlight.incrementAndGet()
            compactPeak.accumulateAndGet(depth, (a: Int, b: Int) => math.max(a, b))
            try {
              val tmp = Files.createTempDirectory(dir(table), "_compact")
              try {
                // An evolved table's bin can mix pre- and post-ADD-COLUMN
                // files — a plain read samples one footer and would DROP
                // the evolved column from the rewritten bin. Bin columns
                // are the declared schema minus hive partition columns
                // (those live in the directory name, not the file).
                val binRead = declaredSchemaOf(table, v0) match {
                  case Some(st) =>
                    val dirSegs = base.relativize(bin.head.getParent)
                      .toString.split('/').toSet
                    val phys = StructType(st.fields.filterNot(f =>
                      dirSegs.exists(_.startsWith(f.name + "="))))
                    spark.read.schema(phys)
                  case None => spark.read
                }
                // Rewritten bins materialize row-level deletes: the same
                // anti-join every read applies, so the deleted rows never
                // reach the compacted file (their positions would be
                // meaningless in it anyway).
                withRowPos(base, binRead.parquet(bin.map(_.toString): _*))
                  .drop(DvRel, DvPos)
                  .coalesce(1)
                  .write.mode(SaveMode.Append).parquet(tmp.toString)
                Files.list(tmp).iterator().asScala.foreach { f =>
                  val n = f.getFileName.toString
                  if (!n.startsWith("_") && !n.startsWith("."))
                    Files.move(f, dstDir.resolve(n))
                }
              } finally deleteRecursive(tmp)
            } finally inFlight.decrementAndGet()
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
    // Hard-linked files keep their relPath AND their bytes, so their DV
    // entries stay valid — carry exactly those into the new version.
    if (Files.isDirectory(dvDir(base))) {
      val linked = linkedRels.result()
      if (linked.nonEmpty) {
        import spark.implicits._
        val keep = spark.read.parquet(dvDir(base).toString)
          .toDF("rel", "pos")
          .join(org.apache.spark.sql.functions.broadcast(
            linked.toDF("rel")), "rel")
        if (!keep.isEmpty)
          keep.write.mode(SaveMode.Append).parquet(dvDir(claimed).toString)
      }
    }
    if (publish(table, seq0 + 1, v)) {
      commitPointer(table, v)
      gc(table, v0)
      maintainStats(table, v0)
      maintainSchema(table, v0)
      true
    } else {
      deleteRecursive(claimed)
      false
    }
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

  /** Turn on the APPEND CHANGE FEED: from now on, every appended data
    * file is HARD-LINKED into `<table>/_feed/` — an append-only
    * directory a Structured Streaming file source consumes (the
    * Delta-streaming-source shape: "subscribe to a table's appends").
    * Enabling bootstraps the feed with the table's current content (the
    * initial snapshot), so a new consumer sees the full table then the
    * appends.
    *
    * The contract is APPEND-ONLY tables (the fact-table shape):
    * rewriting commits (overwrite/merge) are LOUD on a feed-enabled
    * table — their row changes are not expressible as appends (Delta's
    * ignoreChanges problem, refused here instead of silently
    * mis-streamed). Layout-only commits (compact/cluster) are allowed
    * and do NOT feed: consumers already saw those rows; the feed's hard
    * links keep the original bytes alive even after GC unlinks the old
    * version dirs, so a slow consumer never loses data to compaction
    * (the link count IS the retention). Hive-partitioned tables are
    * refused: their data files don't carry the partition column, so a
    * feed reader would silently lose it.
    *
    * Scale shape: feeding is O(appended files) link(2) calls per append
    * — no bytes copied, no extra write amplification; feed backlog is
    * reclaimed by [[truncateFeed]] once consumers have caught up. */
  def enableFeed(table: String): Unit = {
    require(exists(table), s"enableFeed on missing table '$table'")
    require(declaredSchema(table).isEmpty,
      s"'$table' has a declared (evolved) schema — feed readers scan raw " +
        "files and would mis-read mixed physical schemas")
    require(!Files.isDirectory(dvDir(resolve(table))),
      s"'$table' carries a deletion vector — feed consumers read raw " +
        "files and cannot observe row-level deletes")
    val base = resolve(table)
    val files = dataFiles(base)
    require(files.forall(_.getParent == base),
      s"'$table' is hive-partitioned — the feed cannot carry partition " +
        "columns (data files don't contain them)")
    Files.createDirectories(feedDir(table))
    files.foreach(linkIntoFeed(table, _))
  }

  /** Reclaim feed backlog `olderThanMs` old — run once consumers'
    * checkpoints have passed it. Deleting a feed file only drops a link;
    * live table bytes are untouched. */
  def truncateFeed(table: String, olderThanMs: Long): Unit = {
    val now = System.currentTimeMillis()
    if (feedEnabled(table)) {
      val s0 = Files.list(feedDir(table))
      try s0.iterator().asScala.foreach { p =>
        if (now - Files.getLastModifiedTime(p).toMillis >= olderThanMs)
          Files.deleteIfExists(p)
      } finally s0.close()
    }
  }

  /** Idempotent: a file already fed (same unique part-file name) is
    * skipped, so bootstrap + append races cannot double-feed. */
  private def linkIntoFeed(table: String, f: Path): Unit =
    try Files.createLink(feedDir(table).resolve(f.getFileName.toString), f)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }

  /** Feed every data file in `base` that `before` did not contain. */
  private def feedNewFiles(table: String, base: Path,
      before: Set[String]): Unit =
    if (feedEnabled(table))
      dataFiles(base).filterNot(p => before(p.getFileName.toString))
        .foreach(linkIntoFeed(table, _))

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
      cs: Seq[(String, String)]): Unit = {
    val staged = dir(table).resolve(s"_constraints.staged.${System.nanoTime}")
    Files.writeString(staged,
      cs.map { case (n, e) => s"$n\t$e" }.mkString("", "\n", "\n"))
    Files.move(staged, constraintsPath(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

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
    require(exists(table), s"ADD CONSTRAINT on missing table '$table'")
    val bad = read(table)
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

  // ------------------------------------------------- stats + data skipping

  /** The stats sidecar describing version `v` — lives beside the commit
    * log (never inside the snapshot dir, which stays byte-immutable once
    * committed) and is GC'd with its version. */
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
    declaredSchemaOf(table, currentVersion(table))

  /** Carry the declared schema across a commit — the [[maintainStats]]
    * discipline: once a table opts into evolution, every later commit's
    * head gets a sidecar too, or the next read would silently fall back
    * to one sampled footer. `written` is the schema a full REWRITE
    * physically landed (overwrite — the explicit schema-replacement
    * path); rewrites that read through [[read]] preserve the declaration
    * by construction, so the default carries it forward. Evolution
    * commits write their own sidecar first and are left alone. */
  private def maintainSchema(table: String, prevV: Int,
      written: Option[StructType] = None): Unit = {
    val cur = currentVersion(table)
    if (Files.exists(schemaPath(table, cur))) return
    declaredSchemaOf(table, prevV).foreach { prevSt =>
      Files.writeString(schemaPath(table, cur),
        written.getOrElse(prevSt).json)
    }
  }

  /** ALTER TABLE ADD COLUMN — METADATA-ONLY schema evolution. At 100 TB
    * "add a column" must not rewrite the table: the commit hard-links
    * every current data file into the new version (O(files) metadata
    * ops, zero bytes of data moved — the [[compact]] single-file-bin
    * path) and publishes the widened schema as the version's sidecar;
    * readers null-fill the column for pre-evolution files (see
    * [[readSnapshot]]). The new column is nullable by construction —
    * existing rows have no value for it.
    *
    * Resurrection guard: if some CURRENT file still physically carries
    * `column` (it was dropped earlier and never rewritten away), re-adding
    * the name would surface the old bytes as if they were new data — that
    * is refused loudly; OPTIMIZE or overwrite first. Footer-name check,
    * O(files) metadata reads, pooled. */
  def addColumn(table: String, column: String, typeDdl: String,
      txnTag: Option[String] = None): Boolean = {
    require(exists(table), s"addColumn: table '$table' does not exist")
    requireNoFeed(table, "ALTER TABLE ADD COLUMN")
    val cur = read(table).schema
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(column)),
      s"column '$column' already exists on '$table'")
    val dt = DataType.fromDDL(typeDdl)
    val base = resolve(table)
    val conf = spark.sessionState.newHadoopConf()
    val lingering = pooled(dataFiles(base), 8)(f =>
      FileStats.physicalColumns(conf, f).exists(_.equalsIgnoreCase(column)))
      .exists(identity)
    require(!lingering,
      s"addColumn($table, $column): a current data file still physically " +
        "carries that column (dropped earlier, never rewritten) — " +
        "OPTIMIZE or overwrite the table to purge it before re-adding")
    evolveTo(table, StructType(cur.fields :+
      StructField(column, dt, nullable = true)), txnTag)
  }

  /** ALTER TABLE DROP COLUMN — metadata-only, like [[addColumn]]: the new
    * version hard-links the same files and declares a schema WITHOUT the
    * column; readers project it away per-file (an explicit read schema is
    * a projection, so the bytes are never even decoded). The data stays
    * in the files until the next full rewrite — which is exactly what
    * makes the drop O(files) instead of O(table) — and the [[addColumn]]
    * resurrection guard keeps that residue from ever coming back under a
    * re-declared name. Refused while a CHECK constraint references the
    * column (future writes could no longer evaluate it). */
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
    val cur = currentSchema(table)
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
      currentSchema(source))
    commitRewrite(target, empty, None)
  }

  def dropColumn(table: String, column: String,
      txnTag: Option[String] = None): Boolean = {
    require(exists(table), s"dropColumn: table '$table' does not exist")
    requireNoFeed(table, "ALTER TABLE DROP COLUMN")
    val cur = read(table).schema
    require(cur.fieldNames.exists(_.equalsIgnoreCase(column)),
      s"dropColumn($table): no column '$column' " +
        s"(have ${cur.fieldNames.mkString(", ")})")
    require(cur.fields.length > 1,
      s"dropColumn($table): cannot drop the last column")
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
    evolveTo(table, StructType(
      cur.fields.filterNot(_.name.equalsIgnoreCase(column))), txnTag)
  }

  /** Commit a schema evolution: hard-link every current data file into a
    * claimed version directory (subdirectories — hive layouts — kept),
    * stage the `_schema.v<N>` sidecar, and publish strictly optimistically
    * at seq+1 over the evolved version (the [[compact]] discipline: a
    * layout/metadata change must never clobber a concurrent data commit).
    * Returns false on a lost race — nothing changed; rerun. */
  private def evolveTo(table: String, newSchema: StructType,
      txnTag: Option[String]): Boolean = {
    val base = resolve(table)
    val (seq0, v0) = head(table)
    val (v, claimed) = claimNext(table)
    dataFiles(base).foreach { f =>
      val dst = claimed.resolve(base.relativize(f).toString)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, f)
    }
    linkDvVerbatim(base, claimed) // relPaths unchanged → vector stays valid
    Files.writeString(schemaPath(table, v), newSchema.json)
    if (publish(table, seq0 + 1, v, checkTag(txnTag))) {
      commitPointer(table, v)
      gc(table, v0)
      maintainStats(table, v0)
      true
    } else {
      deleteRecursive(claimed)
      Files.deleteIfExists(schemaPath(table, v))
      false
    }
  }

  // --------------------------------------------------- file-level statistics

  private def statsPath(table: String, v: Int): Path =
    dir(table).resolve(s"_stats.v$v")

  /** Current version's data files (relative order stable). EVERY path
    * segment under `base` must be non-bookkeeping: a name-only check
    * would descend into `_feed/` (whose entries are plain part-files)
    * on legacy flat tables, or into a concurrent writer's `_temporary`. */
  private def dataFiles(base: Path): Seq[Path] = {
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
    if (items.isEmpty) Seq.empty
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(parallelism, items.length)))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          items.map(a => scala.concurrent.Future(f(a)))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }

  /** Keep a stats-maintained table maintained: when the version a commit
    * just replaced carried a sidecar, re-derive one for the new head —
    * the Delta discipline (stats ride every commit) without imposing the
    * footer pass on tables that never opted in via [[analyze]]. Called
    * AFTER gc, which sweeps only sidecars of versions strictly below the
    * replaced one, so the opt-in marker is still visible here. Cost is
    * O(files) footer reads per commit — noise next to the commit's own
    * write. In-place appends skip this (no commit): their new files read
    * unpruned until the next analyze/commit, which is conservative. */
  private def maintainStats(table: String, prevV: Int): Unit =
    if (prevV > 0 && Files.exists(statsPath(table, prevV))) {
      analyze(table)
      Files.deleteIfExists(statsPath(table, prevV))
    }

  /** ANALYZE: derive per-file min/max/null-count stats for the CURRENT
    * version from parquet FOOTERS — O(files) metadata reads, zero data
    * scanned — and publish them as the version-keyed sidecar
    * [[readWhere]] prunes with. Explicit like its SQL namesake: appends
    * after an analyze leave their new files uncovered, and uncovered
    * files are always kept, so a stale sidecar costs speed, never
    * correctness. Once [[analyzeBloom]] opted columns in, every analyze
    * also maintains their per-file Bloom filters: carried forward by
    * relPath for files whose bytes survived the commit (links, appends),
    * rebuilt in one grouped job for the rest. Returns the number of
    * files covered. */
  def analyze(table: String, parallelism: Int = 8): Int =
    publishStats(table, Nil, parallelism)._1

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
    val schema = read(table).schema
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
    publishStats(table,
      columns.map(FileStats.BloomSpec(_, expectedItemsPerFile, fpp)),
      parallelism)._2
  }

  /** Shared sidecar publisher: footer stats for every current file, prior
    * blooms donated by relPath (immutable bytes — hard-linked and
    * untouched files keep their filters for free), missing ones rebuilt
    * per the union of recorded + newly added specs, then one atomic
    * sidecar write. Returns (files covered, files fully bloom-covered). */
  private def publishStats(table: String,
      addSpecs: Seq[FileStats.BloomSpec], parallelism: Int): (Int, Int) = {
    val v = currentVersion(table)
    val base = resolve(table)
    val conf = spark.sessionState.newHadoopConf()
    val stats = pooled(dataFiles(base), parallelism)(
      FileStats.ofFile(conf, base, _))
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
      else attachBlooms(table, v, base, carried, specs)
    FileStats.write(statsPath(table, v), done, specs)
    (done.length,
      done.count(fs => specs.forall(s => fs.blooms.contains(s.column))))
  }

  private def newestSidecar(table: String): Option[Path] =
    listDir(table)
      .filter(_.getFileName.toString.matches("_stats\\.v\\d+"))
      .sortBy(_.getFileName.toString.stripPrefix("_stats.v").toInt)
      .lastOption

  /** Build missing per-file blooms in ONE job: group the files' rows by
    * `input_file_name()` and aggregate every configured column's filter
    * at once ([[graft.functions.BloomOps.bloom_build_agg]]). An empty
    * file yields no group → no filter → kept conservatively. */
  private def attachBlooms(table: String, v: Int, base: Path,
      stats: Seq[FileStats.FileStat],
      specs: Seq[FileStats.BloomSpec]): Seq[FileStats.FileStat] = {
    import org.apache.spark.sql.functions.{input_file_name, xxhash64}
    val missing = stats.filter(fs =>
      specs.exists(s => !fs.blooms.contains(s.column)))
    if (missing.isEmpty) return stats
    val rd = declaredSchemaOf(table, v) match {
      case Some(st) => spark.read.schema(st)
      case None => spark.read
    }
    val df = rd.option("basePath", base.toString)
      .parquet(missing.map(fs => base.resolve(fs.relPath).toString): _*)
    val aggs = specs.map(s => graft.functions.BloomOps.bloom_build_agg(
      xxhash64(col(s.column).cast("string")), s.items, s.fpp)
      .as(s"__b_${s.column}"))
    val built = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val rel = base.relativize(
          Paths.get(new java.net.URI(r.getString(0)).getPath)).toString
        rel -> specs.zipWithIndex.flatMap { case (s, i) =>
          Option(r.get(i + 1))
            .map(b => s.column -> b.asInstanceOf[Array[Byte]])
        }.toMap
      }.toMap
    stats.map(fs => built.get(fs.relPath) match {
      case Some(bs) => fs.copy(blooms = fs.blooms ++ bs)
      case None => fs
    })
  }

  /** (files kept, files total) under `preds` for the current version —
    * the spec- and plan-level evidence that skipping engages. */
  def pruneInfo(table: String, preds: Seq[FileStats.Pred]): (Int, Int) = {
    val base = resolve(table)
    val all = dataFiles(base)
    val stats = FileStats.load(statsPath(table, currentVersion(table)))
    val kept = all.count { p =>
      stats.get(base.relativize(p).toString)
        .forall(fs => preds.forall(FileStats.mightMatch(fs, _)))
    }
    (kept, all.length)
  }

  /** Data-skipping read: `read(table).filter(preds)` with file-level
    * pruning — only files whose footer ranges can match the conjunction
    * are opened; the full predicate is ALWAYS re-applied as a residual
    * filter, so results are identical to the unpruned scan by
    * construction. Files without sidecar coverage (post-analyze appends,
    * unsupported column types) are kept conservatively. At 100 TB this —
    * with [[cluster]] laying files out disjointly — is what turns a
    * selective query from a table scan into a handful of file reads. */
  def readWhere(table: String, preds: Seq[FileStats.Pred]): DataFrame = {
    val residual = preds.map(FileStats.toColumn)
      .reduceOption(_ && _).getOrElse(org.apache.spark.sql.functions.lit(true))
    val base = resolve(table)
    val stats = FileStats.load(statsPath(table, currentVersion(table)))
    if (stats.isEmpty) return read(table).filter(residual)
    val kept = dataFiles(base).filter { p =>
      stats.get(base.relativize(p).toString)
        .forall(fs => preds.forall(FileStats.mightMatch(fs, _)))
    }
    if (kept.isEmpty)
      read(table).filter(org.apache.spark.sql.functions.lit(false))
    else {
      // basePath keeps hive partition-column derivation intact when the
      // surviving files sit under key=value directories. The declared
      // schema (when the table has evolved) rides along so pruned reads
      // see the same columns as read(table).
      val rd = declaredSchema(table) match {
        case Some(st) => spark.read.schema(st)
        case None => spark.read
      }
      val scan = rd.option("basePath", base.toString)
        .parquet(kept.map(_.toString): _*)
      val live = // pruned reads subtract the deletion vector too
        if (Files.isDirectory(dvDir(base)))
          withRowPos(base, scan).drop(DvRel, DvPos)
        else scan
      live.filter(residual)
    }
  }

  /** Metadata-only COUNT(*): sum of footer row counts over the current
    * version's files — O(files), no Spark job, no data read. The
    * versioned layout makes this sound: a snapshot's files are immutable,
    * so footer counts ARE the row count. */
  def countRows(table: String, parallelism: Int = 8): Long = {
    val base = resolve(table)
    val conf = spark.sessionState.newHadoopConf()
    pooled(dataFiles(base), parallelism)(
      FileStats.rowCount(conf, _)).sum - dvRowCount(base)
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
    val base = resolve(table)
    // A deletion vector may have deleted the extreme row itself — footer
    // stats still include it, so a metadata answer would be wrong, not
    // just stale. Fall back to a scan (None).
    if (Files.isDirectory(dvDir(base))) return None
    val sidecar = FileStats.load(statsPath(table, currentVersion(table)))
    val conf = spark.sessionState.newHadoopConf()
    val files = dataFiles(base)
    if (files.isEmpty) return None
    // A ZERO-ROW file (Spark writes one for an empty partition) carries no
    // chunk stats for any column, but it also provably contributes nothing
    // to MIN/MAX — skip it instead of letting it poison the
    // complete-or-None contract.
    val per = pooled(files, parallelism) { p =>
      sidecar.getOrElse(base.relativize(p).toString,
        FileStats.ofFile(conf, base, p))
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
      txnTag: Option[String] = None): Boolean = {
    val base = resolve(table)
    val (seq0, v0) = head(table)
    val (v, claimed) = claimNext(table)
    readSnapshot(table, v0, base)
      .repartitionByRange(partitions, col(column))
      .sortWithinPartitions(col(column))
      .write.mode(SaveMode.Append).parquet(claimed.toString)
    if (publish(table, seq0 + 1, v, checkTag(txnTag))) {
      commitPointer(table, v)
      gc(table, v0)
      maintainSchema(table, v0)
      analyze(table)
      true
    } else { deleteRecursive(claimed); false }
  }

  /** ZORDER (OPTIMIZE … ZORDER BY): transactional rewrite of the table
    * along a Morton curve over SEVERAL columns, so [[readWhere]] prunes
    * files on a predicate over ANY of them — the multi-dimensional
    * counterpart of [[cluster]], whose single-column range layout makes
    * every other column's file ranges near-useless. Each column maps to a
    * 4-bit bucket via its own approx-quantile boundaries (equi-DEPTH, so
    * skewed distributions still spread across buckets; NULLs land in
    * bucket 0), the bucket bits interleave into the Z-address, and the
    * table range-partitions + sorts on it: files cover small hyper-
    * rectangles of the key space, i.e. TIGHT footer min/max on every
    * participating column at once.
    *
    * Cost: one approxQuantile pass per column (sampled, driver gets ~15
    * doubles) + one full rewrite — the same budget as [[cluster]]; the
    * Z-address itself is pure codegen'd arithmetic (no UDF, no shuffle
    * beyond the range partitioning). Numeric, date, and timestamp
    * columns only; strings have no quantile→locality mapping here and
    * are refused loudly (hash-bucketing a string column would shred the
    * very min/max locality the layout exists to create). Commit is
    * strictly optimistic at seq+1, content-identical by construction;
    * [[analyze]] runs on success — like [[cluster]], the layout exists
    * FOR the stats. */
  def clusterZ(table: String, columns: Seq[String], partitions: Int,
      txnTag: Option[String] = None): Boolean = {
    require(columns.length >= 2,
      s"ZORDER needs at least 2 columns (single-column layout is cluster)")
    import org.apache.spark.sql.functions.{datediff, lit, shiftleft,
      shiftright, when}
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampNTZType,
      TimestampType}
    val base = resolve(table)
    val (seq0, v0) = head(table)
    val df = readSnapshot(table, v0, base)
    val keyed = columns.foldLeft(df) { (d, c) =>
      val key = d.schema(d.schema.fieldIndex(c)).dataType match {
        case _: NumericType => col(c).cast("double")
        case DateType => datediff(col(c),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("double")
        case TimestampType | TimestampNTZType =>
          col(c).cast("long").cast("double")
        case dt => throw new IllegalArgumentException(
          s"clusterZ($table): column '$c' has type ${dt.sql} — ZORDER " +
            "supports numeric/date/timestamp (strings have no " +
            "quantile-to-range locality)")
      }
      d.withColumn(s"__zk_$c", key)
    }
    // No persist: the quantile pass and the rewrite each scan the PINNED
    // snapshot v0 (immutable), so the two passes see identical data. A
    // full-width persist materializes every column into the storage pool
    // just to serve a 2-column quantile aggregation (measured: the fill
    // WAS the quantile phase's cost at sf0.1), and at scale a table
    // cannot be cached to serve its own rewrite. Unpersisted, Catalyst
    // prunes the quantile scan to the key columns and the rewrite
    // streams the full rows exactly once.
    locally {
      val bits = 4
      val probs = (1 to (1 << bits) - 1)
        .map(_.toDouble / (1 << bits)).toArray
      // one sampling pass covers every column's boundaries. 0.01 relative
      // error is an order of magnitude tighter than the 1/16 bucket width
      // it feeds; the round-15 0.001 setting made this pass the second
      // largest cost of the whole rewrite (measured 0.90 s vs 0.29 s at
      // sf0.1) for boundaries the 4-bit bucketing cannot distinguish.
      val bounds = keyed.stat.approxQuantile(
        columns.map(c => s"__zk_$c").toArray, probs, 0.01).toSeq
      val buckets = columns.zip(bounds).map { case (c, bs) =>
        val k = col(s"__zk_$c")
        // count of boundaries ≤ v — a 15-term when-sum. NOT an
        // aggregate() fold over a literal array: ArrayAggregate is a
        // HigherOrderFunction with no codegen, and the Z-address below
        // inlines each bucket expression `bits` times, so the fold was
        // interpreted 8×/row (measured: the rewrite stage spent 2.1 s at
        // sf0.1, 1.0 s of it in NamedLambdaVariable eval; the when-sum
        // form codegens and dedupes via subexpression elimination).
        when(k.isNull, lit(0)).otherwise(
          bs.map(b => when(k >= b, lit(1)).otherwise(lit(0)))
            .reduce(_ + _))
      }
      val n = columns.length
      val z = (for {
        i <- 0 until bits
        (b, j) <- buckets.zipWithIndex
      } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1)),
        i * n + (n - 1 - j))).reduce(_ + _) // disjoint bits: + is OR
      val (v, claimed) = claimNext(table)
      keyed.withColumn("__z", z)
        .repartitionByRange(partitions, col("__z"))
        .sortWithinPartitions(col("__z"))
        .select(df.columns.map(col).toIndexedSeq: _*)
        .write.mode(SaveMode.Append).parquet(claimed.toString)
      if (publish(table, seq0 + 1, v, checkTag(txnTag))) {
        commitPointer(table, v)
        gc(table, v0)
        maintainSchema(table, v0)
        analyze(table)
        true
      } else { deleteRecursive(claimed); false }
    }
  }

  def drop(table: String): Unit = { // K5
    // DROP TABLE refuses view names outright: a logical view is not a
    // table, and deleteRecursive on its dir would silently erase the
    // stored definition — the namespace is mutually exclusive, and the
    // verbs route loudly (DROP VIEW is one word away).
    require(!isView(table),
      s"cannot DROP TABLE '$table': it is a logical view — use DROP VIEW")
    // A base with dependent MVs cannot silently vanish: every later
    // readMaterialized would throw deep in resolve, far from this DROP.
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
    forgetSchemas(table) // the name can be recreated at version 1
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
      currentSchema(table))
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
    require(exists(table), s"RENAME $table: table does not exist")
    requireNotMv(table, "RENAME")
    requireWritable(table) // snapshots refuse namespace writes too
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
    forgetSchemas(table) // old name freed for re-creation
    forgetSchemas(to) // versions now resolve to the MOVED table's files
  }

  /** Sweep orphaned claim directories left by CRASHED writers — claimed
    * (the `vN` dir exists) but never published (no commit marker names
    * them and they are not the head). A fresh unreferenced claim may
    * belong to an in-flight writer that will still legitimately publish
    * (commitClaimed re-seqs under contention), so the sweep is
    * age-gated: only claims whose newest file is older than
    * `olderThanMs` go (the lease discipline — a writer that has not
    * touched its claim for the TTL is dead, not slow). Orphans BELOW the
    * head also age out through [[gc]] on later commits; vacuum covers
    * the above-head case and idle tables. Returns the swept versions. */
  def vacuum(table: String, olderThanMs: Long = 3600000L): Seq[Int] = {
    val referenced = markers(table).map(_._2).toSet + currentVersion(table)
    val now = System.currentTimeMillis()
    listDir(table).flatMap { p =>
      val n = p.getFileName.toString
      if (!n.matches("v\\d+") || referenced(n.drop(1).toInt)) None
      else {
        val entries = {
          val s = Files.list(p)
          try s.iterator().asScala.toList finally s.close()
        }
        val lastTouched = (p +: entries)
          .map(f => Files.getLastModifiedTime(f).toMillis).max
        if (now - lastTouched >= olderThanMs) {
          deleteRecursive(p)
          Some(n.drop(1).toInt)
        } else None
      }
    }.sorted
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
}
