package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.psn.{FileStats, TableStore}

/** Storage-layout operators: file-level data skipping and metadata-only
  * queries over the versioned store — the layer that keeps SELECTIVE
  * queries cheap on a 100 TB table (the reference's nightly delta job,
  * /root/reference/main.py:254-284, reads "what changed" from a table
  * that only grows; without layout-aware pruning that read becomes a
  * full scan at warehouse scale).
  *
  * The division of labor:
  *   - [[TableStore.cluster]] lays the table out range-disjoint on a key,
  *   - [[TableStore.analyze]] publishes footer-derived per-file ranges,
  *   - [[TableStore.readWhere]] opens only files whose range can match,
  *     then re-applies the full predicate (pruning is invisible to
  *     results by construction — the gates here prove it with the hash).
  */
object Storage {
  import graft.ops.Out._

  /** q69: data-skipping scan — stage lineitem into the store, CLUSTER on
    * `l_orderkey` (range-disjoint files) + ANALYZE (footer stats), then
    * answer a selective range query through [[TableStore.readWhere]].
    * The in-query require makes the LAYOUT claim part of the gate: the
    * pruned scan must open strictly fewer files than the table has (and
    * at least one), or the query fails loudly instead of gating a scan
    * that silently stopped skipping. The oracle recomputes the same
    * range aggregate over the raw table — hash equality proves pruning
    * changed cost, never content.
    *
    * The bound is the bottom eighth of the key domain, derived the same
    * way on both sides (floor(max/8)), so the gate stays static across
    * scale factors while the predicate keeps real selectivity.
    *
    * Scale shape: the expensive arm (the range scan) reads ~1/8 of the
    * files; the bound derivation is one column-pruned max() over the
    * staged table. At 100 TB the pattern is cluster-once, analyze-per-
    * commit, prune-every-query. */
  def q69DataSkipping(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_skip_wh").toString
    val store = new TableStore(s, wh)
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    store.overwrite("lineitem_c", li)
    require(store.cluster("lineitem_c", "l_orderkey", 8),
      "cluster lost its CAS race on a fresh private store")
    val bound = store.read("lineitem_c")
      .agg(max(col("l_orderkey"))).first.getLong(0) / 8
    val pred = Seq(FileStats.le("l_orderkey", FileStats.LLong(bound)))
    val (kept, total) = store.pruneInfo("lineitem_c", pred)
    require(kept >= 1 && kept < total,
      s"data skipping inert: kept $kept of $total clustered files for " +
        s"l_orderkey <= $bound")
    store.readWhere("lineitem_c", pred)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        // decimal-exact sums: double addition is order-dependent and the
        // pruned scan's row order differs from the oracle's
        sum(col("l_quantity").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
          .cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
          .cast("double").as("sum_price"))
      .sortedSmall("l_returnflag")
  }

  val q69Oracle: String =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem
      |WHERE l_orderkey <=
      |  (SELECT CAST(FLOOR(MAX(l_orderkey) / 8) AS BIGINT) FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q70: metadata-only COUNT(*) — row counts answered from parquet
    * FOOTERS of the committed snapshot ([[TableStore.countRows]]): zero
    * data read, zero Spark jobs, O(files) driver-side metadata I/O. Each
    * table is staged as overwrite + append so the count provably sums
    * across files AND across versions: the append's commit names the
    * overwrite's files in its manifest and its own under its directory
    * (the case a count over one version directory gets wrong). The
    * oracle is DuckDB's COUNT(*) over the raw tables.
    *
    * Scale shape: this is how a 100 TB engine answers SELECT COUNT(*) —
    * BigQuery from table metadata, Spark's own parquet reader via
    * aggregate pushdown; a count that costs a scan is an outage at that
    * size. */
  def q70MetadataCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_meta_wh").toString
    val store = new TableStore(s, wh)
    def stage(name: String, key: String): Long = {
      val t = s.read.parquet(s"$dir/$name.parquet")
      store.overwrite(name, t.filter(col(key) % 2 === 0))
      store.append(name, t.filter(col(key) % 2 =!= 0))
      store.countRows(name)
    }
    // three INDEPENDENT tables: build them concurrently (guide §2.6) —
    // serial staging left most of local[32] idle through three
    // write-commit tails; wall-clock is now the largest stage, not the sum
    val names = Seq(("customer", "c_custkey"), ("lineitem", "l_orderkey"),
      ("orders", "o_orderkey"))
    val counts = names.map(_._1).zip(graft.ops.Par.concurrently(3)(
      names.map { case (n, k) => () => stage(n, k) }))
    counts.toDF("table_name", "n_rows").sortedSmall("table_name")
  }

  val q70Oracle: String =
    """SELECT 'customer' AS table_name, COUNT(*) AS n_rows FROM customer
      |UNION ALL
      |SELECT 'lineitem', COUNT(*) FROM lineitem
      |UNION ALL
      |SELECT 'orders', COUNT(*) FROM orders
      |ORDER BY table_name""".stripMargin

  /** q71: metadata-only MIN/MAX — column extrema answered from footer
    * stats ([[TableStore.minMax]]): the ANALYZE opts the table in, so
    * the append's commit re-derives the sidecar over a file the analyze
    * never saw (the in-query require proves that file exists; the
    * live-footer arm is StatsSkippingSpec's). All three collected
    * kind families gate here: long key, double price, string flag. The
    * oracle is DuckDB's scan-side MIN/MAX over the raw table.
    *
    * Scale shape: O(files) footer reads vs a full column scan — on a
    * 100 TB table this is the difference between a metadata lookup and
    * a cluster-wide job (completeness is enforced: one statless file
    * and minMax returns None rather than a silently-partial answer). */
  def q71MetadataMinmax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_mm_wh").toString
    val store = new TableStore(s, wh)
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_returnflag"))
    store.overwrite("lineitem_m", li.filter(col("l_orderkey") % 3 =!= 0))
    val covered = store.analyze("lineitem_m")
    store.append("lineitem_m",
      li.filter(col("l_orderkey") % 3 === 0)) // the first analyze never saw this file
    require(store.fileCount("lineitem_m") > covered,
      "post-analyze append landed no new file — minMax would gate over " +
        "one version's files only")
    def mm(c: String) = store.minMax("lineitem_m", c).getOrElse(
      throw new IllegalStateException(s"no complete footer stats for $c"))
    val (_, kMin, kMax) = mm("l_orderkey")
    val (_, pMin, pMax) = mm("l_extendedprice")
    val (_, fMin, fMax) = mm("l_returnflag")
    Seq((kMin.toLong, kMax.toLong, pMin.toDouble, pMax.toDouble, fMin, fMax))
      .toDF("min_key", "max_key", "min_price", "max_price",
        "min_flag", "max_flag")
  }

  val q71Oracle: String =
    """SELECT MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
      |  MIN(l_extendedprice) AS min_price,
      |  MAX(l_extendedprice) AS max_price,
      |  MIN(l_returnflag) AS min_flag, MAX(l_returnflag) AS max_flag
      |FROM lineitem""".stripMargin

  /** q72: the lakehouse maintenance verbs as ONE SQL script — CTAS stages
    * the table, `OPTIMIZE … CLUSTER BY` lays it out range-disjoint,
    * `ANALYZE TABLE` refreshes stats ([[graft.ops.Sql.runScript]]
    * dispatch), and the gate then answers a selective range query
    * through the pruned read, require-ing that skipping engaged. Same
    * floor(max/8) bound discipline as q69 so the gate is static across
    * scale factors. This is the full production loop a 100 TB table
    * lives on — ingest, optimize, analyze, prune — expressed in the
    * statement surface a warehouse user would actually write. */
  def q72ScriptOptimize(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_opt2_wh").toString
    val store = new TableStore(s, wh)
    Sql.runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.lineitem_s` AS
        |  SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem;
        |-- range-disjoint layout, then footer stats for the pruned read
        |OPTIMIZE `graft-project.store.lineitem_s`
        |  CLUSTER BY (l_orderkey) INTO 8 FILES;
        |ANALYZE TABLE `graft-project.store.lineitem_s`;""".stripMargin)
    val bound = store.read("lineitem_s")
      .agg(max(col("l_orderkey"))).first.getLong(0) / 8
    val pred = Seq(FileStats.le("l_orderkey", FileStats.LLong(bound)))
    val (kept, total) = store.pruneInfo("lineitem_s", pred)
    require(kept >= 1 && kept < total,
      s"scripted OPTIMIZE/ANALYZE left skipping inert: kept $kept/$total")
    store.readWhere("lineitem_s", pred)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .sortedSmall("l_returnflag")
  }

  val q72Oracle: String =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
      |FROM lineitem
      |WHERE l_orderkey <=
      |  (SELECT CAST(FLOOR(MAX(l_orderkey) / 8) AS BIGINT) FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q73: CHECK constraints end-to-end — declare two row invariants via
    * the ALTER TABLE script verb (positive price, status in domain),
    * then run a VALID insert through the store (enforcement is an
    * `assert_true` filter fused into the write's own plan — zero extra
    * scan, [[TableStore]] `enforced`) and prove a VIOLATING write
    * aborts: the in-query require catches the failed job and checks the
    * table still reads back exactly the pre-violation content — the
    * commit protocol turned a mid-write constraint failure into a clean
    * no-op instead of a half-written table (an unpublished claim no
    * reader sees, swept by GC or VACUUM). The oracle recomputes the
    * two valid writes' content declaratively.
    *
    * Scale shape: ADD CONSTRAINT pays one validation scan (like its
    * warehouse namesakes); every later write pays one codegen'd conjunct
    * per row it writes — never a second pass over the table. */
  def q73Constraints(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_ck_wh").toString
    val store = new TableStore(s, wh)
    Sql.runScript(s, store, dir,
      """CREATE TABLE orders_k AS
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders;
        |ALTER TABLE `graft-project.store.orders_k`
        |  ADD CONSTRAINT price_pos CHECK (o_totalprice > 0);
        |ALTER TABLE orders_k
        |  ADD CONSTRAINT status_dom CHECK (o_orderstatus IN ('O','F','P'));
        |INSERT INTO orders_k (o_orderkey, o_totalprice, o_orderstatus)
        |  SELECT o_orderkey + 100000000, o_totalprice * 2, o_orderstatus
        |  FROM orders;""".stripMargin)
    val violating = store.read("orders_k").limit(5)
      .withColumn("o_totalprice", -col("o_totalprice"))
    val failed =
      try { store.append("orders_k", violating); false }
      catch { case _: Throwable => true }
    require(failed, "violating append committed despite CHECK (price_pos)")
    store.read("orders_k")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
          .cast("double").as("total"))
      .sortedSmall("o_orderstatus")
  }

  val q73Oracle: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS total
      |FROM (
      |  SELECT o_orderstatus, o_totalprice AS price FROM orders
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice * 2 FROM orders)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q74: metadata-only ADD COLUMN end-to-end — CTAS seeds a two-column
    * table, the ALTER TABLE script verb widens it WITHOUT rewriting a
    * byte ([[TableStore.addColumn]] inherits the files by name and
    * publishes a declared-schema sidecar), and a post-evolution INSERT
    * writes the full three-column shape into the new version's directory. The
    * read-back therefore crosses files with two different physical
    * schemas, and the oracle's UNION (old rows with a NULL channel, new
    * rows with 'replay') hash-gates exactly the null-backfill semantics
    * the declared schema promises.
    *
    * Scale shape: the ALTER costs one manifest naming the files + one
    * tiny sidecar — at 100 TB that is the difference between a DDL statement
    * and a day-long table rewrite. The in-query require pins the claim
    * that no data file was rewritten by the evolution commit itself. */
  def q74AddColumn(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_evo_wh").toString
    val store = new TableStore(s, wh)
    Sql.runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.order_evo` AS
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0;""".stripMargin)
    val filesBefore = store.fileCount("order_evo")
    Sql.runScript(s, store, dir,
      """ALTER TABLE `graft-project.store.order_evo`
        |  ADD COLUMN channel STRING;""".stripMargin)
    require(store.fileCount("order_evo") == filesBefore,
      "ADD COLUMN rewrote data files — evolution must be metadata-only")
    Sql.runScript(s, store, dir,
      """INSERT INTO `graft-project.store.order_evo`
        |  (o_orderkey, o_totalprice, channel)
        |SELECT o_orderkey, o_totalprice * 0.5, CAST('replay' AS STRING)
        |FROM orders WHERE o_orderkey % 3 = 1;""".stripMargin)
    store.read("order_evo")
      .select(col("o_orderkey"), col("o_totalprice").as("price"),
        col("channel"))
      .sortedWide("o_orderkey")
  }

  val q74Oracle: String =
    """SELECT o_orderkey, o_totalprice AS price,
      |  CAST(NULL AS VARCHAR) AS channel
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_totalprice * 0.5, 'replay'
      |FROM orders WHERE o_orderkey % 3 = 1
      |ORDER BY o_orderkey""".stripMargin

  /** q75: metadata-only DROP COLUMN — the declared schema narrows, the
    * files keep their bytes (readers project the column away per-file,
    * so it is never even decoded), and a post-drop INSERT proves the
    * statement surface now speaks the narrowed schema. The oracle
    * recomputes the same report over the raw table + the appended rows —
    * hash equality proves the dropped column influences nothing.
    *
    * Scale shape: same inheriting commit as q74; the residue purges
    * on the next natural rewrite (OPTIMIZE/merge), not on the DDL. */
  def q75DropColumn(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_evo2_wh").toString
    val store = new TableStore(s, wh)
    Sql.runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.order_slim` AS
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders;
        |ALTER TABLE `graft-project.store.order_slim`
        |  DROP COLUMN o_totalprice;
        |INSERT INTO `graft-project.store.order_slim`
        |  (o_orderkey, o_orderstatus)
        |SELECT o_orderkey + 100000000, o_orderstatus
        |FROM orders WHERE o_orderstatus = 'F';""".stripMargin)
    val cols = store.read("order_slim").columns
    require(cols.sameElements(Array("o_orderkey", "o_orderstatus")),
      s"DROP COLUMN left schema [${cols.mkString(", ")}]")
    store.read("order_slim")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .sortedSmall("o_orderstatus")
  }

  val q75Oracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM (
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderstatus FROM orders
      |  WHERE o_orderstatus = 'F')
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q76: multi-dimensional data skipping via ZORDER — the table is laid
    * out along a Morton curve over (l_orderkey, l_partkey), and the
    * in-query requires pin the property single-column clustering cannot
    * deliver: file-level pruning engages on a predicate over EITHER
    * column. The gated answer is a selective two-dimensional range
    * aggregate through [[TableStore.readWhere]]; the oracle recomputes it
    * over the raw table — pruning changed cost, never content.
    *
    * Scale shape: at 100 TB the difference between cluster and zorder is
    * whether the SECOND most-selective predicate in the workload gets
    * file skipping or a full scan; the rewrite itself costs the same one
    * pass as cluster (+ one sampled quantile job). */
  def q76Zorder(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_z_wh").toString
    val store = new TableStore(s, wh)
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    store.overwrite("lineitem_z", li)
    Sql.runScript(s, store, dir,
      """OPTIMIZE `graft-project.store.lineitem_z`
        |  ZORDER BY (l_orderkey, l_partkey) INTO 16 FILES;""".stripMargin)
    val bounds = store.read("lineitem_z")
      .agg(max(col("l_orderkey")), max(col("l_partkey"))).first
    val (kBound, pBound) = (bounds.getLong(0) / 4, bounds.getLong(1) / 4)
    val kPred = Seq(FileStats.le("l_orderkey", FileStats.LLong(kBound)))
    val pPred = Seq(FileStats.le("l_partkey", FileStats.LLong(pBound)))
    val (kKept, total) = store.pruneInfo("lineitem_z", kPred)
    val (pKept, _) = store.pruneInfo("lineitem_z", pPred)
    require(kKept >= 1 && kKept < total && pKept >= 1 && pKept < total,
      s"zorder skipping inert: kept $kKept and $pKept of $total files " +
        "for the two single-column range predicates")
    store.readWhere("lineitem_z", kPred ++ pPred)
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
          .cast("double").as("sum_qty"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_partkey")).as("max_pkey"))
  }

  val q76Oracle: String =
    """SELECT COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
      |  MIN(l_orderkey) AS min_okey, MAX(l_partkey) AS max_pkey
      |FROM lineitem
      |WHERE l_orderkey <=
      |  (SELECT CAST(FLOOR(MAX(l_orderkey) / 4) AS BIGINT) FROM lineitem)
      |AND l_partkey <=
      |  (SELECT CAST(FLOOR(MAX(l_partkey) / 4) AS BIGINT) FROM lineitem)""".stripMargin

  /** q77: Bloom-filter file skipping for POINT LOOKUPS — the case range
    * stats provably cannot prune: the table is hash-distributed on
    * `doc_id`, so every file's [min,max] spans the whole key domain and
    * an equality predicate keeps all files on range stats alone (the
    * first in-query require PINS that). After `ANALYZE TABLE … BLOOM
    * (doc_id)` the same predicate opens only the file(s) whose filter
    * might contain the key (second require). The gated answer is the
    * looked-up row itself; the oracle replays the lookup over the raw
    * table.
    *
    * Scale shape: "fetch document X" against a 100 TB corpus — with
    * blooms it is O(files) driver-side bit probes + ~1 file read; with
    * range stats it is a full scan in hash layouts. The filter build is
    * ONE grouped job over the files missing filters, never a job per
    * file, and filters ride the stats sidecar across commits. */
  def q77BloomLookup(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_bloom_wh").toString
    val store = new TableStore(s, wh)
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    store.overwrite("docs_b", docs.repartition(8, col("doc_id")))
    Sql.runScript(s, store, dir,
      "ANALYZE TABLE `graft-project.store.docs_b`;")
    val target = docs.agg(max(col("doc_id"))).first.getLong(0) / 2
    val pred = Seq(FileStats.eqTo("doc_id", FileStats.LLong(target)))
    val (rangeKept, total) = store.pruneInfo("docs_b", pred)
    require(total >= 4 && rangeKept == total,
      s"hash layout should defeat range stats: kept $rangeKept of $total")
    Sql.runScript(s, store, dir,
      "ANALYZE TABLE `graft-project.store.docs_b` BLOOM (doc_id);")
    val (bloomKept, _) = store.pruneInfo("docs_b", pred)
    require(bloomKept >= 1 && bloomKept < total,
      s"bloom skipping inert: kept $bloomKept of $total for doc_id = $target")
    store.readWhere("docs_b", pred)
      .sortedSmall("doc_id")
  }

  val q77Oracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id =
      |  (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** q78: row-level DELETE via DELETION VECTORS — the statement rewrites
    * NOTHING: the commit inherits every data file by name (the in-query
    * require pins identical file counts) and publishes a vector of row
    * positions, one Roaring bitmap per data file, written on the driver.
    * Every read subtracts it with one predicate over each row's file
    * path and row index — no join. Two successive DELETEs prove vector
    * MERGING; the metadata-only COUNT is checked against the live read
    * inside the query (footer rows minus bitmap cardinalities); the
    * oracle recomputes the survivor aggregate declaratively.
    *
    * Scale shape: DELETE on 100 TB costs one scan (one Spark job, to
    * collect positions) + O(1) file operations + O(deleted) vector bytes
    * — not a table rewrite; the deletes materialize for free on the next
    * natural rewrite (OPTIMIZE / merge), which also purges the vector. */
  def q78DvDelete(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dv_wh").toString
    val store = new TableStore(s, wh)
    Sql.runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.order_state` AS
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders;""".stripMargin)
    val filesBefore = store.fileCount("order_state")
    Sql.runScript(s, store, dir,
      """DELETE FROM `graft-project.store.order_state`
        |  WHERE o_orderstatus = 'F';
        |DELETE FROM `graft-project.store.order_state`
        |  WHERE o_orderkey % 10 = 0;""".stripMargin)
    require(store.fileCount("order_state") == filesBefore,
      "DV delete rewrote data files — it must inherit them by name")
    val live = store.read("order_state")
    require(store.countRows("order_state") == live.count(),
      "metadata COUNT must subtract the deletion vector")
    live.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
          .cast("double").as("total"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .sortedSmall("o_orderstatus")
  }

  val q78Oracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total,
      |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_orderstatus <> 'F' AND o_orderkey % 10 <> 0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q79: MULTI-key point lookup — IN-list pruning through the per-file
    * Bloom filters: a file survives iff ANY listed key might be in it
    * (range and bloom per key, the one disjunction skipping can evaluate
    * file-locally). Same hash layout as q77, so range stats provably keep
    * everything and the blooms do the pruning; the in-query require pins
    * that the three-key lookup still opens strictly fewer files than the
    * table has. The oracle replays the IN over the raw table.
    *
    * Scale shape: a training-data pipeline's "fetch this batch of
    * documents by id" against a 100 TB corpus — K bit-probes per file
    * driver-side, then only the files that might hold any of the K. */
  def q79MultiLookup(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_in_wh").toString
    val store = new TableStore(s, wh)
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    store.overwrite("docs_m", docs.repartition(8, col("doc_id")))
    store.analyzeBloom("docs_m", Seq("doc_id"),
      expectedItemsPerFile = 65536L, fpp = 0.01)
    val m = docs.agg(max(col("doc_id"))).first.getLong(0)
    val keys = Seq(m / 4, m / 2, 3 * (m / 4)) // 3*FLOOR(m/4), oracle-exact
    val pred = Seq(FileStats.in("doc_id", keys.map(FileStats.LLong(_))))
    val (kept, total) = store.pruneInfo("docs_m", pred)
    require(kept >= 1 && kept < total,
      s"IN-list bloom skipping inert: kept $kept of $total files")
    store.readWhere("docs_m", pred)
      .sortedSmall("doc_id")
  }

  val q79Oracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (
      |  SELECT CAST(FLOOR(MAX(doc_id) / 4) AS BIGINT) FROM documents
      |  UNION ALL
      |  SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) FROM documents
      |  UNION ALL
      |  SELECT CAST(3 * FLOOR(MAX(doc_id) / 4) AS BIGINT) FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** q80: the round's DDL features COMPOSE under time travel — one
    * lineage runs overwrite → deletion-vector DELETE → metadata-only ADD
    * COLUMN, then a single SQL statement joins two SYSTEM_TIME pins: the
    * post-delete snapshot (its own vector, pre-evolution schema) against
    * the post-evolution head (vector carried verbatim by the link
    * commit, new column null-filled). Hash-matching the oracle proves
    * every pairwise contract at once: the DV survives the evolution
    * commit, each snapshot keeps ITS schema, and both pins resolve to
    * the right commit stamps. In-query requires pin the schema shapes.
    *
    * Scale shape: three commits, zero data rewritten after the initial
    * stage (links + vector + sidecar); the audit query scans two pinned
    * directories like any other parquet. */
  def q80TravelAcrossDdl(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sql
    val wh = java.nio.file.Files
      .createTempDirectory("graft_ddl_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("ord_t", s.read.parquet(s"$dir/orders.parquet") // v1
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    store.deleteRows("ord_t", col("o_orderstatus") === "F") // v2: DV
    Thread.sleep(30)
    val tDel = System.currentTimeMillis()
    Thread.sleep(30)
    require(store.addColumn("ord_t", "note", "STRING"), // v3: evolution
      "ADD COLUMN lost its CAS race on a fresh private store")
    Thread.sleep(30)
    val tEvo = System.currentTimeMillis()
    val old = store.readAsOf("ord_t", tDel)
    require(old.columns.toSeq ==
      Seq("o_orderkey", "o_totalprice", "o_orderstatus"),
      s"post-delete snapshot leaked the evolved schema: ${old.columns.toSeq}")
    require(store.read("ord_t").columns.contains("note"),
      "head lost the evolved column")
    Sql.runTimeTravel(s, store, dir,
      s"""SELECT cur.o_orderkey, cur.o_orderstatus, cur.note,
         |  old.o_totalprice AS price
         |FROM `graft-project.store.ord_t`
         |  FOR SYSTEM_TIME AS OF $tEvo cur
         |JOIN `graft-project.store.ord_t`
         |  FOR SYSTEM_TIME AS OF $tDel old
         |  ON cur.o_orderkey = old.o_orderkey
         |""".stripMargin)
      .sortedWide("o_orderkey")
  }

  val q80Oracle: String =
    """SELECT o_orderkey, o_orderstatus, CAST(NULL AS VARCHAR) AS note,
      |  o_totalprice AS price
      |FROM orders WHERE o_orderstatus <> 'F'
      |ORDER BY o_orderkey""".stripMargin

  /** q81: RESTORE — the recover-from-a-bad-write verb. A CTAS seeds the
    * table, a (deliberately wrong) row-level DELETE commits a deletion
    * vector, and RESTORE TO VERSION AS OF rolls the head back as a
    * LINK-ONLY commit (the in-query require pins zero files rewritten).
    * The oracle recomputes the full original aggregate — hash equality
    * proves the rollback erased the delete's effect exactly, while the
    * bad commit stays a retained, inspectable version.
    *
    * Scale shape: rollback on 100 TB is one manifest naming the
    * snapshot's files + a sidecar copy, never a data rewrite; BigQuery spells the same recovery
    * CREATE TABLE AS SELECT … FOR SYSTEM_TIME AS OF (which re-writes),
    * Delta spells it RESTORE — the store gives Delta's cost. */
  def q81Restore(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_rst_wh").toString
    val store = new TableStore(s, wh)
    Sql.runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.order_state` AS
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders;
        |DELETE FROM `graft-project.store.order_state`
        |  WHERE o_orderstatus = 'F';""".stripMargin)
    val v1 = store.versions("order_state").min
    val filesBefore = store.fileCount("order_state")
    Sql.runScript(s, store, dir,
      s"RESTORE TABLE `graft-project.store.order_state` " +
        s"TO VERSION AS OF $v1;")
    require(store.fileCount("order_state") == filesBefore,
      "RESTORE rewrote data files — it must inherit them by name")
    require(store.countRows("order_state") ==
      store.read("order_state").count(),
      "restored head's metadata COUNT must match the live read")
    store.read("order_state")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
          .cast("double").as("total"))
      .sortedSmall("o_orderstatus")
  }

  val q81Oracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q82: DESCRIBE HISTORY — the commit log as a queryable DataFrame:
    * (seq, version, txn_tag) per retained marker, here joined with each
    * version's time-travel row count, so the oracle pins BOTH the log's
    * content (tags land on the right commits, in order) and that every
    * listed version actually serves its snapshot. Wall-clock stamps are
    * excluded from the gate (non-deterministic) but carried by the API.
    *
    * Scale shape: the log walk is driver-side and bounded by retention;
    * the only Spark work is the tiny local DataFrame and the per-version
    * counts the gate adds for evidence. */
  def q82History(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_hist_wh").toString
    val store = new TableStore(s, wh)
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    store.overwrite("h", ord, txnTag = Some("load:1"))
    store.mergeWith("h", txnTag = Some("prune:2"))(
      df => df.filter(col("o_orderstatus") =!= "F"))
    val counts = store.versions("h")
      .map(v => (v, store.readVersion("h", v).count()))
      .toDF("version", "n_rows")
    store.history("h").select(col("seq"), col("version"), col("txn_tag"))
      .join(counts, "version")
      .select(col("seq"), col("version"), col("txn_tag"), col("n_rows"))
      .sortedSmall("seq")
  }

  val q82Oracle: String =
    """SELECT 1 AS seq, 1 AS version, 'load:1' AS txn_tag,
      |  (SELECT COUNT(*) FROM orders) AS n_rows
      |UNION ALL
      |SELECT 2, 2, 'prune:2',
      |  (SELECT COUNT(*) FROM orders WHERE o_orderstatus <> 'F')
      |ORDER BY seq""".stripMargin

  /** q83: CREATE SNAPSHOT TABLE … CLONE — the zero-copy clone verb
    * ([[TableStore.cloneTable]]; BigQuery table snapshots, Delta SHALLOW
    * CLONE). The script stages a working table, snapshots it, then
    * DELETEs from the working table; the gate reads BOTH tables back, so
    * the hash proves the snapshot PINNED the pre-delete state while the
    * source kept evolving — and the in-query requires prove the clone
    * commit linked rather than copied (identical file count, zero Spark
    * jobs would be the plan-level view) and that the snapshot refuses
    * writes (the read-only half of the contract; without it a misrouted
    * writer silently corrupts the backup it was meant to protect).
    *
    * Scale shape: the clone is O(files) hard links — on a 100 TB table
    * an instant metadata commit where a copy would be a cluster-day;
    * independent evolution afterwards is free because committed files are
    * immutable and GC is per-table (shared inodes live until the LAST
    * referrer ages out). */
  def q83SnapshotClone(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_clone_wh").toString
    val store = new TableStore(s, wh)
    Sql.runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.orders_live` AS
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders;
        |CREATE SNAPSHOT TABLE `graft-project.store.orders_backup`
        |  CLONE `graft-project.store.orders_live`;""".stripMargin)
    require(store.fileCount("orders_backup") ==
      store.fileCount("orders_live"),
      "clone must carry the source snapshot's files one-to-one")
    Sql.runScript(s, store, dir,
      """DELETE FROM `graft-project.store.orders_live`
        |  WHERE o_orderstatus = 'F';""".stripMargin)
    val refused =
      try { store.deleteRows("orders_backup", lit(true)); false }
      catch { case _: IllegalArgumentException => true }
    require(refused, "snapshot table accepted a write — it must be " +
      "read-only for life")
    def sideAgg(table: String, side: String) = store.read(table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
          .cast("double").as("total"))
      .select(lit(side).as("side"), col("o_orderstatus"), col("n"),
        col("total"))
    sideAgg("orders_live", "live")
      .unionByName(sideAgg("orders_backup", "snapshot"))
      .sortedSmall("side", "o_orderstatus")
  }

  val q83Oracle: String =
    """SELECT 'live' AS side, o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'snapshot', o_orderstatus, COUNT(*),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY side, o_orderstatus""".stripMargin

  /** q87: MATERIALIZED VIEW with query-time freshness — BigQuery's
    * aggregate MV end-to-end: CTAS stages half the orders, CREATE
    * MATERIALIZED VIEW aggregates them, INSERT appends the other half
    * as a new base version that inherits the old one's files, and the
    * gated read combines the now-stale stored rows with a partial
    * aggregate over ONLY the appended files ([[TableStore.readMaterialized]]
    * decides that by file algebra — the in-query
    * require proves a real delta existed, so the combine path cannot be
    * skipped). REFRESH then re-materializes incrementally and the
    * second read must serve the stored rows verbatim (delta count back
    * to zero — also required). Both reads ride into the gate against
    * ONE declarative recompute, so hash equality proves the MV algebra:
    * combine(stale, delta) = refresh(…) = full aggregate.
    *
    * Scale shape: the stale read costs O(|view| + |delta|), never
    * O(|base|) — the entire reason warehouses grew MVs; the decimal
    * cast in the CTAS keeps SUM exact so freshness is hash-provable. */
  def q87MaterializedView(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_mv_wh").toString
    val store = new TableStore(s, wh)
    Sql.runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.mv_base` AS
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(30,2)) AS price
        |  FROM orders WHERE o_orderkey % 2 = 0;
        |CREATE MATERIALIZED VIEW `graft-project.store.status_mv` AS
        |  SELECT o_orderstatus, COUNT(*) AS n_orders, SUM(price) AS total,
        |    MAX(o_orderkey) AS max_key
        |  FROM `graft-project.store.mv_base` GROUP BY o_orderstatus;
        |INSERT INTO `graft-project.store.mv_base`
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(30,2)) AS price
        |  FROM orders WHERE o_orderkey % 2 = 1;""".stripMargin)
    require(store.mvDeltaFiles("status_mv") >= 1,
      "the append left no uncovered file — the combine path is untested")
    val live = store.readMaterialized("status_mv")
    Sql.runScript(s, store, dir,
      "REFRESH MATERIALIZED VIEW `graft-project.store.status_mv`;")
    require(store.mvDeltaFiles("status_mv") == 0,
      "REFRESH must leave the view covering every base file")
    val refreshed = store.readMaterialized("status_mv")
    def shape(df: DataFrame, side: String) = df.select(lit(side).as("side"),
      col("o_orderstatus"), col("n_orders"),
      col("total").cast("double").as("total"), col("max_key"))
    shape(live, "combined").unionByName(shape(refreshed, "refreshed"))
      .sortedSmall("side", "o_orderstatus")
  }

  val q87Oracle: String =
    """WITH a AS (SELECT o_orderstatus, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
      |      AS total,
      |    MAX(o_orderkey) AS max_key
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT 'combined' AS side, * FROM a
      |UNION ALL
      |SELECT 'refreshed', * FROM a
      |ORDER BY side, o_orderstatus""".stripMargin

  /** q88: INFORMATION_SCHEMA — the catalog itself as a gated query: a
    * base table staged as one commit of two slices, so the metadata row
    * count provably sums across files at version 1, a read-only SNAPSHOT clone,
    * and a MATERIALIZED VIEW, all listed by
    * [[TableStore.informationSchemaTables]] with BigQuery's table_type
    * vocabulary, the committed version, footer-only row counts, and
    * declared column counts. The COLUMNS view is gated structurally in
    * the same query (ordinal/type of the view's own columns must match
    * its read schema). The oracle recomputes every cell declaratively —
    * a catalog that lies about a row count or misclassifies a snapshot
    * fails the hash.
    *
    * Scale shape: the catalog walk is driver-side metadata (footers +
    * flag files), never a scan — INFORMATION_SCHEMA must answer in
    * seconds on a 10 000-table warehouse. */
  def q88InformationSchema(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_is_wh").toString
    val store = new TableStore(s, wh)
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // a union of two scans writes at least one file per slice
    store.overwrite("orders_is", ord.filter(col("o_orderkey") % 2 === 0)
      .union(ord.filter(col("o_orderkey") % 2 =!= 0)))
    require(store.fileCount("orders_is") >= 2,
      "the staged base landed one file — the footer count sums nothing")
    store.cloneTable("orders_is", "orders_snap", snapshot = true)
    store.createMaterializedView("status_mv", "orders_is",
      Seq("o_orderstatus"), Seq(graft.psn.MvAgg("n", "COUNT", "*")))
    // COLUMNS gates structurally: the catalog's types must be the read
    // schema's, in ordinal order, for every listed table
    val cols = store.informationSchemaColumns().collect()
    store.informationSchemaTables().collect().foreach { t =>
      val name = t.getString(0)
      val declared = cols.filter(_.getString(0) == name)
        .sortBy(_.getInt(2)).map(c => (c.getString(1), c.getString(3)))
      val actual = store.read(name).schema.fields
        .map(f => (f.name, f.dataType.sql))
      require(declared.toSeq == actual.toSeq,
        s"INFORMATION_SCHEMA.COLUMNS disagrees with the read schema of " +
          s"'$name'")
    }
    store.informationSchemaTables()
      .select(col("table_name"), col("table_type"), col("version"),
        col("n_rows"), col("n_columns"))
      .sortedSmall("table_name")
  }

  val q88Oracle: String =
    """SELECT 'orders_is' AS table_name, 'BASE TABLE' AS table_type,
      |  1 AS version, (SELECT COUNT(*) FROM orders) AS n_rows,
      |  3 AS n_columns
      |UNION ALL
      |SELECT 'orders_snap', 'SNAPSHOT', 1,
      |  (SELECT COUNT(*) FROM orders), 3
      |UNION ALL
      |SELECT 'status_mv', 'MATERIALIZED VIEW', 1,
      |  (SELECT COUNT(DISTINCT o_orderstatus) FROM orders), 2
      |ORDER BY table_name""".stripMargin

  /** q94: INFORMATION_SCHEMA.PARTITIONS — the partition-level catalog as
    * a gated query: a hive-partitioned fact table is staged in two
    * committed appends, the second inheriting the first's files
    * (per-partition counts must SUM across files and versions), then
    * a row-level DELETE tombstones every seventh order (deletion
    * vectors), and the catalog must report each partition's LIVE row
    * count — footer sums minus exactly that partition's vector entries,
    * zero data read. The oracle recomputes every partition's count
    * declaratively; a catalog that forgets the deletes (or charges them
    * to the wrong partition) fails the hash.
    *
    * Scale shape: partition management at 100 TB (retention sweeps,
    * skew audits, load balancing) starts from this view — it must come
    * from metadata: O(files) footer reads + one DV aggregation, never a
    * table scan. */
  def q94PartitionsCatalog(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_pc_wh").toString
    val store = new TableStore(s, wh)
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    store.append("orders_pc",
      ord.filter(col("o_orderkey") % 2 === 0), Some("o_orderstatus"))
    store.append("orders_pc",
      ord.filter(col("o_orderkey") % 2 =!= 0), Some("o_orderstatus"))
    store.deleteRows("orders_pc", col("o_orderkey") % 7 === 0)
    store.informationSchemaPartitions("orders_pc")
      .select(col("partition_value"), col("n_rows"))
      .sortedSmall("partition_value")
  }

  val q94Oracle: String =
    """SELECT o_orderstatus AS partition_value, COUNT(*) AS n_rows
      |FROM orders WHERE o_orderkey % 7 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q69_data_skipping", q69DataSkipping, Some(q69Oracle)),
    Q("q70_metadata_count", q70MetadataCount, Some(q70Oracle)),
    Q("q71_metadata_minmax", q71MetadataMinmax, Some(q71Oracle)),
    Q("q72_script_optimize", q72ScriptOptimize, Some(q72Oracle)),
    Q("q73_constraints", q73Constraints, Some(q73Oracle)),
    Q("q74_add_column", q74AddColumn, Some(q74Oracle)),
    Q("q75_drop_column", q75DropColumn, Some(q75Oracle)),
    Q("q76_zorder", q76Zorder, Some(q76Oracle)),
    Q("q77_bloom_lookup", q77BloomLookup, Some(q77Oracle)),
    Q("q78_dv_delete", q78DvDelete, Some(q78Oracle)),
    Q("q79_multi_lookup", q79MultiLookup, Some(q79Oracle)),
    Q("q80_travel_across_ddl", q80TravelAcrossDdl, Some(q80Oracle)),
    Q("q81_restore", q81Restore, Some(q81Oracle)),
    Q("q82_history", q82History, Some(q82Oracle)),
    Q("q83_snapshot_clone", q83SnapshotClone, Some(q83Oracle)),
    Q("q87_materialized_view", q87MaterializedView, Some(q87Oracle)),
    Q("q88_information_schema", q88InformationSchema, Some(q88Oracle)),
    Q("q94_partitions_catalog", q94PartitionsCatalog, Some(q94Oracle)))
}
