package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.expr.Exprs._
import graft.tables.Tables._
import graft.ops.Out._
import graft.psn.TableStore

/** Bucketed co-located join (q50) — the storage-layout half of the shuffle
  * story. Every other join in the registry earns its locality at runtime
  * (broadcast or exchange); bucketing earns it at WRITE time: both sides
  * hash-partitioned into the same bucket count on the join key, so the
  * join's required distribution is already satisfied by the scan and the
  * physical plan contains NO exchange under the join.
  *
  * At 100 TB this is the difference between re-shuffling the fact table on
  * every query and paying the layout cost once at ingest: a
  * lineitem⋈orders co-located on orderkey joins exchange-free forever
  * after. The write path (`bucketBy(...).sortBy(...).saveAsTable`) is the
  * same one a production ingest uses; the demo keeps the bucketed copies
  * in a scratch dir because the driver corpus itself is read-only.
  */
object Bucketed {

  private val Buckets = 8

  /** Bucketing is a pay-once-at-INGEST layout cost: a production table is
    * written bucketed when it lands and then joins exchange-free forever.
    * Re-writing the layout on every invocation would bill that one-time
    * cost to every query, so the writer memoizes per (table, source dir)
    * within the JVM — the first run in a session pays the write (as
    * ingest does), subsequent runs measure what the operator is actually
    * about: the shuffle-free join. */
  private val written = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One lock object per layout name: the memoized write is check-then-act,
    * and two threads racing it (bench and verify share this JVM in local
    * iteration) would otherwise overwrite a layout the other is scanning. */
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(name: String): Object =
    writeLocks.computeIfAbsent(name, _ => new Object)

  /** Scratch location scoped by a hash of the SOURCE dir: two JVMs
    * benching different sf dirs get disjoint paths instead of silently
    * clobbering each other's layout mid-scan; same-dir re-runs reuse it. */
  private def scratchPath(kind: String, name: String, dir: String): String = {
    val tag = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir))
    new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_$kind/${name}_$tag").getAbsolutePath
  }

  private def writeBucketed(
      s: SparkSession, df: DataFrame, name: String, key: String,
      dir: String): Unit = lockFor(name).synchronized {
    if (dir == written.get(name) && s.catalog.tableExists(name)) return
    val tmp = scratchPath("bucketed", name, dir)
    s.sql(s"DROP TABLE IF EXISTS $name")
    df.write.format("parquet")
      .bucketBy(Buckets, key).sortBy(key)
      .option("path", tmp)
      .mode("overwrite")
      .saveAsTable(name)
    written.put(name, dir)
  }

  /** The exchange-free join itself, pre-aggregation — exposed so the spec
    * can assert the physical plan (SortMergeJoin, zero Exchange nodes).
    * MERGE hints pin the join strategy: a broadcast join would also skip
    * the exchange, but then the plan proves nothing about bucketing. */
  private[graft] def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    writeBucketed(s,
      orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
      "g50_orders", "o_orderkey", dir)
    writeBucketed(s,
      lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice")),
      "g50_lineitem", "l_orderkey", dir)
    s.table("g50_lineitem").hint("MERGE")
      .join(s.table("g50_orders").hint("MERGE"),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** q50: monthly revenue over the bucketed join. The only exchange in
    * the whole plan is the final 80-group aggregation — the fact⋈dim
    * join runs exchange-free off the bucketed layout. */
  def q50BucketedJoin(s: SparkSession, dir: String): DataFrame =
    bucketedJoin(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_items"),
        lsum(col("l_extendedprice")).as("revenue"))
      .sortedSmall("month")

  val q50Oracle: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |COUNT(*) AS n_items, ${dsumSql("l_extendedprice")} AS revenue
       |FROM lineitem, orders WHERE l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY month""".stripMargin

  // --- q51: partition pruning off a partitionBy layout -----------------

  /** Hive-style partitioned copy of orders (dt-partitioning's batch twin:
    * one directory per order year), memoized per source dir like the
    * bucketed layout — partitioning is likewise paid at ingest. */
  private def partitionedOrdersPath(s: SparkSession, dir: String): String =
    lockFor("orders_by_year").synchronized {
      val path = scratchPath("partitioned", "orders_by_year", dir)
      if (dir != written.get("orders_by_year")) {
        orders(s, dir).withColumn("yr", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("yr").parquet(path)
        written.put("orders_by_year", dir)
      }
      path
    }

  /** The pruned scan itself, pre-aggregation — exposed so the spec can
    * assert partition-level pruning on the physical plan (the yr=1997
    * predicate must land in PartitionFilters, NOT as a row-level data
    * filter: whole directories are skipped before any IO). */
  private[graft] def prunedScan(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(partitionedOrdersPath(s, dir))
      .filter(col("yr") === 1997)

  /** q51: per-priority report over one year of a year-partitioned
    * layout. At 100 TB this is THE difference between scanning the
    * whole fact table and touching 1/7th of it — the directory-level
    * skip costs zero IO, unlike row-group statistics pruning which
    * still reads footers. The aggregation shape matches q14's. */
  def q51PartitionPruning(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        lsum(col("o_totalprice")).as("revenue"))
      .sortedSmall("o_orderpriority")

  val q51Oracle: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
       |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // --- q53: z-order layout, multi-dimensional row-group skipping --------

  /** Events rewritten along the Z-address of (user_id, ts) — the one
    * Z-address OPTIMIZE … ZORDER lays tables out with
    * ([[graft.psn.TableStore.zOrdered]]: equi-depth 4-bit buckets per
    * column, bit-interleaved, range-partitioned and sorted): the layout
    * IS the index. Memoized per source dir (pay-at-ingest, the q50/q51
    * discipline); the first write pays one approx-quantile pass over the
    * two key columns. At 100 TB this is how a point-ish query on a fact
    * table touches kilobytes: every file covers a z slab ≈ a small
    * (user, time) rectangle, and parquet row-group stats exclude all
    * others before any IO. */
  private def zEventsPath(s: SparkSession, dir: String): String =
    lockFor("events_zorder").synchronized {
      val path = scratchPath("zorder", "events_zorder", dir)
      if (dir != written.get("events_zorder")) {
        TableStore.zOrdered(events(s, dir), Seq("user_id", "ts"), 32)
          .write.mode("overwrite").parquet(path)
        written.put("events_zorder", dir)
      }
      path
    }

  /** The 2-d box scan off the z layout, pre-aggregation. The answer is
    * layout-independent (the oracle reads the flat corpus); the layout
    * only changes how little gets read — ClusterZSpec measures that
    * rows-read gap for the same Z-address against a time-sorted layout. */
  private def zScan(s: SparkSession, dir: String): DataFrame = {
    def nanos(d: java.time.LocalDate): Long =
      d.toEpochDay * 86400L * 1000000000L
    s.read.parquet(zEventsPath(s, dir))
      .filter(col("user_id").between(0, 9) &&
        col("ts") >= nanos(java.time.LocalDate.of(2024, 1, 11)) &&
        col("ts") < nanos(java.time.LocalDate.of(2024, 1, 16)))
  }

  /** q53: per-type report over a (user, time) box — the query shape
    * z-ordering exists for: selective in TWO dimensions at once. */
  def q53ZOrderScan(s: SparkSession, dir: String): DataFrame =
    zScan(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), lsum(col("value")).as("total_value"))
      .sortedSmall("event_type")

  val q53Oracle: String =
    s"""SELECT event_type, COUNT(*) AS n_events,
       |${dsumSql("value")} AS total_value
       |FROM events
       |WHERE user_id BETWEEN 0 AND 9
       |  AND ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-16'
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  // --- q54: DYNAMIC partition pruning off the same layout ---------------

  /** Calendar dimension (yr, era) derived from the corpus and written to
    * scratch parquet at ingest (memoized like every layout here) — the
    * dim side of the DPP demo. Tiny by construction (one row per order
    * year), so the join broadcasts and DPP can reuse the broadcast
    * result as the fact scan's partition filter. */
  private def calendarDimPath(s: SparkSession, dir: String): String =
    lockFor("g54_calendar").synchronized {
      val path = scratchPath("dim", "g54_calendar", dir)
      if (dir != written.get("g54_calendar")) {
        orders(s, dir)
          .select(year(col("o_orderdate")).as("yr")).distinct()
          .withColumn("era",
            when(col("yr") >= 1996, "recent").otherwise("archive"))
          .coalesce(1)
          .write.mode("overwrite").parquet(path)
        written.put("g54_calendar", dir)
      }
      path
    }

  /** The DPP join, pre-aggregation — exposed so DppSpec can assert the
    * physical plan: the fact side's PartitionFilters must carry a
    * `dynamicpruningexpression` fed by the dim filter, i.e. the partition
    * values to scan are discovered AT RUNTIME from the dim side. q51
    * proves the static half (a literal predicate prunes directories);
    * this is the dim-driven half a star-schema query actually runs — at
    * 100 TB the difference between scanning every date partition and
    * touching only the ones the dimension selects, with no literal dates
    * in the query at all. */
  private[graft] def dppJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.parquet(partitionedOrdersPath(s, dir))
    val dim = s.read.parquet(calendarDimPath(s, dir))
      .filter(col("era") === "recent")
    fact.join(dim, "yr")
  }

  /** q54: per-(year, priority) report over the dim-selected era. */
  def q54DynamicPruning(s: SparkSession, dir: String): DataFrame =
    dppJoin(s, dir)
      .groupBy(col("yr").cast("long").as("yr"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        lsum(col("o_totalprice")).as("revenue"))
      .sortedSmall("yr", "o_orderpriority")

  val q54Oracle: String =
    s"""WITH dim AS (
       |  SELECT yr,
       |    CASE WHEN yr >= 1996 THEN 'recent' ELSE 'archive' END AS era
       |  FROM (SELECT DISTINCT EXTRACT(year FROM o_orderdate) AS yr
       |        FROM orders)),
       |f AS (SELECT EXTRACT(year FROM o_orderdate) AS yr, o_orderpriority,
       |        o_totalprice FROM orders)
       |SELECT CAST(f.yr AS BIGINT) AS yr, o_orderpriority,
       |  COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS revenue
       |FROM f JOIN dim ON f.yr = dim.yr
       |WHERE dim.era = 'recent'
       |GROUP BY 1, 2 ORDER BY yr, o_orderpriority""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q50_bucketed_join", q50BucketedJoin, Some(q50Oracle)),
    Q("q51_partition_pruning", q51PartitionPruning, Some(q51Oracle)),
    Q("q53_zorder_scan", q53ZOrderScan, Some(q53Oracle)),
    Q("q54_dynamic_pruning", q54DynamicPruning, Some(q54Oracle)))
}
