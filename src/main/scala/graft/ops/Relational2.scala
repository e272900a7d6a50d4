package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.expr.Exprs._
import graft.tables.Tables._
import graft.ops.Out._

/** Second relational batch — the implied aggregation/window/set-op surface
  * beyond Relational.scala's q01-q25 (SURVEY §2.5-§2.7 implied
  * capabilities). Same rules: declarative plans, decimal-exact float
  * aggregation where the oracle hash demands determinism, bounded outputs
  * via sortedSmall, no driver-side loops.
  */
object Relational2 {

  /** q26: CUBE grouping sets (all four rollup combinations in one pass —
    * Catalyst expands to a single Expand + hash agg, one shuffle). */
  def q26Cube(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        lsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .sortedSmall("gid", "l_returnflag", "l_linestatus")

  val q26Oracle: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  GROUPING(l_returnflag, l_linestatus) AS gid,
       |  ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** q27: INTERSECT set op (q22 covers EXCEPT; distinct semantics both
    * engines). Customers in the BUILDING segment ∩ customers with a
    * high-value order. */
  def q27Intersect(s: SparkSession, dir: String): DataFrame =
    customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
      .intersect(orders(s, dir).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey")))
      .sortedWide("custkey")

  val q27Oracle: String =
    """SELECT c_custkey AS custkey FROM customer
      |WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
      |ORDER BY custkey""".stripMargin

  /** q28: statistical moments with *exact* arithmetic — stddev and corr
    * from decimal power sums, finished in double by an identical IEEE
    * expression in both engines. Spark's native stddev/corr stream in
    * float (merge-order-dependent), which can't hash-match a second
    * engine; power sums in decimal are associative, so the result is
    * deterministic under any partitioning — the same trick dsum uses,
    * extended to second moments. */
  def q28Moments(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    // Power sums through Exprs.lsum — the decimal contract at long speed
    // (bit-identical to dsum; see lsum's bounds argument: y² units are
    // ≤ 1.2e16 per row, group totals split hi/lo, ANSI-loud overflow at
    // ~8.6e9 rows/group). Measured 2× end-to-end vs the dsum version.
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        lsum(x).as("sx"),
        lsum(x * x, 6).as("sxx"),
        lsum(y).as("sy"),
        lsum(y * y, 6).as("syy"),
        lsum(x * y, 6).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1)), 6).as("std_qty"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
            (col("syy") - col("sy") * col("sy") / col("n"))), 6)
          .as("corr_qty_price"))
      .sortedSmall("l_returnflag")
  }

  val q28Oracle: String = {
    val sx = s"CAST(${dsumSql("l_quantity")} AS DOUBLE)"
    val sxx = s"CAST(${dsumSql("l_quantity*l_quantity", 6)} AS DOUBLE)"
    val sy = s"CAST(${dsumSql("l_extendedprice")} AS DOUBLE)"
    val syy = s"CAST(${dsumSql("l_extendedprice*l_extendedprice", 6)} AS DOUBLE)"
    val sxy = s"CAST(${dsumSql("l_quantity*l_extendedprice", 6)} AS DOUBLE)"
    s"""WITH m AS (
       |  SELECT l_returnflag, COUNT(*) AS n, $sx AS sx, $sxx AS sxx,
       |    $sy AS sy, $syy AS syy, $sxy AS sxy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std_qty,
       |  round((sxy - sx * sy / n) /
       |    sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
       |    AS corr_qty_price
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  /** q29: generator/UDTF surface (SURVEY §2.9) — posexplode over a split
    * array: one row per word with its position. Map-side explode, no
    * shuffle. */
  def q29ExplodeWords(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
      .select(col("p_partkey"), col("pos").cast("long").as("pos"),
        col("word"))
      .sortedWide("p_partkey", "pos")

  val q29Oracle: String =
    """WITH w AS (
      |  SELECT p_partkey, string_split(p_name, ' ') AS l FROM part),
      |i AS (SELECT unnest(generate_series(1, 16)) AS i)
      |SELECT p_partkey, CAST(i - 1 AS BIGINT) AS pos, l[i] AS word
      |FROM w JOIN i ON i <= len(l)
      |ORDER BY p_partkey, pos""".stripMargin

  /** q30: array aggregation — collect_set + array_sort + concat_ws (the
    * deterministic face of list aggregation; an unsorted collect_list has
    * no cross-engine order). */
  def q30ArrayAgg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("l_linestatus"))))
          .as("statuses"),
        countDistinct(col("l_linestatus")).as("n_status"))
      .sortedSmall("l_returnflag")

  val q30Oracle: String =
    """SELECT l_returnflag,
      |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
      |    AS statuses,
      |  CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_status
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q31: min_by / max_by (argmin/argmax) — ordering key made unique by
    * folding the argument into it, so ties cannot make the result
    * engine-dependent. The 1e8 multiplier keeps (quantity, orderkey)
    * lexicographic (no cross-term collisions) for orderkeys up to 1e8 —
    * 600× the 10× replica's max — while staying exactly representable in
    * a double (max ≈ 5e9 + 1e8 ≪ 2^53). */
  def q31ArgMinMax(s: SparkSession, dir: String): DataFrame = {
    val ord = col("l_quantity") * 100000000L + col("l_orderkey")
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(max_by(col("l_orderkey"), ord).as("biggest_order"),
        min_by(col("l_orderkey"), ord).as("smallest_order"),
        max(col("l_quantity")).as("max_qty"))
      .sortedSmall("l_returnflag")
  }

  val q31Oracle: String =
    """SELECT l_returnflag,
      |  arg_max(l_orderkey, l_quantity * 100000000 + l_orderkey)
      |    AS biggest_order,
      |  arg_min(l_orderkey, l_quantity * 100000000 + l_orderkey)
      |    AS smallest_order,
      |  max(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q32: the full ranking-function suite (rank / dense_rank /
    * percent_rank) over a *partitioned* window — scale-safe (one shuffle
    * on the partition key), and rank-by-value is tie-deterministic without
    * needing a unique sort key. Top-3 customers by balance per nation. */
  def q32RankSuite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("n_name")).orderBy(col("c_acctbal").desc)
    customer(s, dir)
      .join(broadcast(nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("c_acctbal"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"))
      .filter(col("rnk") <= 3)
      .sortedWide("n_name", "rnk", "c_custkey")
  }

  val q32Oracle: String =
    """WITH r AS (
      |  SELECT n_name, c_custkey, c_acctbal,
      |    rank() OVER w AS rnk,
      |    dense_rank() OVER w AS drnk,
      |    round(percent_rank() OVER w, 6) AS prnk
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC))
      |SELECT * FROM r WHERE rnk <= 3
      |ORDER BY n_name, rnk, c_custkey""".stripMargin

  /** q33: null-safe equality join (<=> / IS NOT DISTINCT FROM) — the
    * null-semantics hard part from SURVEY §7.4 exercised with real NULL
    * keys (nullif fabricates them from the corpus). */
  def q33NullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val seg = nullif(col("c_mktsegment"), lit("BUILDING")).as("seg")
    val counts = customer(s, dir).select(seg)
      .groupBy(col("seg")).agg(count(lit(1)).as("n_cust"))
    val bals = customer(s, dir).select(seg, col("c_acctbal"))
      .groupBy(col("seg")).agg(lavg(col("c_acctbal")).as("avg_bal"))
      .withColumnRenamed("seg", "seg2")
    counts.join(bals, col("seg") <=> col("seg2"))
      .select(col("seg"), col("n_cust"), col("avg_bal"))
      .sortedSmall("seg")
  }

  val q33Oracle: String =
    s"""WITH counts AS (
       |  SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
       |    COUNT(*) AS n_cust
       |  FROM customer GROUP BY 1),
       |bals AS (
       |  SELECT nullif(c_mktsegment, 'BUILDING') AS seg2,
       |    ${davgSql("c_acctbal")} AS avg_bal
       |  FROM customer GROUP BY 1)
       |SELECT seg, n_cust, avg_bal
       |FROM counts JOIN bals ON seg IS NOT DISTINCT FROM seg2
       |ORDER BY seg""".stripMargin

  /** q34: histogram via width_bucket — both engines truncate
    * (x - lo) / ((hi - lo) / n) with identical IEEE doubles (the divisor
    * 25000.0 is exact). */
  def q34Histogram(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(width_bucket(col("o_totalprice"), lit(0d), lit(500000d),
        lit(20)).as("bucket"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), lsum(col("o_totalprice")).as("total"))
      .sortedSmall("bucket")

  val q34Oracle: String =
    s"""SELECT CASE WHEN o_totalprice < 0 THEN 0
       |            WHEN o_totalprice >= 500000 THEN 21
       |            ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1
       |       END AS bucket,
       |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
       |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q35: calendar arithmetic beyond q23's day diffs — add_months (with
    * end-of-month clamping), last_day, quarter truncation. */
  def q35CalendarOps(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(col("o_orderkey"),
        add_months(col("o_orderdate"), 3).as("due_date"),
        last_day(col("o_orderdate")).as("eom"),
        date_trunc("quarter", col("o_orderdate")).cast("date").as("qtr"))
      .sortedWide("o_orderkey")

  val q35Oracle: String =
    """SELECT o_orderkey,
      |  (o_orderdate + INTERVAL 3 MONTH)::DATE AS due_date,
      |  last_day(o_orderdate) AS eom,
      |  date_trunc('quarter', o_orderdate)::DATE AS qtr
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q36: TPC-H Q17-flavor correlated aggregate — revenue from
    * small-quantity outlier lines, where "small" is 20% of that part's own
    * average quantity. Catalyst decorrelates the per-part scalar subquery
    * into an aggregate + join (no per-row re-scan); exact decimal sums keep
    * the threshold and total engine-identical. Expressed through the SQL
    * front-end: the identical text runs on both engines. */
  val q36Sql: String =
    s"""SELECT round(${dsumSql("l_extendedprice")} / 7.0, 2) AS avg_yearly
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_brand = 'Brand#13'
       |  AND l_quantity < 0.2 * (
       |    SELECT ${davgSql("l2.l_quantity")}
       |    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin

  def q36OutlierRevenue(s: SparkSession, dir: String): DataFrame =
    Sql.run(s, dir, q36Sql)

  /** q37: two-phase salted aggregation (ops.Skew) as a gated query — the
    * skew-resilient form of a groupBy sum: phase 1 aggregates on
    * (key, salt) so no reducer ever owns more than 1/salts of a hot key,
    * phase 2 merges the partials. The oracle is the PLAIN group-by sum:
    * salting must be a pure execution-strategy change with identical
    * results (decimal partials keep the double sum order-independent). */
  def q37SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedSum(lineitem(s, dir),
      col("l_returnflag"),
      col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(30, 2)),
      salts = 16, entropy = col("l_orderkey"))
      .select(col("k").as("l_returnflag"),
        col("salted_sum").cast("double").as("sum_qty"))
      .sortedSmall("l_returnflag")

  val q37Oracle: String =
    s"""SELECT l_returnflag, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q38: sketch quantiles — approx_percentile (KLL-style mergeable
    * sketch, the constant-memory scale path that replaces q24's exact
    * expand at 100 TB). Like q20, the oracle checks the accuracy
    * *contract*: each approximate quantile must land within 2% relative
    * error of the exact value (accuracy parameter 10000 ⇒ rank error
    * ≤ 0.01%), which DuckDB asserts as constant-true against its own
    * exact quantiles. */
  def q38ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    def apx(p: Double) =
      expr(s"approx_percentile(o_totalprice, $p, 10000)")
    def exact(p: Double) =
      expr(s"percentile(o_totalprice, $p)")
    def ok(p: Double) =
      (abs(apx(p) - exact(p)) / exact(p) <= 0.02)
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(ok(0.5).as("p50_ok"), ok(0.9).as("p90_ok"), ok(0.99).as("p99_ok"))
      .sortedSmall("o_orderstatus")
  }

  val q38Oracle: String =
    """SELECT o_orderstatus,
      |  true AS p50_ok, true AS p90_ok, true AS p99_ok
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q39: explicit GROUPING SETS — the general grouping-set form beyond
    * q17's rollup and q26's cube: two disjoint single-column groupings in
    * one pass (one Expand + one shuffle). Spark spells the set id
    * `grouping_id(...)`, DuckDB `GROUPING(...)` — same bit convention
    * (first column = MSB). */
  def q39GroupingSets(s: SparkSession, dir: String): DataFrame =
    Sql.run(s, dir,
      s"""SELECT l_returnflag, l_linestatus,
         |  grouping_id(l_returnflag, l_linestatus) AS gid,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)

  val q39Oracle: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  GROUPING(l_returnflag, l_linestatus) AS gid,
       |  ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
       |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** q40: explicit window FRAMES — 4-day moving sum and average of daily
    * revenue (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), partitioned by
    * month so the window shuffles on a real key (never a bare global
    * orderBy). Completes the frame surface beyond q08's lag and s05's
    * unbounded-preceding. */
  def q40MovingAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mo"),
        col("o_orderdate").cast("date").as("day"))
      .agg(lsum(col("o_totalprice")).as("rev"))
    val w = Window.partitionBy(col("mo")).orderBy(col("day"))
      .rowsBetween(-3, Window.currentRow)
    // decimal window sums: windowed double addition is association-order
    // dependent across engines (DuckDB segment-trees large frames); decimal
    // is exact under any order. avg = sum/count keeps the division in
    // double with identical operands on both sides; rounded at scale 6,
    // where no quotient of a 2-decimal sum by 1..4 can sit exactly on a
    // rounding boundary (scale 2 can: sum .14 / 4 = .785 — and Spark
    // rounds the decimal string while DuckDB rounds the binary value).
    val dec = org.apache.spark.sql.types.DecimalType(30, 2)
    val mvSum = sum(col("rev").cast(dec)).over(w).cast("double")
    val mvCnt = count(lit(1)).over(w)
    daily
      .select(col("day"), mvSum.as("mv_sum"),
        round(mvSum / mvCnt, 6).as("mv_avg"))
      .sortedWide("day")
  }

  val q40Oracle: String =
    s"""WITH daily AS (
       |  SELECT date_trunc('month', o_orderdate)::DATE AS mo,
       |    o_orderdate::DATE AS day,
       |    ${dsumSql("o_totalprice")} AS rev
       |  FROM orders GROUP BY 1, 2)
       |SELECT day,
       |  CAST(SUM(CAST(rev AS DECIMAL(30,2))) OVER w AS DOUBLE) AS mv_sum,
       |  round(CAST(SUM(CAST(rev AS DECIMAL(30,2))) OVER w AS DOUBLE)
       |    / COUNT(*) OVER w, 6) AS mv_avg
       |FROM daily
       |WINDOW w AS (PARTITION BY mo ORDER BY day
       |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
       |ORDER BY day""".stripMargin

  /** q41: FULL OUTER join — completes the explicit join surface (inner
    * q03/q07, semi q04, anti q05, null-safe q33, range s06, as-of s05):
    * per-customer order stats where either side may be missing (customers
    * with no orders / order rows whose customer filter dropped them).
    * Coalesced indicator columns make the null sides first-class. */
  def q41OuterJoin(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_name"))
    val o = orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), lsum(col("o_totalprice")).as("spent"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name").isNotNull.as("rich"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spent"), lit(0.0)).as("spent"))
      .sortedWide("custkey")
  }

  val q41Oracle: String =
    s"""WITH c AS (SELECT c_custkey, c_name FROM customer
       |           WHERE c_acctbal > 9000),
       |o AS (SELECT o_custkey, COUNT(*) AS n_orders,
       |        ${dsumSql("o_totalprice")} AS spent
       |      FROM orders GROUP BY o_custkey)
       |SELECT coalesce(c_custkey, o_custkey) AS custkey,
       |  c_name IS NOT NULL AS rich,
       |  coalesce(n_orders, 0) AS n_orders,
       |  coalesce(spent, 0.0) AS spent
       |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
       |ORDER BY custkey""".stripMargin

  /** q42: CROSS join — the deliberate cartesian (region × nation grid with
    * a membership flag). Fine when one side is tiny and broadcast; the
    * plan is BroadcastNestedLoopJoin, never a shuffled cartesian. */
  def q42CrossJoin(s: SparkSession, dir: String): DataFrame =
    region(s, dir).select(col("r_regionkey"), col("r_name"))
      .crossJoin(nation(s, dir).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey")))
      .select(col("r_name"), col("n_name"),
        (col("n_regionkey") === col("r_regionkey")).as("belongs"))
      .sortedSmall("r_name", "n_name")

  val q42Oracle: String =
    """SELECT r_name, n_name, n_regionkey = r_regionkey AS belongs
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** q43: UNPIVOT — the dual of q18's pivot: quarterly revenue computed
    * wide (pivot on quarter), then melted back to long form through the
    * dedicated `Dataset.unpivot` (Spark's UNPIVOT/MELT relational
    * operator, not a hand-rolled union). Decimal sums keep the melted
    * values engine-exact. */
  def q43Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = orders(s, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .pivot(quarter(col("o_orderdate")), Seq(1, 2, 3, 4))
      .agg(lsum(col("o_totalprice")))
      .withColumnRenamed("1", "q1").withColumnRenamed("2", "q2")
      .withColumnRenamed("3", "q3").withColumnRenamed("4", "q4")
    wide.unpivot(
        Array(col("yr")),
        Array(col("q1"), col("q2"), col("q3"), col("q4")),
        "quarter", "revenue")
      .filter(col("revenue").isNotNull)
      .sortedSmall("yr", "quarter")
  }

  val q43Oracle: String = {
    def c(q: Int) =
      dsumSql(s"CASE WHEN quarter(o_orderdate) = $q THEN o_totalprice END")
    s"""WITH wide AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |    ${c(1)} AS q1, ${c(2)} AS q2, ${c(3)} AS q3, ${c(4)} AS q4
       |  FROM orders GROUP BY 1),
       |long AS (
       |  SELECT yr, 'q1' AS quarter, q1 AS revenue FROM wide UNION ALL
       |  SELECT yr, 'q2', q2 FROM wide UNION ALL
       |  SELECT yr, 'q3', q3 FROM wide UNION ALL
       |  SELECT yr, 'q4', q4 FROM wide)
       |SELECT yr, quarter, revenue FROM long WHERE revenue IS NOT NULL
       |ORDER BY yr, quarter""".stripMargin
  }

  /** q44: value-based (RANGE) window frames — trailing 3-DAY revenue
    * window keyed on the actual date value, so calendar gaps shrink the
    * frame (vs q40's ROWS frame, which counts physical rows). Partitioned
    * by month: a global ordered window would serialize on one partition
    * at scale. Decimal window sums for cross-engine exactness. */
  def q44RangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mo"),
        col("o_orderdate").cast("date").as("day"))
      .agg(lsum(col("o_totalprice")).as("rev"))
      .withColumn("dayn", datediff(col("day"), lit("1970-01-01")))
    val w = Window.partitionBy(col("mo")).orderBy(col("dayn"))
      .rangeBetween(-3, Window.currentRow)
    val dec = org.apache.spark.sql.types.DecimalType(30, 2)
    daily
      .select(col("day"),
        sum(col("rev").cast(dec)).over(w).cast("double").as("rev_3d"),
        count(lit(1)).over(w).cast("long").as("days_in_frame"))
      .sortedWide("day")
  }

  val q44Oracle: String =
    s"""WITH daily AS (
       |  SELECT date_trunc('month', o_orderdate)::DATE AS mo,
       |    o_orderdate::DATE AS day,
       |    ${dsumSql("o_totalprice")} AS rev,
       |    o_orderdate::DATE - DATE '1970-01-01' AS dayn
       |  FROM orders GROUP BY 1, 2, 4)
       |SELECT day,
       |  CAST(SUM(CAST(rev AS DECIMAL(30,2))) OVER w AS DOUBLE) AS rev_3d,
       |  COUNT(*) OVER w AS days_in_frame
       |FROM daily
       |WINDOW w AS (PARTITION BY mo ORDER BY dayn
       |             RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)
       |ORDER BY day""".stripMargin

  /** q45: correlated EXISTS / NOT EXISTS through the SQL front-end —
    * Catalyst decorrelates both into semi/anti joins in ONE pass over
    * customer (q21 covers the scalar-subquery flavor; this is the
    * predicate-subquery flavor). Suppliers' nations with at least one
    * customer but no high-balance one. */
  def q45ExistsSubquery(s: SparkSession, dir: String): DataFrame =
    Sql.run(s, dir,
      """SELECT n.n_name, n.n_nationkey
        |FROM nation n
        |WHERE EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM customer c2
        |    WHERE c2.c_nationkey = n.n_nationkey AND c2.c_acctbal > 9990)
        |ORDER BY n.n_nationkey""".stripMargin)

  val q45Oracle: String =
    """SELECT n.n_name, n.n_nationkey
      |FROM nation n
      |WHERE EXISTS (
      |    SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM customer c2
      |    WHERE c2.c_nationkey = n.n_nationkey AND c2.c_acctbal > 9990)
      |ORDER BY n.n_nationkey""".stripMargin

  /** q46: correlated LATERAL subquery — per-nation top-2 customers
    * expressed as a lateral derived table (Catalyst decorrelates the
    * ORDER BY + LIMIT subquery into a partitioned window under the
    * hood). The planner feature is the point: q09/q32 do grouped top-k
    * via explicit windows; this is the same result through the SQL
    * construct users port from other warehouses. */
  def q46LateralTopk(s: SparkSession, dir: String): DataFrame =
    Sql.run(s, dir,
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)

  val q46Oracle: String =
    """SELECT n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin

  /** q47: exact MEDIAN aggregate (Spark's interpolating exact percentile
    * vs DuckDB's quantile_cont — same linear-interpolation definition;
    * q24/q38 cover the multi-quantile and sketch variants). Rounded at 4
    * to absorb the one-ulp interpolation arithmetic difference. */
  def q47Median(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(median(col("l_quantity")), 4).as("med_qty"),
        round(median(col("l_extendedprice")), 4).as("med_price"),
        count(lit(1)).as("n"))
      .sortedSmall("l_returnflag")

  val q47Oracle: String =
    """SELECT l_returnflag,
      |  round(median(l_quantity), 4) AS med_qty,
      |  round(median(l_extendedprice), 4) AS med_price,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q48: SCD2 (slowly-changing-dimension type 2) interval build — each
    * customer's order history becomes half-open validity intervals:
    * valid_from = this order's date, valid_to = the NEXT order's date
    * (NULL ⇒ current version). The standard warehouse dimension-versioning
    * pattern, expressed as one customer-partitioned window (lead +
    * row_number share the single sort), one shuffle total. Ties on
    * orderdate break by orderkey, so versioning is deterministic on both
    * engines. */
  def q48Scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from", col("o_orderdate"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_custkey"), col("o_orderkey"), col("version"),
        col("o_orderpriority"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .sortedWide("o_custkey", "version")
  }

  val q48Oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
      |  o_orderpriority,
      |  o_orderdate AS valid_from,
      |  lead(o_orderdate) OVER w AS valid_to,
      |  lead(o_orderdate) OVER w IS NULL AS is_current
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, version""".stripMargin

  /** q49: incremental aggregate-view maintenance — the materialized-view
    * update path: a BASE aggregate (80% of orders, by key hash) merged
    * with the partial aggregate of an insert-only DELTA (the other 20%)
    * through the aggregates' own merge algebra (sum+sum, count+count,
    * min(min), max(max)) — the full fact table is never re-scanned to
    * refresh the view. The ORACLE is the direct aggregate over the whole
    * table: hash-equality proves the incremental path computes exactly
    * the recompute, which is the entire contract of view maintenance.
    * Decimal-exact sums keep the merge order-independent. */
  def q49ViewMaintenance(s: SparkSession, dir: String): DataFrame = {
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
            .as("s"),
          min(col("o_orderdate")).as("mn"),
          max(col("o_orderdate")).as("mx"))
    val o = orders(s, dir)
    val base = partial(o.filter(col("o_orderkey") % 10 < 8))
    val delta = partial(o.filter(col("o_orderkey") % 10 >= 8))
    base.unionByName(delta)
      .groupBy(col("o_custkey"))
      .agg(sum(col("n")).as("n_orders"),
        sum(col("s")).cast("double").as("total_spend"),
        min(col("mn")).as("first_order"),
        max(col("mx")).as("last_order"))
      .sortedWide("o_custkey")
  }

  val q49Oracle: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
      |    AS total_spend,
      |  MIN(o_orderdate) AS first_order,
      |  MAX(o_orderdate) AS last_order
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q58: time-travel version diff — "what did commit N actually do",
    * answered from RETAINED SNAPSHOTS instead of replaying the transform
    * (the audit query every versioned lakehouse ships). The gate runs a
    * real three-commit history through the store (load → reprice open
    * orders → surcharge every fifth order) and diffs the last two
    * retained versions with [[graft.psn.TableStore.diffVersions]]: one
    * full outer join on the key, each side's non-key columns compared as
    * one null-safe struct, unchanged rows dropped. The oracle recomputes
    * the second merge's effect declaratively from `orders`, so the hash
    * gate proves commit → retention → snapshot read → diff equals the
    * transform it audits.
    *
    * Scale shape: two immutable snapshot scans + one key shuffle,
    * regardless of schema width (the struct compare) — and the diff
    * OUTPUT is bounded by what the commit touched, not the table. */
  def q58TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_tt_wh").toString
    val store = new graft.psn.TableStore(s, wh)
    store.overwrite("orders_v", orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    store.mergeWith("orders_v")(cur => cur.withColumn("o_totalprice",
      when(col("o_orderstatus") === "O", col("o_totalprice") * 1.1)
        .otherwise(col("o_totalprice"))))
    store.mergeWith("orders_v")(cur => cur.withColumn("o_totalprice",
      when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 5.0)
        .otherwise(col("o_totalprice"))))
    val vs = store.versions("orders_v")
    store.diffVersions("orders_v", vs(vs.length - 2), vs.last, "o_orderkey")
      .select(col("o_orderkey"), col("change"),
        col("before.o_totalprice").as("price_before"),
        col("after.o_totalprice").as("price_after"))
      .sortedWide("o_orderkey")
  }

  val q58Oracle: String =
    """SELECT o_orderkey, 'changed' AS change,
      |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
      |       ELSE o_totalprice END AS price_before,
      |  (CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
      |        ELSE o_totalprice END) + 5.0 AS price_after
      |FROM orders WHERE o_orderkey % 5 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** q65: compaction (OPTIMIZE) end-to-end — seed + three appends
    * fragment the table (each write lands one file per task), the
    * store's bin-packing compactor ([[graft.psn.TableStore.compact]]:
    * first-fit-decreasing by on-disk size, inherits already-big files
    * by name, CAS-commits a new version) consolidates it, and the gate
    * reads the compacted table back: the hash proves compaction changes
    * LAYOUT and never content — the property CompactSpec asserts on
    * synthetic data, here gated against the oracle on the real corpus.
    * The in-query requires make the layout claim part of the gate: if
    * the appends stop fragmenting or the compactor stops consolidating,
    * the query fails loudly instead of gating vacuously.
    *
    * Scale shape: I/O is O(small files), never O(table); history keeps
    * the fragmented versions readable (q58's retention). */
  def q65Compaction(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_opt_wh").toString
    val store = new graft.psn.TableStore(s, wh)
    def slice(i: Int) = orders(s, dir)
      .filter(col("o_orderkey") % 4 === i)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    store.overwrite("orders_o", slice(0))
    (1 to 3).foreach(i => store.append("orders_o", slice(i)))
    val before = store.fileCount("orders_o")
    require(store.compact("orders_o"),
      "compaction lost its CAS race on a fresh private store")
    val after = store.fileCount("orders_o")
    // 4 writes land at least one file each; compaction must shrink that
    require(before >= 4 && after < before,
      s"compaction inert: $before files before, $after after")
    store.read("orders_o")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .sortedWide("o_orderkey")
  }

  val q65Oracle: String =
    """SELECT o_orderkey, o_totalprice, o_orderstatus
      |FROM orders ORDER BY o_orderkey""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q26_cube", q26Cube, Some(q26Oracle)),
    Q("q27_intersect", q27Intersect, Some(q27Oracle)),
    Q("q28_moments", q28Moments, Some(q28Oracle)),
    Q("q29_explode_words", q29ExplodeWords, Some(q29Oracle)),
    Q("q30_array_agg", q30ArrayAgg, Some(q30Oracle)),
    Q("q31_argminmax", q31ArgMinMax, Some(q31Oracle)),
    Q("q32_rank_suite", q32RankSuite, Some(q32Oracle)),
    Q("q33_nullsafe_join", q33NullSafeJoin, Some(q33Oracle)),
    Q("q34_histogram", q34Histogram, Some(q34Oracle)),
    Q("q35_calendar_ops", q35CalendarOps, Some(q35Oracle)),
    Q("q36_outlier_revenue", q36OutlierRevenue, Some(q36Sql)),
    Q("q37_salted_agg", q37SaltedAgg, Some(q37Oracle)),
    Q("q38_approx_quantiles", q38ApproxQuantiles, Some(q38Oracle)),
    Q("q39_grouping_sets", q39GroupingSets, Some(q39Oracle)),
    Q("q40_moving_avg", q40MovingAvg, Some(q40Oracle)),
    Q("q41_outer_join", q41OuterJoin, Some(q41Oracle)),
    Q("q42_cross_join", q42CrossJoin, Some(q42Oracle)),
    Q("q43_unpivot", q43Unpivot, Some(q43Oracle)),
    Q("q44_range_frame", q44RangeFrame, Some(q44Oracle)),
    Q("q45_exists_subquery", q45ExistsSubquery, Some(q45Oracle)),
    Q("q46_lateral_topk", q46LateralTopk, Some(q46Oracle)),
    Q("q47_median", q47Median, Some(q47Oracle)),
    Q("q48_scd2", q48Scd2, Some(q48Oracle)),
    Q("q49_view_maintenance", q49ViewMaintenance, Some(q49Oracle)),
    Q("q58_time_travel", q58TimeTravel, Some(q58Oracle)),
    Q("q65_compaction", q65Compaction, Some(q65Oracle)))
}
