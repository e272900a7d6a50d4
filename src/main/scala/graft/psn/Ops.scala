package graft.psn

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's relational pipeline as pure stages (SURVEY §7.1 module
  * 4). Null semantics: a null key matches nothing, as pandas isin behaves
  * (SURVEY §7.4): semi/anti joins, never NOT IN; [[classify]] never looks
  * a null id up, and [[mergeKeyed]]'s IN over non-null update ids leaves a
  * null target id unmatched.
  *
  * Scale notes: every stage keys on `id` — at 100 TB the stored game table
  * is bucketed on id so the joins co-locate without a shuffle. At one
  * user's scale the day needs no join at all: [[classify]] runs on the
  * driver over ONE collect of both of its sides (where a broadcast hash
  * join would build `stored`'s hash anyway, plus a 16 MB hash page pinned
  * until the ContextCleaner runs), and [[mergeKeyed]] is a projection
  * keyed by the day's few update ids. [[mergeUpdates]] keeps the join for
  * an update set that is a distributed frame (Streams' micro-batch sink).
  */
object Ops {

  /** New-game detection: left-anti join on id (J2/P5; main.py:176). */
  def newGames(current: DataFrame, stored: DataFrame): DataFrame =
    current.join(stored.select(col("id")), Seq("id"), "left_anti")

  /** Tags each row of [[sides]]: true on a `stored` row. */
  val FromStored = "from_stored"

  /** Both inputs of [[classify]] as one relation, read with ONE collect:
    * `current` unioned by name with `stored`'s three columns (the others
    * null on a stored row), each row tagged by side. */
  def sides(current: DataFrame, stored: DataFrame): DataFrame =
    current.withColumn(FromStored, lit(false)).unionByName(
      stored.select(col("id"), col("play_count"), col("play_duration"),
        lit(true).as(FromStored)), allowMissingColumns = true)

  /** The schema of [[classify]]'s rows, from the schema of [[sides]]:
    * current's columns, then `is_new` and the two diffs. */
  def classified(sides: StructType): StructType =
    StructType(sides.filterNot(_.name == FromStored) ++ Seq(
      StructField("is_new", BooleanType, nullable = false),
      StructField("play_count_diff", sides("play_count").dataType),
      StructField("play_duration_diff", sides("play_duration").dataType)))

  /** Snapshot classification (J1+J2+E1; main.py:176,193-207) on the
    * driver, over the collected rows of [[sides]] (`schema` is its
    * schema): `current` LEFT JOIN `stored` on id. One row per current game
    * and matching stored row, with `is_new` (no stored row has its id —
    * the anti-join side; a null id matches nothing) and the
    * play_count/play_duration diffs against the stored row (null when new),
    * under Spark's null propagation and ANSI overflow. New games, positive
    * deltas (P3) and the rows to upsert (J3) are filters of these rows. */
  def classify(schema: StructType, sides: Seq[Row]): Seq[Row] = {
    val out = classified(schema)
    val tag = schema.fieldIndex(FromStored)
    val cols = schema.indices.filter(_ != tag)
    val Seq(id, count, dur) = Seq("id", "play_count", "play_duration").map(schema.fieldIndex)
    val Seq(countDiff, durDiff) = Seq(count, dur).map(i => minus(schema(i).dataType))
    val (stored, current) = sides.partition(_.getBoolean(tag))
    val byId = stored.filterNot(_.isNullAt(id)).groupBy(_.get(id))
    def row(r: Row, tail: Any*): Row =
      new GenericRowWithSchema((cols.map(r.get) ++ tail).toArray, out)
    current.flatMap { r =>
      Option(r.get(id)).flatMap(byId.get) match {
        case None => Seq(row(r, true, null, null))
        case Some(old) => old.map(o => row(r, false,
          countDiff(r.get(count), o.get(count)), durDiff(r.get(dur), o.get(dur))))
      }
    }
  }

  /** Spark's `a - b` on values of type `t`: null when either side is null,
    * and an integral overflow throws (ANSI mode). */
  private def minus(t: DataType): (Any, Any) => Any = {
    val f: (Any, Any) => Any = t match {
      case LongType => (a, b) => Math.subtractExact(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case DoubleType => (a, b) => a.asInstanceOf[Double] - b.asInstanceOf[Double]
      case other => throw new IllegalArgumentException(s"classify cannot subtract $other")
    }
    (a, b) => if (a == null || b == null) null else f(a, b)
  }

  /** The `game` columns an upsert keeps from the target row, and the three
    * it takes from the update row (main.py:276-279). */
  private val Kept = Seq("id", "title_id", "title_name", "image", "category",
    "first_played_date_time")
  private val Updated = Seq("last_played_date_time", "play_count", "play_duration")

  /** K4 over `target`: an updated column is `updated(c)` where that is
    * non-null, else the target's value. Both K4 forms below go through it. */
  private def upsert(target: DataFrame, updated: String => Column): DataFrame =
    target.select(Kept.map(col) ++ Updated.map(c => coalesce(updated(c), col(c)).as(c)): _*)

  /** Merge-upsert plan (K4; main.py:256-287 UPDATE…FROM): target rows take
    * the update's last_played/play_count/play_duration where ids match — a
    * left join, so `updates` may be any (distributed) frame. */
  def mergeUpdates(target: DataFrame, updates: DataFrame): DataFrame =
    upsert(target.join(updates.select(col("id") +: Updated.map(c => col(c).as(s"u_$c")): _*),
      Seq("id"), "left"), c => col(s"u_$c"))

  /** [[mergeUpdates]] for update rows held on the driver, as a projection
    * keyed by id: a target row whose id is in the update set (a hashed
    * `InSet` past a handful of ids) takes its columns from ONE literal map
    * of the updates, which only those rows evaluate — O(rows + updates²)
    * and no join. The map is one `Literal`, so planning does not grow with
    * the updates as a `functions.map` of them would. Update ids are a key
    * (the rows carry their schema): a repeated id fails where the join
    * would repeat the target row; an id the target lacks is ignored, as
    * the join ignores it. */
  def mergeKeyed(target: DataFrame, updates: Seq[Row]): DataFrame =
    if (updates.isEmpty) upsert(target, _ => lit(null))
    else {
      val ids = updates.map(_.getAs[Any]("id"))
      require(ids.distinct.size == ids.size, "mergeKeyed: repeated update id")
      val schema = updates.head.schema
      val byId = GraftBridge.column(Literal.create(
        updates.map(r => r.getAs[Any]("id") -> Row.fromSeq(Updated.map(r.getAs[Any]))).toMap,
        MapType(schema("id").dataType, GraftBridge.asNullable(StructType(Updated.map(schema(_)))))))
      val hit = col("id").isInCollection(ids)
      upsert(target, c => when(hit, byId(col("id")).getField(c)))
    }
}
