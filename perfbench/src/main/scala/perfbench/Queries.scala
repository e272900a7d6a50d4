package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Q, Registry}

/** Registry queries as the benchmark sees them: by module, by short key,
  * and run to completion. */
object Queries {

  /** Registry modules in the order `Registry.all` concatenates them. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "ops.Relational" -> graft.ops.Relational.all,
    "ops.Relational2" -> graft.ops.Relational2.all,
    "ops.Bucketed" -> graft.ops.Bucketed.all,
    "ops.Skew" -> graft.ops.Skew.all,
    "ops.Quality" -> graft.ops.Quality.all,
    "ops.Sql" -> graft.ops.Sql.all,
    "ops.Storage" -> graft.ops.Storage.all,
    "ext.TextOps" -> graft.ext.TextOps.all,
    "ext.TextOps2" -> graft.ext.TextOps2.all,
    "ext.TextOps3" -> graft.ext.TextOps3.all,
    "ext.TextOps4" -> graft.ext.TextOps4.all,
    "ext.SimilarityOps" -> graft.ext.SimilarityOps.all,
    "ext.SimilarityOps2" -> graft.ext.SimilarityOps2.all,
    "ext.EventOps" -> graft.ext.EventOps.all,
    "ext.MultimodalOps" -> graft.ext.MultimodalOps.all)

  private lazy val moduleByName: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def moduleOf(name: String): String = moduleByName.getOrElse(name, "other")

  /** The registry query with short key `key` (`q57` for `q57_sql_merge`). */
  def byKey(key: String): Q =
    Registry.all.find(q => shortKey(q.name) == key)
      .getOrElse(throw new IllegalArgumentException(s"no registry query $key"))

  /** The 4-letter-or-so key before the first underscore (`q56`, `t23`). */
  def shortKey(name: String): String = {
    val cut = name.indexOf('_')
    if (cut > 0) name.substring(0, cut) else name
  }

  final case class Result(rows: Long, schema: StructType, collected: Array[Row])

  /** Run one query to completion: build its plan and collect every row
    * (final ordering included). Returns the rows for the output check. */
  def execute(spark: SparkSession, q: Q, dataDir: String): Result = {
    val df = q.run(spark, dataDir)
    val rows = df.collect()
    Result(rows.length, df.schema, rows)
  }
}
