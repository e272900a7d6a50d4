package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Column ↔ Expression converters, needed to
  * expose custom Catalyst expressions (graft.functions.*) through the public
  * Column API on Spark 4 (where `new Column(expr)` no longer exists). This
  * is the standard technique used by Spark extension libraries. Likewise
  * `asNullable`: the schema a file source reads back for a frame it wrote,
  * and `ofRows`: the DataFrame of a parsed (unresolved) logical plan, which
  * `spark.sql` builds for its own parse. `parquetFiles` plans a parquet
  * read of files the caller has already listed. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def asNullable(s: types.StructType): types.StructType = s.asNullable
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** A parquet relation over exactly the files of `byBase` under
    * `schema`, each group's hive partition values discovered below its own
    * base directory (one `basePath` above them all would see `b1/k=1` and
    * `b2/k=2` as conflicting layouts). The file index takes the statuses
    * from a cache the caller's listing fills, so planning launches no
    * listing job whatever the file count. */
  def parquetFiles(s: SparkSession, schema: types.StructType,
      byBase: Seq[(String, Seq[FileStatus])]): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val session = s.asInstanceOf[classic.SparkSession]
    val files = byBase.flatMap(_._2)
    val known = files.map(f => f.getPath -> Array(f)).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = known.get(p)
      override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    def index(fs: Seq[FileStatus], options: Map[String, String],
        spec: Option[PartitionSpec]) = new InMemoryFileIndex(session,
      fs.map(_.getPath), options, Some(schema), listed, spec)
    val specs = byBase.map { case (base, fs) =>
      index(fs, Map("basePath" -> base), None).partitionSpec()
    }
    val layouts = specs.map(_.partitionColumns).distinct
    require(layouts.size <= 1,
      s"conflicting partition layouts: ${layouts.map(_.simpleString).mkString(", ")}")
    val spec = PartitionSpec(layouts.headOption.getOrElse(new types.StructType),
      specs.flatMap(_.partitions))
    val parts = spec.partitionColumns
    val resolver = session.sessionState.conf.resolver
    val data = types.StructType(schema.filterNot(f =>
      parts.exists(p => resolver(p.name, f.name))))
    session.baseRelationToDataFrame(HadoopFsRelation(
      index(files, Map.empty, Some(spec)), parts, data.asNullable, None,
      new parquet.ParquetFileFormat, Map.empty)(session))
  }
}
