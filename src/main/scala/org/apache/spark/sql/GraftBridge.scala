package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters, needed to
  * expose custom Catalyst expressions (graft.functions.*) through the public
  * Column API on Spark 4 (where `new Column(expr)` no longer exists). This
  * is the standard technique used by Spark extension libraries. Likewise
  * `asNullable`: the schema a file source reads back for a frame it wrote. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}
