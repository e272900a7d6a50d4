package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent content hash of a query result, computed on the
  * driver from collected rows: columns sorted by name, each value rendered
  * with NULL as `<NULL>` and `\`/`,` escaped, rows joined by `,`, sorted,
  * joined by `|`, then MD5 — the shape of the oracle checker's canonical
  * form, rendered by the JVM instead of DuckDB. */
object Canon {

  def render(v: Any): String = v match {
    case null => "<NULL>"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("{", ";", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ";", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ";", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace(",", "\\,")

  def rowStrings(schema: StructType, rows: Array[Row]): Array[String] = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(i => escape(render(r.get(i)))).mkString(","))
  }

  def hash(schema: StructType, rows: Array[Row]): String =
    md5(rowStrings(schema, rows).sorted.mkString("|"))

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
