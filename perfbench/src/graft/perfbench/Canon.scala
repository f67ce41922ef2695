package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Content hash of a query result, independent of row order and column
  * order: columns are taken in name order (the oracle compare's rule) and
  * the rendered rows are sorted before hashing. Values render exactly —
  * doubles by their shortest round-trip form, timestamps as UTC instants —
  * so a one-ulp change is a different result.
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "␀"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, sha-256 hex) of `rows` under `schema`. */
  def hash(schema: StructType, rows: Array[Row]): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (rows.length.toLong, md.digest().map(x => f"${x & 0xff}%02x").mkString)
  }
}
