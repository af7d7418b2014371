package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result, with the comparison rules of
  * `scripts/check.py`: columns are taken in name order, rows are compared as
  * a sorted multiset, floating-point values compare exactly except that every
  * NaN is one value and -0.0 equals 0.0, and decimals compare by value.
  */
object Digest {

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case s: String => "s" + s.length + ":" + s
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d)

  /** Hex SHA-256 over the sorted column names and the sorted canonical rows. */
  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      md.update('\n'.toByte)
      md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().take(16).map(x => f"${x & 0xff}%02x").mkString
  }
}
