package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a collected result. Every value is rendered
  * exactly (doubles through their shortest round-trip form, so two doubles
  * share a rendering only when they are bitwise equal up to NaN payloads),
  * rows are sorted, and the sorted rows are hashed. Two repetitions of a
  * query agree on the digest exactly when they return the same multiset of
  * rows. */
object Digest {
  def render(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.iterator.map(render).toArray.sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
