package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Exact, order-independent digest of a result: every row is rendered to a
  * canonical string (columns in name order, values rendered without any
  * rounding), the strings are sorted, and SHA-256 runs over the sorted
  * list. Two results have the same digest exactly when they hold the same
  * multiset of rows, whatever their row order or partitioning. */
object Digest {

  def ofRows(columns: Seq[String], rows: Iterator[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(columns).mkString("\u0001")
    ofStrings(rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")), header)
  }

  def ofFrame(df: DataFrame): String = ofRows(df.columns.toSeq, df.collect().iterator)

  /** Digest of a multiset of already-rendered rows. */
  def ofStrings(rows: Iterator[String], header: String = ""): String = {
    val sorted = rows.toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes(UTF_8))
    md.update(Array[Byte](0))
    sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update(Array[Byte](0)) }
    md.update(sorted.length.toString.getBytes(UTF_8))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Canonical rendering of one value. Doubles keep every bit (hex of the
    * IEEE pattern, with every NaN collapsed and -0.0 kept distinct only by
    * its bits); nested values render recursively. */
  def render(v: Any): String = v match {
    case null => "␀"
    case d: Double =>
      if (d.isNaN) "NaN" else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)) + "d"
    case f: Float =>
      if (f.isNaN) "NaN" else Integer.toHexString(java.lang.Float.floatToIntBits(f)) + "f"
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => o.toString
  }
}
