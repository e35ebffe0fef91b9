package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/**
 * Order-independent hash of a result table, computed identically by
 * `record_oracle.py` over the DuckDB oracle's rows:
 *  - columns in name order, rows rendered as text and sorted by UTF-8 bytes;
 *  - a number that is integral and below 2^53 in magnitude renders as an
 *    integer (so an oracle BIGINT matches a Spark DOUBLE of the same value,
 *    as the oracle comparison allows), any other double as its IEEE-754
 *    bits in hex, NaN as `NaN`;
 *  - SHA-256 over the header line and the sorted rows.
 */
object Canon {

  def hashRows(cols: IndexedSeq[String], rows: IndexedSeq[Row]): (String, Long) = {
    val lines = rows.map(r => (0 until r.length).map(i => render(r.get(i))).mkString("\u0001"))
      .map(_.getBytes(UTF_8)).sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.mkString("\u0001").getBytes(UTF_8))
    lines.foreach { l => md.update("\n".getBytes(UTF_8)); md.update(l) }
    (md.digest().map(b => f"${b & 0xff}%02x").mkString, rows.size.toLong)
  }

  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (!d.isInfinite && d == math.rint(d) && math.abs(d) < 9.007199254740992e15) d.toLong.toString
    else f"${java.lang.Double.doubleToLongBits(d)}%016x"

  def render(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => "S" + s
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => "S" + other.toString
  }
}
