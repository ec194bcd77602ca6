package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/**
 * Canonical form of a query result, computed identically by `expected.py`
 * on DuckDB's result: columns in name order; each row one compact JSON array
 * (ASCII-escaped like Python's `json.dumps`); rows sorted; the digest is the
 * SHA-256 of the sorted rows joined by newlines. Values follow
 * `tools/oracle_compare.py`: floats rounded to 12 significant digits, bytes
 * hexed, everything else by value.
 */
object Canon {

  final case class Result(cols: Seq[String], rows: Long, digest: String)

  private val twelve = new MathContext(12, RoundingMode.HALF_EVEN)
  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def of(cols: Seq[String], rows: Array[Row]): Result = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("[", ",", "]"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = MessageDigest.getInstance("SHA-256")
    lines.iterator.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(l.getBytes("US-ASCII"))
    }
    Result(cols.sorted, rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.round(twelve).stripTrailingZeros.toPlainString

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => str(b.toString)
    case d: Double =>
      if (d.isNaN) str("NaN")
      else if (d.isInfinite) str(if (d > 0) "Infinity" else "-Infinity")
      else str(number(new JBigDecimal(d)))
    case f: Float => value(f.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => str(n.toString)
    case b: java.math.BigInteger => str(b.toString)
    case d: JBigDecimal =>
      str(if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case s: String => str(s)
    case bytes: Array[Byte] => str(bytes.map(b => f"$b%02x").mkString)
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case t: java.sql.Timestamp => str(tsFormat.format(t.toLocalDateTime))
    case t: java.time.LocalDateTime => str(tsFormat.format(t))
    case t: java.time.Instant =>
      str(tsFormat.format(t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime))
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (value(k), value(x)) }.sortBy(_._1)
        .map { case (k, x) => s"[$k,$x]" }.mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** A JSON string literal escaped like Python's `json.dumps(ensure_ascii=True)`. */
  def str(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' || c > '~' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
