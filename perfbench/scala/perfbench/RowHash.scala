package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result, computed the same way
  * as `oracle.py` computes it over DuckDB's answer: columns sorted by
  * name, each cell rendered canonically (numbers rounded to 9
  * significant digits, half-even, trailing zeros dropped), each row
  * hashed with SHA-256, the row hashes summed mod 2^64. The final
  * digest covers the column names, the row count and that sum.
  */
object RowHash {
  private val Sig = new MathContext(9, RoundingMode.HALF_EVEN)

  private def num(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.round(Sig).stripTrailingZeros().toPlainString

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else num(new JBigDecimal(d))
    case f: Float => cell(f.toDouble)
    case b: JBigDecimal => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => ts(t.toLocalDateTime)
    case t: java.time.Instant => ts(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => ts(t)
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
    case other => other.toString
  }

  /** `yyyy-MM-dd HH:mm:ss[.ffffff]`, the form Python's datetime prints. */
  private def ts(t: java.time.LocalDateTime): String = {
    val base = t.withNano(0).toString.replace('T', ' ')
    val s = if (t.getSecond == 0 && base.length == 16) base + ":00" else base
    if (t.getNano == 0) s else f"$s.${t.getNano / 1000}%06d"
  }

  final case class Digest(hash: String, rows: Long)

  def of(df: DataFrame): Digest = {
    val cols = df.columns.zipWithIndex.sortBy(_._1)
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val line = cols.map { case (_, i) => cell(r.get(i)) }.mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(
        MessageDigest.getInstance("SHA-256").digest(line.getBytes("UTF-8"))).getLong
      n += 1
    }
    val head = cols.map(_._1).mkString("\u001f") + "|" + n + "|" + java.lang.Long.toUnsignedString(sum)
    val h = MessageDigest.getInstance("SHA-256").digest(head.getBytes("UTF-8"))
    Digest(h.take(8).map(b => f"${b & 0xff}%02x").mkString, n)
  }
}
