package graftbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}

/** Engine-neutral rendering of a query result, so a result collected
  * from Spark can be compared with one computed by another engine.
  * `perfbench/tools/make_expected.py` implements the same rules for
  * DuckDB results; the two must stay in step.
  *
  *  - columns are taken in name order; the first line lists the names;
  *  - rows are rendered one per line and sorted by their UTF-8 bytes, so
  *    the comparison is of multisets and ignores row order;
  *  - numbers are rendered exactly: integers in decimal, floating point
  *    and decimal values as their exact plain decimal expansion with
  *    trailing zeros removed (so 5, 5.0 and 5.00 agree);
  *  - timestamps as epoch microseconds, dates as epoch days;
  *  - null as `\N`; arrays and structs recursively.
  */
object Canon {

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case s: String => s
    case i @ (_: Byte | _: Short | _: Int | _: Long) => i.toString
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: JBigDecimal => plain(d)
    case d: scala.math.BigDecimal => plain(d.bigDecimal)
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      "t" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no canonical form for ${other.getClass}")
  }

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else if (d == 0.0) "0"
    else plain(new JBigDecimal(d))

  def plain(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  final case class Digest(rows: Long, sha256: String)

  def digest(columns: Seq[String], rows: Seq[Row]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val lines = rows
      .map(r => order.map { case (_, i) => value(r.get(i)) }.mkString("\u0001").getBytes(StandardCharsets.UTF_8))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(_._1).mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l) }
    Digest(rows.size.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  def digest(df: DataFrame): Digest = digest(df.columns.toSeq, df.collect().toSeq)
}
