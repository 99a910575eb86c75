package graftbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent result fingerprint: `rows:hash`, where hash is the
  * wrapping 64-bit sum of one MD5-derived value per row. A row hashes its
  * canonical text: columns sorted by name (the oracle compare aligns
  * columns by name too), values joined by U+001F. Floating values are
  * widened to double and rounded to 9 significant digits, so sums folded
  * in another order (Spark partitions, DuckDB threads) still agree;
  * integers, strings and timestamps (epoch micros) are exact.
  * `oracle_xcheck.py` implements the same canonical form for DuckDB
  * results; keep the two in step. */
object Fingerprint {

  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  def of(df: DataFrame): String = {
    val names = df.columns
    val order = names.indices.sortBy(names(_)).toArray
    val parts = df.rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var h = 0L
      it.foreach { r =>
        n += 1
        h += rowHash(r, order, md)
      }
      Iterator((n, h))
    }.collect()
    format(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def format(rows: Long, hash: Long): String = f"$rows:$hash%016x"

  def rowHash(r: Row, order: Array[Int], md: MessageDigest): Long = {
    val sb = new StringBuilder
    var first = true
    order.foreach { i =>
      if (!first) sb.append('\u001f')
      first = false
      canon(r.get(i), sb)
    }
    val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else dec(new java.math.BigDecimal(d))

  private def dec(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toString

  private def seq(xs: Iterable[Any], open: Char, close: Char, sb: StringBuilder): Unit = {
    sb.append(open)
    var first = true
    xs.foreach { x =>
      if (!first) sb.append('\u001e')
      first = false
      canon(x, sb)
    }
    sb.append(close)
  }

  def canon(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("\\N")
    case d: Double => sb.append(num(d))
    case f: Float => sb.append(num(f.toDouble))
    case b: java.math.BigDecimal => sb.append(dec(b))
    case b: scala.math.BigDecimal => sb.append(dec(b.bigDecimal))
    case b: Boolean => sb.append(if (b) "true" else "false")
    case s: String => sb.append(s)
    case t: java.sql.Timestamp =>
      sb.append('t').append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      sb.append('t').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      sb.append('t').append(
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => sb.append('d').append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append('d').append(d.toEpochDay)
    case r: Row => seq(r.toSeq, '{', '}', sb)
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new StringBuilder
        canon(k, e)
        e.append('=')
        canon(x, e)
        e.toString
      }.sorted
      sb.append('<').append(entries.mkString("\u001e")).append('>')
    case a: Array[Byte] => a.foreach(b => sb.append(f"${b & 0xff}%02x"))
    case s: scala.collection.Seq[_] => seq(s, '[', ']', sb)
    case other => sb.append(other.toString)
  }
}
