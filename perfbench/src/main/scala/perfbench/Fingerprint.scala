package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result, computed identically
  * by `oracle.py` over the DuckDB oracle's rows.
  *
  * Columns are taken in name order (as `tools/check_oracle.py` sorts
  * them). Each row becomes a canonical byte string; the fingerprint is
  * the column names, the row count and the sum (mod 2^64) of the first
  * eight bytes of each row's SHA-256 — a multiset hash, so row order
  * does not matter and no sort is needed.
  *
  * Canonical values (tag + payload, self-delimiting):
  * null `n`; boolean `b1`/`b0`; any integer `i<decimal>`; float or
  * double `f<16 hex digits of the IEEE-754 double bits>` with every NaN
  * as `fnan` and both zeros as `f0`; decimal `d<plain string>`; string
  * `s<utf-8 byte length>:<text>`; timestamp `t<µs since epoch, UTC>`;
  * date `D<days since epoch>`; binary `x<hex>`; array `[a,b]`; struct
  * `{a,b}`; map `m{k=v,...}` with entries sorted by their bytes.
  * Integers of any width compare equal and an integer never equals a
  * float — the same equalities `check_oracle.py`'s repr comparison has.
  */
object Fingerprint {

  def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('n')
    case b: Boolean => sb.append(if (b) "b1" else "b0")
    case x: Byte => sb.append('i').append(x.toLong)
    case x: Short => sb.append('i').append(x.toLong)
    case x: Int => sb.append('i').append(x.toLong)
    case x: Long => sb.append('i').append(x)
    case x: java.math.BigInteger => sb.append('i').append(x.toString)
    case x: Float => canonDouble(x.toDouble, sb)
    case x: Double => canonDouble(x, sb)
    case x: java.math.BigDecimal => sb.append('d').append(x.toPlainString)
    case x: scala.math.BigDecimal => sb.append('d').append(x.bigDecimal.toPlainString)
    case s: String =>
      sb.append('s').append(s.getBytes(UTF_8).length).append(':').append(s)
    case t: java.sql.Timestamp =>
      sb.append('t').append(
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      sb.append('t').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC), sb)
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append('D').append(d.toEpochDay)
    case b: Array[Byte] =>
      sb.append('x'); b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case r: Row => seq(r.toSeq, '{', '}', sb)
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        canon(k, e); e.append('='); canon(x, e); e.toString.getBytes(UTF_8)
      }.sortWith(lessBytes)
      sb.append("m{")
      entries.zipWithIndex.foreach { case (e, i) =>
        if (i > 0) sb.append(','); sb.append(new String(e, UTF_8))
      }
      sb.append('}')
    case xs: scala.collection.Seq[_] => seq(xs, '[', ']', sb)
    case xs: Array[_] => seq(xs.toSeq, '[', ']', sb)
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def canonDouble(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("fnan")
    else if (d == 0.0) sb.append("f0")
    else sb.append('f').append(f"${java.lang.Double.doubleToRawLongBits(d)}%016x")

  private def seq(xs: Iterable[Any], open: Char, close: Char,
      sb: java.lang.StringBuilder): Unit = {
    sb.append(open)
    var first = true
    xs.foreach { x => if (!first) sb.append(','); first = false; canon(x, sb) }
    sb.append(close)
  }

  private def lessBytes(a: Array[Byte], b: Array[Byte]): Boolean =
    java.util.Arrays.compareUnsigned(a, b) < 0

  /** Fingerprint of collected rows whose columns are named `columns`. */
  def of(columns: Seq[String], rows: Iterator[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var n = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      order.foreach { i => if (sb.length > 0) sb.append('|'); canon(r.get(i), sb) }
      val h = md.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    val names = md.digest(order.map(columns(_)).mkString(",").getBytes(UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    f"$names:$n:$sum%016x"
  }
}
