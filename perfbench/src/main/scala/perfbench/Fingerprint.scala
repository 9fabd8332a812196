package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent result fingerprint: the row count plus the wrapping
  * sum of a 64-bit hash per row. A row is canonicalized as
  * `tools/check.py` compares it: columns sorted by name, each value in a
  * type-tagged form that is exact (doubles by their IEEE bits, which is
  * what equality of Python `repr` amounts to). `oracle.py` computes the
  * same fingerprint from DuckDB rows.
  */
object Fingerprint {

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    var sum = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => canon(r.get(i))).mkString("\u001f"))
    }
    f"${rows.length}:$sum%016x"
  }

  private def rowHash(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  private def micros(epochSecond: Long, nanos: Int): Long =
    epochSecond * 1000000L + nanos / 1000

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => "d" + x.toPlainString
    case x: BigDecimal => "d" + x.bigDecimal.toPlainString
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => "t" + micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", "\u001e", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", "\u001e", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u001e", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "fNaN" else f"f${java.lang.Double.doubleToLongBits(d)}%016x"
}
