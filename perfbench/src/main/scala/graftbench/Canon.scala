package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent result checksum, defined identically in
  * `perfbench/oracle.py` so results of the engine and of the DuckDB oracle
  * can be compared without shipping rows between the two.
  *
  * A row is rendered as its values in column-name order; each value gets a
  * type-neutral form (integral numbers as integers whatever their type,
  * other numbers as the bits of their double value, structs with fields in
  * name order). The checksum is `<rows>:<hex of the sum mod 2^64 of the
  * first 8 bytes of each row's SHA-1>`. */
object Canon {
  private val TwoTo53 = 9007199254740992.0

  private def dbl(d: Double): String =
    if (d.isNaN) "dNaN"
    else if (d == Math.rint(d) && Math.abs(d) < TwoTo53) "n" + d.toLong
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def dec(b: java.math.BigDecimal): String =
    if (b.signum == 0 || b.stripTrailingZeros.scale <= 0) "n" + b.toBigInteger
    else dbl(b.doubleValue)

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => "n" + x
    case x: Short => "n" + x
    case x: Int => "n" + x
    case x: Long => "n" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => dec(x)
    case x: scala.math.BigDecimal => dec(x.bigDecimal)
    case s: String => "s" + s
    case b: Array[Byte] => "b" + b.map(x => f"${x & 0xff}%02x").mkString
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq).getOrElse((0 until r.length).map(_.toString))
      names.zipWithIndex.sortBy(_._1).map { case (n, i) => n + "=" + value(r.get(i)) }
        .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  private def micros(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  def row(r: Row, order: Seq[Int]): String = order.map(i => value(r.get(i))).mkString("|")

  def checksum(rows: Array[Row], columns: Seq[String]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-1")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(row(r, order).getBytes(UTF_8))
      var x = 0L
      var i = 0
      while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
      sum += x
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }
}
