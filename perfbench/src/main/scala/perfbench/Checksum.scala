package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent checksum of a result, computed the same way from
  * Spark rows here and from DuckDB rows in `oracle.py`: every value gets
  * a canonical text form, each row's forms are joined in column-name
  * order and hashed with MD5, and the first 8 bytes of the row hashes are
  * summed modulo 2^64. The checksum is `rows:sum:sorted column names`.
  *
  * Numbers compare by value: a whole number prints as an integer whatever
  * its type, any other double by its IEEE bits, so two engines agree
  * exactly when they computed bit-identical doubles.
  */
object Checksum {
  def canon(v: Any): String = v match {
    case null                       => "null"
    case b: Boolean                 => if (b) "b:1" else "b:0"
    case x @ (_: Byte | _: Short | _: Int | _: Long) => "n:" + x
    case x: Float                   => num(x.toDouble)
    case x: Double                  => num(x)
    case x: java.math.BigDecimal    => num(x.doubleValue)
    case s: String                  => "s:" + s
    case t: java.sql.Timestamp      =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      "t:" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case d: java.sql.Date           => "d:" + d.toLocalDate.toEpochDay
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row                     => r.toSeq.map(canon).mkString("(", ",", ")")
    case other                      => "?:" + other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 9e15) "n:" + d.toLong
    else "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def ofRows(columns: Seq[String], rows: Iterator[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md5 = MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = md5.digest(text.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    s"$n:${java.lang.Long.toUnsignedString(sum, 16)}:${columns.sorted.mkString(",")}"
  }

  def of(df: DataFrame): String = ofRows(df.columns.toSeq, df.collect().iterator)
}
