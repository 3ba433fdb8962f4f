package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a complete query result.
  *
  * Each row is rendered canonically (columns sorted by name, every value
  * tagged with its kind, doubles by their IEEE bits) and hashed with MD5;
  * the result's fingerprint is the row count plus the sum and xor of the
  * first eight bytes of each row hash. `oracle.py` renders DuckDB rows
  * the same way, so one fingerprint compares a Spark result with its
  * oracle, and two executions of the same query with each other.
  */
final case class Fingerprint(columns: Seq[String], rows: Long, sum: Long, xor: Long) {
  def rowPart: String = f"$rows:$sum%016x:$xor%016x"
  override def toString: String = columns.mkString(",") + "|" + rowPart
}

object Fingerprint {
  private val utc = java.time.ZoneOffset.UTC
  private val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def ldt(t: java.time.LocalDateTime): String = {
    val micros = t.getNano / 1000
    t.format(stamp) + (if (micros != 0) f".$micros%06d" else "")
  }

  def render(v: Any): String = v match {
    case null                        => "N"
    case b: Boolean                  => if (b) "b:true" else "b:false"
    case x: Byte                     => "i:" + x
    case x: Short                    => "i:" + x
    case x: Int                      => "i:" + x
    case x: Long                     => "i:" + x
    case x: BigInt                   => "i:" + x
    case x: Float                    => "f:" + java.lang.Double.doubleToLongBits(x.toDouble)
    case x: Double                   => "f:" + java.lang.Double.doubleToLongBits(x)
    case x: java.math.BigDecimal     => "d:" + x.stripTrailingZeros.toPlainString
    case x: scala.math.BigDecimal    => "d:" + x.bigDecimal.stripTrailingZeros.toPlainString
    case s: String                   => "s:" + s
    case t: java.sql.Timestamp       => "t:" + ldt(java.time.LocalDateTime.ofInstant(t.toInstant, utc))
    case t: java.time.Instant        => "t:" + ldt(java.time.LocalDateTime.ofInstant(t, utc))
    case t: java.time.LocalDateTime  => "t:" + ldt(t)
    case d: java.sql.Date            => "D:" + d.toLocalDate.toString
    case d: java.time.LocalDate      => "D:" + d.toString
    case a: Array[Byte]              => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row                      => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_]  => s.map(render).mkString("[", ",", "]")
    case other                       => "o:" + other.toString
  }

  private def rowHash(md: MessageDigest, line: String): Long = {
    val h = md.digest(line.getBytes(UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v
  }

  /** Fingerprint of rendered rows (each row already a sequence of values
    * in column order). */
  def ofValues(columns: Seq[String], rows: Iterator[Seq[Any]]): Fingerprint = {
    val md = MessageDigest.getInstance("MD5")
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L; var sum = 0L; var xor = 0L
    rows.foreach { r =>
      val h = rowHash(md, order.map(i => render(r(i))).mkString("\u0001"))
      n += 1; sum += h; xor ^= h
    }
    Fingerprint(columns.sorted, n, sum, xor)
  }

  def ofRows(columns: Seq[String], rows: Array[Row]): Fingerprint =
    ofValues(columns, rows.iterator.map(_.toSeq))
}
