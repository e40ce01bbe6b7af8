package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** Row count plus an order-insensitive hash over every output column.
  *
  * Each cell is rendered to a canonical string, tagged by kind so that
  * no two kinds collide: doubles and floats are rounded to
  * [[SignificantDigits]] (values below [[ZeroSnap]] in magnitude read as
  * zero, so summation-order noise around zero cannot flip the hash), NaN
  * and infinities have fixed spellings, arrays keep their order, map
  * entries are sorted, structs recurse and nulls have their own tag. The
  * row hashes are summed modulo 2^64, so row order is irrelevant but
  * duplicate rows still count.
  */
object Fingerprint {
  val SignificantDigits = 6
  val ZeroSnap = 1e-9
  private val Rounding = new MathContext(SignificantDigits, RoundingMode.HALF_EVEN)

  final case class Print(rows: Long, hash: String)

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "+Inf" else "-Inf")
    else if (math.abs(d) < ZeroSnap) "F0"
    else "F" + new java.math.BigDecimal(d).round(Rounding).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "N"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => decimal(b)
    case b: scala.math.BigDecimal => decimal(b.bigDecimal)
    case i: Int => "I" + i
    case l: Long => "I" + l
    case s: Short => "I" + s
    case b: Byte => "I" + b
    case b: Boolean => "B" + b
    case s: String => "S" + s.length + ":" + s
    case t: java.sql.Timestamp => "T" + micros(t.toInstant)
    case t: java.time.Instant => "T" + micros(t)
    case t: java.time.LocalDateTime => "T" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "E" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "E" + d.toEpochDay
    case b: Array[Byte] => "X" + b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("A[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("R(", ",", ")")
    case other => "O" + other.toString
  }

  private def decimal(b: java.math.BigDecimal): String =
    if (b.signum == 0) "D0" else "D" + b.stripTrailingZeros.toPlainString

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** 64-bit hash of a canonical string (two independent 32-bit halves). */
  private def hash64(s: String): Long = {
    val bytes = s.getBytes(UTF_8)
    (MurmurHash3.bytesHash(bytes, 0x2f1a3c5b).toLong << 32) |
      (MurmurHash3.bytesHash(bytes, 0x6b43a9b5).toLong & 0xffffffffL)
  }

  def of(columns: Seq[String], rows: Iterable[Row]): Print = {
    var sum = hash64(columns.mkString("cols:", ",", ""))
    var n = 0L
    rows.foreach { r => sum += hash64(canon(r)); n += 1 }
    Print(n, f"$sum%016x")
  }
}
