package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Engine-neutral content digest of a result: the same rows give the same
  * digest whether Spark or DuckDB produced them. `perfbench/oracle.py`
  * implements the identical encoding for the DuckDB side.
  *
  * Columns are taken in name order. Every cell is encoded by value, not by
  * type: all numbers (integers, decimals, floats) become the exact decimal
  * expansion of their value, timestamps become UTC epoch microseconds,
  * dates epoch days. Each encoded cell is length-prefixed (in code points),
  * each row is SHA-256 hashed, and the digest is the SHA-256 of the sorted
  * row hashes, so row order does not matter.
  */
object Digest {

  def of(columns: IndexedSeq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val header = "cols:" + order.map(i => cell(columns(i))).mkString
    val hashes = rows.map(r => sha(order.map(i => cell(encode(r.get(i)))).mkString)).sorted
    sha(header + "\n" + hashes.mkString("\n"))
  }

  private def cell(s: String): String = s"${s.codePointCount(0, s.length)}:$s"

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def number(b: java.math.BigDecimal): String =
    if (b.signum == 0) "n:0" else "n:" + b.stripTrailingZeros.toPlainString

  def encode(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case n: Byte => "n:" + n
    case n: Short => "n:" + n
    case n: Int => "n:" + n
    case n: Long => "n:" + n
    case n: BigInt => "n:" + n
    case f: Float => encode(f.toDouble)
    case d: Double =>
      if (d.isNaN) "f:nan" else if (d.isInfinite) (if (d > 0) "f:inf" else "f:-inf")
      else number(new java.math.BigDecimal(d))
    case b: java.math.BigDecimal => number(b)
    case b: scala.math.BigDecimal => number(b.bigDecimal)
    case s: String => "s:" + s
    case d: java.sql.Date => "d:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d:" + d.toEpochDay
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => encode(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
    case r: Row => "r(" + (0 until r.length).map(i => cell(encode(r.get(i)))).mkString + ")"
    case m: scala.collection.Map[_, _] =>
      "m(" + m.toSeq.map { case (k, x) => cell(encode(k)) + cell(encode(x)) }.sorted.mkString + ")"
    case s: scala.collection.Seq[_] => "a(" + s.map(x => cell(encode(x))).mkString + ")"
    case other => "o:" + other.toString
  }
}
