package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a collected result over every column.
  *
  * Each row renders to a canonical string (doubles rounded to 10
  * significant digits, the scale of the oracle compare's 1e-9 relative
  * tolerance) and hashes to 64 bits; the digest is the schema hash plus
  * the wrapping sum of the row hashes. A sum ignores row order but
  * counts every row, so a changed, missing or duplicated row changes it.
  */
object Digest {

  private val sig = new MathContext(10)

  def cell(v: Any): String = v match {
    case null => "␀"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case d: JBigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(sig).stripTrailingZeros.toString

  private def hash64(s: String): Long = {
    val h = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    h.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    var sum = hash64(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
    rows.foreach(r => sum += hash64(r.toSeq.map(cell).mkString("\u0001")))
    f"$sum%016x"
  }
}

/** Order statistics over samples. */
object Stats {

  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p`th percentile, or None when fewer than 10 samples
    * lie beyond it: a tail read from fewer is one slow call, not a tail.
    */
  def percentile(xs: scala.collection.Seq[Double], p: Double): Option[Double] = {
    val n = xs.length
    val rank = math.ceil(p / 100.0 * n).toInt
    if (n - rank < 10) None else Some(xs.sorted.apply(math.max(rank, 1) - 1))
  }
}
