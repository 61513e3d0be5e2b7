package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a collected result.
  *
  * Columns are taken in name order and rows as a multiset: each row is
  * rendered to a canonical string, hashed, and the 64-bit row hashes are
  * summed, so any permutation of the rows gives the same value while a
  * changed, missing or duplicated row does not. Doubles are normalized
  * the way tools/oracle_check.py compares them (NaN is one value, -0.0
  * is 0.0) and then printed with 12 significant digits, so the
  * last-bit differences a different summation order leaves in a double
  * aggregate do not read as a wrong answer.
  */
object Fingerprint {

  def of(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val header = order.map(_._1).mkString(",")
    var sum = 0L
    rows.foreach { r =>
      sum += hash64(order.map { case (_, i) => render(r.get(i)) }.mkString("\u0001"))
    }
    f"${rows.size}:${hash64(header)}%016x:$sum%016x"
  }

  private[perfbench] def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => double(b.doubleValue)
    case b: BigDecimal => double(b.toDouble)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == 0.0) "0"
    else if (d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(12))
      .stripTrailingZeros.toString

  private def hash64(s: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    h.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }
}
