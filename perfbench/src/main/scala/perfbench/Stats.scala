package perfbench

import java.math.MathContext
import java.security.MessageDigest

import org.apache.spark.sql.Row

object Stats {

  /** Linear-interpolated quantile (the common "type 7" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Order-sensitive digest of a query result. Doubles are rounded to ten
  * significant digits, so a last-bit difference in a floating-point sum
  * does not change the digest; decimals lose trailing zeros; maps are
  * rendered with sorted entries.
  */
object Digest {
  private val ten = new MathContext(10)

  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((render(r) + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(ten).stripTrailingZeros.toPlainString
}
