package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Row

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Order-insensitive digest of a query result. Doubles and floats render
  * with 10 significant digits, so a sum whose last bits depend on the order
  * of partial aggregates still digests the same. */
object Digest {
  def of(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def render(v: Any): String = v match {
    case null => "<null>"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", "|", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros().toString
}
