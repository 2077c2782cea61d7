package perfbench

import scala.collection.immutable.ListMap

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A p90 is reported only when at least ten samples lie beyond it,
    * so it is never the maximum of a handful of samples in disguise. */
  def p90Allowed(n: Int): Boolean = n - math.ceil(0.9 * n).toInt >= 10

  /** The summary every timing is reported with: median, p90 where
    * allowed, and the sample count. */
  def summary(xs: Seq[Double]): ListMap[String, Any] =
    ListMap[String, Any]("n" -> xs.length) ++
      (if (xs.nonEmpty) Seq("p50" -> median(xs)) else Nil) ++
      (if (p90Allowed(xs.length)) Seq("p90" -> quantile(xs, 0.9)) else Nil)
}
