package graft.perfbench

import scala.collection.mutable

/** Order statistics and the metric sheet one run writes. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail rule: the highest percentile with at least ten samples
    * beyond it, i.e. the (n-10)-th smallest value.  A failed op counts
    * as +inf, so it sits beyond every percentile.  With ten samples or
    * fewer no percentile qualifies, and the maximum is reported.
    * Returns (value, percentile, n). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Metric values of one run, by name, each with its unit. */
final class Sheet {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  def put(name: String, value: Double, unit: String): Unit =
    values(name) = (value, unit)
  def note(name: String, text: String): Unit = notes(name) = text
}
