package graft.perf

/** Order statistics for the benchmark's samples. */
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

  /** The highest whole percentile that leaves at least ten samples
    * beyond it, or None while that percentile would not even reach
    * the median (fewer than 20 samples).
    */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 20) None
    else Some(math.floor(100.0 * (n - 10) / n + 1e-9).toInt)

  /** (percentile, value) of the tail defined by [[tailPercentile]]. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    tailPercentile(xs.size).map(p => (p, quantile(xs, p / 100.0)))
}
