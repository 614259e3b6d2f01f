package perfbench

/** Order statistics of timed samples. */
object Stats {
  /** Linear-interpolated quantile (the numpy default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p99/p95/p90/p75 that has at least ten samples beyond
    * it, as (percentile, value); None when even p75 has fewer. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => p -> quantile(xs, p / 100.0))
}
