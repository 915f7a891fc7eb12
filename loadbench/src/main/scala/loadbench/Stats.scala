package loadbench

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolated quantile (numpy's default), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The tail percentile a sample set can support: the highest whole
    * percentile with at least 10 samples beyond it, never below the
    * median. With fewer than 20 samples that is the median itself.
    * Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.length
    val p = math.max(50, math.floor(100.0 * (1.0 - 10.0 / n)).toInt)
    (p, quantile(xs, p / 100.0))
  }
}
