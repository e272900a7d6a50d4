package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail value: the highest percentile that still has at least
    * `above` samples ranked above it. Returns (value, percentile, samples).
    * When that percentile would fall below the median (19 samples or fewer
    * for `above` = 10) the rule names no tail, and the maximum is returned
    * at the 100th percentile. */
  def tail(xs: Seq[Double], above: Int = 10): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val idx = n - 1 - above
    if (100.0 * (idx + 1) / n < 50.0) (s.last, 100.0, n)
    else (s(idx), 100.0 * (idx + 1) / n, n)
  }
}
