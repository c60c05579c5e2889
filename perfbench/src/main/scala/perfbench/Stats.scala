package perfbench

/** Order statistics used by the report. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the sample of rank ceil(p/100 * n). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p < 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** The highest whole percentile, at most `cap`, that leaves at least
    * `minAbove` samples ranked above it; None when `n` is too small.
    */
  def tailPercentile(n: Int, minAbove: Int = 10, cap: Int = 90): Option[Int] =
    (cap to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= minAbove)
}
