package perfbench

/** Summary statistics the benchmark reports. Timings are reported as a
  * median plus the highest percentile that still has at least
  * [[MinBeyond]] samples beyond it, so a tail figure is never read off a
  * handful of points.
  */
object Stats {
  val MinBeyond = 10

  /** Percentiles a tail figure may be reported at, ascending. */
  val Candidates: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Nearest-rank position (1-based) of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Highest candidate percentile with at least [[MinBeyond]] samples
    * above its nearest-rank position, or None when `n` is too small for
    * even the median to qualify.
    */
  def tailPercentile(n: Int): Option[Double] =
    Candidates.filter(p => n - rank(p, n) >= MinBeyond).lastOption

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
