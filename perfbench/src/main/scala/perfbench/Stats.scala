package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail point of a latency sample: the highest whole percentile that
    * still has at least `beyond` samples above it (nearest-rank method).
    * Returns (percentile, value, sampleCount). With `beyond` or fewer
    * samples no percentile qualifies, and the maximum is reported as p100. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) (100, s.last, n)
    else {
      val p = (100L * (n - beyond) / n).toInt
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      (p, s(rank - 1), n)
    }
  }
}
