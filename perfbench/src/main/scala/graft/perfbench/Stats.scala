package graft.perfbench

/** Order statistics for the run record. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** The highest of the usual reporting percentiles that still has at
    * least ten samples above it, with its value; None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find { p =>
      val rank = math.ceil(p / 100.0 * xs.length).toInt
      xs.length - rank >= 10
    }.map(p => (p, percentile(xs, p)))
}
