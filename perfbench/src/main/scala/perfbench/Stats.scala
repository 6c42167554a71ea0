package perfbench

/** The benchmark's arithmetic: nearest-rank percentiles and means. */
object Stats {

  /** Nearest-rank percentile: the smallest value with at least p % of the
    * values at or below it (rank = ceil(p / 100 * n), 1-based). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A per-layer percentile: 0 when the workload produced no sample. */
  def orZero(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else percentile(xs, p)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of an empty sample")
    xs.sum / xs.size
  }
}
