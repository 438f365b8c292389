package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. With n samples, p90 has n − ⌈0.9·n⌉
    * samples strictly above its rank, so n ≥ 100 leaves at least 10. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  /** Median, averaging the two middle samples of an even-sized set. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
