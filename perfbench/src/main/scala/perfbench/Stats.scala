package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least
    * `p` percent of the samples are at or below it. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val sorted = samples.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50)

  def mean(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "mean of an empty sample")
    samples.sum / samples.size
  }
}
