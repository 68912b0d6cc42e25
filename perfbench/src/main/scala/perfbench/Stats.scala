package perfbench

/** Summary statistics the benchmark reports. Percentiles are
  * nearest-rank: the reported value is always one of the samples, so a
  * p95 over 200 samples has exactly 10 samples above it.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least
    * `p` percent of the samples are less than or equal to it.
    */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val sorted = samples.sorted
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50)

  def mean(samples: Seq[Double]): Double =
    if (samples.isEmpty) 0.0 else samples.sum / samples.length

  /** Samples strictly above the nearest-rank percentile: the guide's
    * "at least ten samples beyond it" test for a reportable tail.
    */
  def beyond(samples: Seq[Double], p: Double): Int = {
    val v = percentile(samples, p)
    samples.count(_ > v)
  }
}
