package graftbench

/** Summary statistics over per-op latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`%
    * of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = rankOf(p, s.size)
    s(math.min(math.max(rank, 1), s.size) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  private def rankOf(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Percentiles `op_ms_tail` may report, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0)

  /** The highest ladder percentile that leaves at least `beyond`
    * samples above its nearest rank out of `n`: a tail read from fewer
    * samples than that is one or two outliers. With too few samples for
    * any of them, 100: on so short an op list every op is a different
    * statement, and the slowest is the tail a client meets every pass.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    TailLadder.find(p => n - rankOf(p, n) >= beyond).getOrElse(100.0)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
