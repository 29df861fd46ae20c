package perfbench

/** Order statistics over one run's op latencies. */
object Stats {
  /** Nearest-rank percentile: the smallest sample such that at least
    * `p` percent of the samples are at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.size / 100.0).toInt) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the `p`-th percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }

  /** The reporting rule for a tail percentile: it is supported only when
    * at least `k` samples lie beyond it. */
  def supported(xs: Seq[Double], p: Double, k: Int = 10): Boolean =
    xs.nonEmpty && beyond(xs, p) >= k
}
