package graftbench

/** Percentiles by the nearest-rank rule: the p-th percentile of n samples
  * is the ceil(p/100 · n)-th smallest. */
object Stats {

  /** 1-based nearest rank; the epsilon keeps 99.9/100 · 10000 at 9990. */
  private def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n / 100 - 1e-9).toInt)

  def percentile(xs: Iterable[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.toVector.sorted
    sorted(rank(sorted.size, p) - 1)
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest tail percentile worth reporting beside the median: the
    * highest of p90, p99, p99.9 with at least ten samples beyond it, or
    * None when even p90 has fewer. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 90.0).find(p => beyond(n, p) >= 10)
}
