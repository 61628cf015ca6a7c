package e2ebench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples that must lie above a reported percentile: a p90 over 20
    * samples is the second-largest sample, which says more about one
    * outlier than about the tail.
    */
  private val MinBeyond = 10

  /** Nearest-rank `q`-quantile, or None unless at least [[MinBeyond]]
    * samples lie above it.
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val s = xs.sorted
    val rank = math.ceil(q * s.size).toInt // 1-based
    if (s.isEmpty || s.size - rank < MinBeyond) None else Some(s(rank - 1))
  }
}
