package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p`-quantile (0 < p < 1), reported only when at least
    * `minBeyond` samples lie strictly beyond its rank: a tail figure
    * resting on fewer samples is noise, so it is withheld rather than
    * printed. n samples leave n − ⌈p·n⌉ beyond the rank, so a p90
    * needs n ≥ 100. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 1, s"quantile $p outside (0, 1)")
    val n = xs.length
    val rank = math.ceil(p * n - 1e-9).toInt.max(1)
    if (n - rank < minBeyond) None else Some(xs.sorted.apply(rank - 1))
  }
}
