package perfbench

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles a tail may be reported at, lowest first. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of [[TailLadder]] that leaves at least `beyond`
    * of `n` samples above it, or None when even the median does not.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailLadder.filter(p => n - nearestRank(p, n) >= beyond).lastOption

  /** 1-based nearest-rank index of percentile `p` among `n` samples. */
  def nearestRank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** (percentile, value) of the tail rule above, if the samples allow one. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    tailPercentile(xs.length, beyond).map { p =>
      p -> xs.sorted.apply(nearestRank(p, xs.length) - 1)
    }
}
