package graftbench

/** Summary statistics for benchmark samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean: every operation of a fixed mix weighs the same,
    * however long it takes, and no single rank decides the value.
    */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile: the smallest sample with at least
    * `p` of the samples at or below it.
    */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p <= 1.0, s"percentile rank must be in (0, 1], got $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank `p` percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  /** A tail percentile is only reported when at least `minBeyond`
    * samples lie beyond it; otherwise it says nothing the maximum does
    * not.
    */
  def tailPercentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs.size, p) >= minBeyond) Some(nearestRank(xs, p)) else None

  /** Least-squares slope of ys over xs (0 when xs has no spread). */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    require(xs.size == ys.size, "slope needs paired samples")
    if (xs.size < 2) return 0.0
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0.0) 0.0
    else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}
