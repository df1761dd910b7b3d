package perfbench

/** Order statistics over timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** exp of the mean of the logs; every sample counts in relative terms. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The highest percentile, capped at 90, that leaves at least ten
    * samples strictly beyond it, as (percentile, value); None when fewer
    * than 20 samples leave no such percentile at or above the median.
    * The value is the nearest-rank order statistic with `n - 10` samples
    * at or below it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 20) None
    else {
      val pct = math.min(90, (100L * (n - 10) / n).toInt)
      val rank = math.ceil(pct / 100.0 * n).toInt
      Some(pct -> xs.sorted.apply(rank - 1))
    }
  }
}
