package perfbench

/** Percentile and ratio arithmetic shared by every metric. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) — the definition
    * numpy's default and most dashboards use. NaN on an empty sample.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** `num / den`, or 0 when nothing was measured (den == 0): a layer that
    * did no work reports no ratio rather than a division error.
    */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  def mean(xs: Seq[Double]): Double = ratio(xs.sum, xs.size.toDouble)
}
