package perfbench

/** The arithmetic behind the reported figures. */
object Stats {

  /** Linear-interpolated percentile (`q` in 0..1) of a non-empty sample:
    * the "inclusive" method, so the 0.5 point is the median. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Failed ops over attempted ops; an empty run counts as all failed. */
  def failRatio(attempted: Int, failed: Int): Double =
    if (attempted <= 0) 1.0 else failed.toDouble / attempted
}
