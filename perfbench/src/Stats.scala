package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Weighted quantile: each value sits at the midpoint of its share of
    * the cumulative weight, with linear interpolation between values, so
    * the estimate moves smoothly as samples change. */
  def weightedQuantile(xs: Seq[(Double, Double)], q: Double): Double = {
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    var acc = 0.0
    val pos = s.map { case (v, w) => acc += w; (v, (acc - w / 2) / total) }
    if (pos.isEmpty) Double.NaN
    else if (q <= pos.head._2) pos.head._1
    else if (q >= pos.last._2) pos.last._1
    else {
      val i = pos.indexWhere(_._2 >= q)
      val ((v0, p0), (v1, p1)) = (pos(i - 1), pos(i))
      v0 + (v1 - v0) * (q - p0) / (p1 - p0)
    }
  }

  /** Linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
