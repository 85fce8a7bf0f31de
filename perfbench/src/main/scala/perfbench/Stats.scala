package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Percentile `p` in [0, 1] by linear interpolation between the two
    * nearest ranks (the NumPy default): p=0.5 of 1..10 is 5.5, p=0.9 is
    * 9.1. An empty sample has no percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile outside [0, 1]: $p")
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
