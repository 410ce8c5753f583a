package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The tail latency and its percentile. From 100 samples on it is the
    * highest nearest-rank percentile with 10 samples above it; below that no
    * such percentile exists, and it is p90 interpolated between the two
    * nearest ranks, which weighs one outlier less than the maximum does. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n >= 100) (s(n - 11), (n - 10).toDouble / n)
    else {
      val h = 0.9 * (n - 1)
      val lo = h.toInt
      (s(lo) + (h - lo) * (s(math.min(lo + 1, n - 1)) - s(lo)), 0.9)
    }
  }
}
