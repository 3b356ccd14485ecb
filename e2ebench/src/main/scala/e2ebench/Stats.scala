package e2ebench

/** Order statistics over op latencies. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency with a defensible sample behind it: the highest
    * percentile that leaves at least `beyond` ops above it. With n sorted
    * latencies that is the order statistic of rank n - beyond (1-based),
    * the percentile 100 * (n - beyond) / n: p90 of 100 ops, p99 of 1000.
    * None when fewer than `beyond + 1` ops ran.
    *
    * Returns (percentile, value, sample count).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] = {
    val n = xs.size
    if (n < beyond + 1) None
    else {
      val rank = n - beyond
      Some((100.0 * rank / n, xs.sorted.apply(rank - 1), n))
    }
  }
}
