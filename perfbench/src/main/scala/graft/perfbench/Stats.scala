package graft.perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Lower median (the middle sample; the lower of the two middle ones for
    * an even count), so a reported value is always one that was measured.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    xs.sorted.apply((xs.size - 1) / 2)
  }

  /** Samples that must lie beyond a reported tail percentile. */
  val TailBeyond = 10

  /** The tail latency: the highest percentile that still has at least
    * [[TailBeyond]] samples beyond it, i.e. the sample of rank
    * n - TailBeyond (1-based) in ascending order. Returns the percentile's
    * whole-number name with the value. Below 2 * TailBeyond samples that
    * percentile would lie under the median, so the median stands in,
    * named p50.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.size
    if (n < 2 * TailBeyond) (50, median(xs))
    else {
      val rank = n - TailBeyond
      (100 * rank / n, xs.sorted.apply(rank - 1))
    }
  }
}
