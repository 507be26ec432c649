package perfbench

/** Order statistics for the reported timings. A failed op enters a
  * sample as +Infinity: it counts as beyond every latency limit. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples that must lie beyond a reported tail. */
  val TailBeyond = 10

  /** The highest percentile with at least [[TailBeyond]] samples beyond
    * it, as (percentile, value): the sample with exactly that many
    * larger ones. With fewer samples that percentile would fall under
    * the median, so the support shrinks to (n - 1) / 2 samples and the
    * tail is the median sample (the upper middle one for an even n). */
  def beyond(n: Int): Int = math.min(TailBeyond, (n - 1) / 2)

  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val idx = n - beyond(n) - 1
    (100.0 * (idx + 1) / n, s(idx))
  }
}
