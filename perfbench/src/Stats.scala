package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Samples a tail must have beyond it. */
  val MinBeyond = 10

  /** 0-based index of the nearest-rank `p`-th percentile of `n` sorted
    * samples (the smallest value with at least p% of samples at or
    * below it).
    */
  def rankIndex(n: Int, p: Double): Int =
    (math.ceil(p / 100.0 * n).toInt - 1).max(0).min(n - 1)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rankIndex(s.size, p))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Median and tail of `n` samples. The tail is the highest percentile
    * that still has [[MinBeyond]] samples beyond it: the sample ranked
    * eleventh from the top, percentile (n - 10) / n. It moves smoothly
    * with the sample count instead of jumping between fixed rungs. With
    * ten samples or fewer it is the maximum (reported as percentile 100).
    */
  final case class Summary(n: Int, p50: Double, tail: Double, tailPct: Double)

  def summarize(xs: Seq[Double]): Summary = {
    val s = xs.sorted
    val n = s.size
    if (n > MinBeyond)
      Summary(n, median(s), s(n - 1 - MinBeyond), 100.0 * (n - MinBeyond) / n)
    else Summary(n, median(s), s.last, 100.0)
  }
}
