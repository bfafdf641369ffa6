package perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {

  /** Percentile `p` (0..100) by linear interpolation between order
    * statistics — the same rule as numpy's default.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Levels a tail may be reported at, highest first. A fixed ladder keeps
    * the reported level the same across runs whose sample counts differ a
    * little; it only moves when a count crosses 20, 40, 100, 200 or 1000.
    */
  val TailLevels: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder level with at least ten samples beyond it. Fewer
    * than 20 samples leave only the median, which is what is reported.
    */
  def tailLevel(n: Int): Double =
    TailLevels.find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9).getOrElse(50.0)

  /** (level, value) of the tail of `xs` by [[tailLevel]]. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val level = tailLevel(xs.length)
    (level, percentile(xs, level))
  }
}
