package perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** Percentiles the tail may be reported at, highest last. */
  val TailLadder: Vector[Double] = Vector(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Linear-interpolated percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The tail percentile for `n` samples: the highest ladder rung with
    * at least 10 samples above it. Below 20 samples no rung qualifies
    * and the median stands in, so a short run never reports an extreme
    * order statistic as its tail.
    */
  def tailPct(n: Int): Double =
    TailLadder.filter(p => n * (1 - p / 100.0) >= 10.0 - 1e-9)
      .lastOption.getOrElse(50.0)

  /** (tail percentile, its value) of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPct(xs.size)
    (p, percentile(xs, p))
  }
}
