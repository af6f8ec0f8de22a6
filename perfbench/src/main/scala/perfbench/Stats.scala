package perfbench

/** Order statistics used for every reported latency. */
object Stats {

  /** Samples a tail percentile must leave above it before it is read. */
  val TailSamples = 10

  /** Linear-interpolated percentile `p` (0..100) of `xs`; 0 when empty. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (p / 100.0) * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Geometric mean of positive samples; 0 when empty. Every sample
    * weighs in, so a mix of unlike operations does not hinge on which
    * one sits in the middle.
    */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The percentile a run can actually support as its "p`target`": the
    * highest percentile at or below `target` that still has at least
    * [[TailSamples]] samples beyond it, i.e. min(target, 100·(1 − 10/n)).
    * With fewer than 20 samples no tail is readable and the median is
    * returned as the floor.
    */
  def supportedPercentile(n: Int, target: Double): Double =
    if (n < 2 * TailSamples) 50.0
    else math.min(target, 100.0 * (1.0 - TailSamples.toDouble / n))

  /** (percentile used, value) of the tail estimate for `xs`. */
  def tail(xs: Seq[Double], target: Double = 90.0): (Double, Double) = {
    val p = supportedPercentile(xs.size, target)
    (p, percentile(xs, p))
  }
}
