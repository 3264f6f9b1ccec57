package graft.perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 1]) of `xs`; NaN when
    * empty, infinite when it interpolates towards an infinite sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toArray
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    if (pos == lo || s(hi) == s(lo)) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Percentiles a tail can be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)

  /** The highest ladder percentile with at least ten of `n` samples
    * beyond it, or None when even the median has fewer than ten. */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => n - math.ceil(p * n).toLong >= 10).lastOption
}
