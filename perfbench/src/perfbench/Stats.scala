package perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail percentile `pct` (e.g. 0.9), its nearest-rank value, and the
    * sample count it was read from.
    */
  final case class Tail(pct: Double, value: Double, n: Int) {
    def label: String = {
      val p = pct * 100
      if (p == p.floor) f"p${p.toInt}" else f"p$p%.1f"
    }
  }

  private val Ladder = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest ladder percentile that still has at least ten samples
    * above it; None when the sample is too small for even the median.
    */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val s = xs.sorted.toIndexedSeq
    Ladder.find(p => s.length - math.ceil(p * s.length).toInt >= 10).map { p =>
      Tail(p, s(math.max(0, math.ceil(p * s.length).toInt - 1)), s.length)
    }
  }
}
