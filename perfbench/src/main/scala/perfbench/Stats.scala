package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The percentiles a tail may be reported at, highest first. */
  val tailLevels: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest of [[tailLevels]] that keeps at least `beyond` samples
    * strictly above its rank in a sample of `n`, so a reported tail is
    * never set by a handful of outliers. None when even the median does
    * not qualify.
    */
  def highestSupported(n: Int, beyond: Int = 10): Option[Double] =
    tailLevels.find(p => n - math.ceil(p * n).toLong >= beyond)
}
