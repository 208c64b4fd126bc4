package aqlbench

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolated quantile (the same rule as numpy's default);
    * NaN when there are no samples, e.g. when every op of a kind failed.
    */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val TailLevels = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The tail: the highest of the usual percentiles that still has at
    * least ten samples beyond it, as (percentile, value). With fewer than
    * twenty samples no percentile qualifies and the maximum is reported
    * (as percentile 1.0), so the reader sees how thin the tail is.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    TailLevels.find(p => xs.size * (1 - p) >= 10 - 1e-9) match {
      case Some(p) => (p, quantile(xs, p))
      case None => (1.0, xs.maxOption.getOrElse(Double.NaN))
    }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
