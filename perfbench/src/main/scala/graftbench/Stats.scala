package graftbench

/** Order statistics the records report. */
object Stats {

  /** 1-based nearest rank of percentile `p` among `n` samples; the
    * epsilon keeps 0.9 * 100 from rounding up to 91. */
  private def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p * n - 1e-9).toInt))

  /** Nearest-rank percentile `p` in [0, 1] of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Candidate tail percentiles, highest first. */
  private val tails = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest candidate percentile that still has at least ten
    * samples beyond it, with its value: (percentile, value). With
    * fewer than twenty samples the median is the tail. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tails.find(p => xs.size - rank(p, xs.size) >= 10).getOrElse(0.5)
    (p, pct(xs, p))
  }

  /** Mean of the slowest `share` of `xs` (at least one sample): the
    * tail statistic for runs with too few samples for a percentile
    * above p50 to have ten beyond it. */
  def tailMean(xs: Seq[Double], share: Double): Double = {
    require(xs.nonEmpty, "tail mean of no samples")
    val k = math.max(1, math.ceil(share * xs.size - 1e-9).toInt)
    xs.sorted.takeRight(k).sum / k
  }

  /** Length of the union of closed intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
