package perfbench

/** Order statistics used by every metric the benchmark reports. */
object Stats {

  /** Median with midpoint interpolation; NaN for no samples. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail a run can support: the highest percentile with at least
    * `beyond` samples above it. Sorted ascending, that is the sample at
    * 0-based index `n - beyond - 1`, and its percentile is the share of
    * samples at or below it. Below `2 * beyond` samples that percentile
    * would fall under the median, which is no tail; the maximum is
    * returned instead and flagged `supported = false`. Failed calls
    * enter as +Inf (they miss any latency limit). */
  final case class Tail(value: Double, percentile: Double, n: Int, supported: Boolean)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n < 2 * beyond) Tail(s.last, 100.0, n, supported = false)
    else {
      val idx = n - beyond - 1
      Tail(s(idx), 100.0 * (idx + 1) / n, n, supported = true)
    }
  }

  /** Union length of possibly overlapping [start, end) intervals. */
  def coveredLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `[start, end)` covered by `parts`, each clipped to it. */
  def coveredWithin(start: Long, end: Long, parts: Seq[(Long, Long)]): Long =
    coveredLength(parts.map { case (s, e) => (math.max(s, start), math.min(e, end)) })
}
