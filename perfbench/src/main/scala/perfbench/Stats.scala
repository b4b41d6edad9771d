package perfbench

/** Order statistics and interval arithmetic used by every report. */
object Stats {

  /** Percentile `p` (0..100) with linear interpolation between closest
    * ranks, the same rule as numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`. */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no values")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = values.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  /** Half-open interval [start, end) on one clock, in nanoseconds. */
  final case class Interval(start: Long, end: Long) {
    require(end >= start, s"interval ends before it starts: [$start, $end)")
    def length: Long = end - start
  }

  /** Length of `within` covered by the union of `parts`. */
  def covered(within: Interval, parts: Seq[Interval]): Long = {
    val clipped = parts
      .map(p => (math.max(p.start, within.start), math.min(p.end, within.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its length minus the part its children cover. */
  def selfTime(span: Interval, children: Seq[Interval]): Long =
    span.length - covered(span, children)
}
