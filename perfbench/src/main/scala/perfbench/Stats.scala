package perfbench

/** The benchmark's own arithmetic: order statistics over timing samples,
  * interval coverage for span self time and scheduler idle time, and the
  * ratios built from them. Kept free of Spark so the tests can pin it.
  */
object Stats {

  /** Median; NaN for no samples. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** "median 1.2340 s (n=12)" for the human-readable report. */
  def describe(xs: Seq[Double], unit: String): String =
    f"median ${median(xs)}%.4f $unit (n=${xs.length})"

  /** Median of the last third of the samples over the median of the
    * first third, in arrival order: above 1 when later operations are
    * slower. Needs at least three samples.
    */
  def growthRatio(xs: Seq[Double]): Double = {
    require(xs.length >= 3, s"growth ratio needs >= 3 samples, got ${xs.length}")
    val k = xs.length / 3
    median(xs.takeRight(k)) / median(xs.take(k))
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of `window` covered by none of `intervals`. */
  def uncovered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (ws, we) = window
    val clipped = intervals.map { case (s, e) => (math.max(s, ws), math.min(e, we)) }
    (we - ws) - unionLength(clipped)
  }

  /** Share of the cores' time spent running tasks. */
  def busyFrac(taskRunS: Double, wallS: Double, cores: Int): Double =
    if (wallS <= 0 || cores <= 0) 0.0 else taskRunS / (wallS * cores)
}
