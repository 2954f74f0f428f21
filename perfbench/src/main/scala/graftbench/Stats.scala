package graftbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail of a latency sample: the highest percentile that still has
    * at least `beyond` samples above it. With n sorted samples that is the
    * (n - beyond)-th smallest value, at percentile 100 * (n - beyond) / n.
    * Returns (value, percentile); None when fewer than beyond + 1 samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val n = s.size
      Some((s(n - beyond - 1), 100.0 * (n - beyond) / n))
    }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Driver gap: the part of a request's wall time covered by no Spark
    * job, i.e. wall minus the union of the job intervals clipped to the
    * request.
    */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs.map { case (a, b) => (math.max(a, start), math.min(b, end)) })
}
