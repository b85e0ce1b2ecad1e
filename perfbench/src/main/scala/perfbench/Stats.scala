package perfbench

/** Order statistics used by the report. Pure, so the benchmark's own
  * tests pin them. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100)
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Int): Int =
    math.max(1, math.ceil(p * n / 100.0).toInt)

  /** The tail rule: the highest whole percentile that still has at least
    * `beyond` samples strictly above its rank. Returns (percentile, value),
    * or None when there are too few samples for any such percentile. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    (99 to 1 by -1).find(p => n - rank(n, p) >= beyond)
      .map(p => (p, percentile(xs, p)))
  }

  /** Closed intervals [start, end]; total length of their union. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover (children clipped to the parent, overlaps counted
    * once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
