package perfbench

/** Summary statistics used by the benchmark's reports. Pure functions,
  * so the tests can pin each rule down exactly. */
object Stats {

  /** Median; an even-length sample averages its two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples a tail percentile needs beyond it. */
  private val TailBeyond = 10

  /** The highest whole percentile that still has at least `TailBeyond`
    * samples above it, with its nearest-rank value. A tail percentile
    * read from fewer samples is a single outlier, not a tail, so a
    * sample too small to support one above the median gives None.
    *
    * With n samples the nearest-rank value of percentile p is the
    * ceil(p·n/100)-th smallest; it has n − rank samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    def rank(p: Int): Int = math.max(1, math.ceil(p * n / 100.0).toInt)
    (99 to 51 by -1).find(p => n - rank(p) >= TailBeyond).map(p => p -> s(rank(p) - 1))
  }

  /** Length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curEnd) {
        total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    total + (curEnd - curStart)
  }

  /** Wall time inside [from, to) that no interval covers: the driver
    * gap when the intervals are the Spark jobs' lifetimes. */
  def gap(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long =
    (to - from) - unionLength(intervals.map { case (s, e) =>
      (math.max(s, from), math.min(e, to))
    })

  /** Operations that failed or gave a wrong result, over those tried. */
  def failedRatio(attempted: Int, failed: Int): Double = {
    require(attempted >= 1 && failed >= 0 && failed <= attempted,
      s"failed=$failed of attempted=$attempted")
    failed.toDouble / attempted
  }
}
