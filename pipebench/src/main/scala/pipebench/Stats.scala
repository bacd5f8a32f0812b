package pipebench

/** Percentile and interval arithmetic used by every metric. */
object Stats {

  /** Linear interpolation between closest ranks (rank p·(n−1), 0-based),
    * the definition numpy uses by default.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** [[percentile]] of the sample in which each value appears `count`
    * times, without expanding it.
    */
  def weightedPercentile(xs: Seq[(Double, Long)], p: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    require(s.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    val r = p * (s.map(_._2).sum - 1)
    def at(rank: Long): Double = {
      var seen = 0L
      s.find { case (_, c) => seen += c; seen > rank }.get._1
    }
    val lo = math.floor(r).toLong
    at(lo) + (at(math.ceil(r).toLong) - at(lo)) * (r - lo)
  }

  def weightedMean(xs: Seq[(Double, Long)]): Double = {
    val n = xs.map(_._2).sum
    require(n > 0, "mean of an empty sample")
    xs.map { case (v, c) => v * c }.sum / n
  }

  /** Total length covered by the union of half-open intervals [a, b). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover (children clipped to the span, overlaps counted once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (a, b) =>
      (math.max(a, start), math.min(b, end))
    })
}
