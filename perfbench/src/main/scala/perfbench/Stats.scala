package perfbench

/** Small statistics helpers shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The tail-percentile rule: the nearest-rank `p` percentile, unless that
    * leaves fewer than `beyond` samples above it, in which case the highest
    * percentile that still leaves `beyond` samples above it. Infinite
    * samples (failed requests) sort last, so a failure is a miss at
    * infinite latency. With `beyond` or fewer samples there is no such
    * percentile and the maximum is returned. */
  def tailPercentile(xs: Seq[Double], p: Double, beyond: Int = 10): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val nearestRank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    val cap = s.size - beyond
    val rank = if (cap >= 1) math.min(nearestRank, cap) else s.size
    s(rank - 1)
  }

  /** Nearest-rank percentile without the tail rule (for p50). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
