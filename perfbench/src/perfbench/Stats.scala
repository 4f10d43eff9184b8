package perfbench

/** Order statistics and interval arithmetic used by every workload. */
object Stats {

  /** Nearest-rank percentile of an ascending-sorted sample: the smallest
    * value with at least `p` percent of the sample at or below it. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(rank(sorted.length, p) - 1)
  }

  def median(xs: Iterable[Double]): Double = percentile(xs.toArray.sorted, 50)

  /** 1-based nearest rank of percentile `p` in a sample of `n`, computed
    * in tenths of a percent so 99 % of 1000 is exactly rank 990. */
  def rank(n: Int, p: Double): Int = {
    val tenths = math.round(p * 10).toLong
    math.max(1L, (tenths * n + 999L) / 1000L).toInt
  }

  /** Samples strictly above percentile `p`'s rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest of `candidates` that leaves at least `minBeyond`
    * samples above it, or None when even the lowest does not. */
  def highestSupported(n: Int,
      candidates: Seq[Double] = Seq(50, 90, 95, 99, 99.9),
      minBeyond: Int = 10): Option[Double] =
    candidates.filter(p => beyond(n, p) >= minBeyond).maxOption

  /** Total length covered by the union of half-open intervals
    * `[start, end)`; empty and inverted intervals cover nothing. */
  def unionLength(intervals: Iterable[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) covered += curEnd - curStart
          curStart = s; curEnd = e
        } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Largest number of intervals open at one instant (an interval ending
    * exactly where another starts does not overlap it). */
  def maxOverlap(intervals: Iterable[(Long, Long)]): Int = {
    val events = intervals.toSeq.filter { case (s, e) => e > s }
      .flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    var open = 0; var best = 0
    events.foreach { case (_, d) => open += d; best = math.max(best, open) }
    best
  }
}
