package perfbench

/** Order statistics and interval arithmetic shared by the workloads. */
object Stats {

  /** The p-th percentile (0..100) by linear interpolation between the
    * closest ranks — the "inclusive" method of Python's
    * `statistics.quantiles` and numpy's default.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside 0..100")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Total length covered by the union of the intervals [start, end);
    * empty and inverted intervals cover nothing.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var open: Option[(Long, Long)] = None
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      open match {
        case Some((os, oe)) if s <= oe => open = Some((os, math.max(oe, e)))
        case Some((os, oe)) => total += oe - os; open = Some((s, e))
        case None => open = Some((s, e))
      }
    }
    total + open.map { case (s, e) => e - s }.getOrElse(0L)
  }
}
