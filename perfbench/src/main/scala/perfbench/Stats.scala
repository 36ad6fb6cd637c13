package perfbench

/** The harness's own arithmetic, kept free of Spark so the self-tests
  * (StatsSpec) can pin it down exactly.
  */
object Stats {

  /** Median of `xs` (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `q`-quantile (0 < q < 1), reported only when at least
    * `minBeyond` samples lie strictly beyond the rank it picks — a p90 of
    * 20 samples would rest on two values and is not reported.
    */
  def tailPercentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val n = xs.length
    val rank = math.ceil(q * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < minBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  /** Total length covered by the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** [[unionLength]] of the intervals clipped to [lo, hi). */
  def coveredWithin(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })

  /** A span's self time: its duration minus the part of it that its
    * children (child spans and the Spark jobs it submitted) cover.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredWithin(children, start, end)

  /** Share of an op's wall time in which no Spark job ran. */
  def driverGapFrac(opWalls: Seq[(Long, Long)], jobsPerOp: Seq[Seq[(Long, Long)]]): Double = {
    val wall = opWalls.map { case (s, e) => e - s }.sum
    if (wall <= 0) 0.0
    else {
      val busy = opWalls.zip(jobsPerOp).map { case ((s, e), jobs) => coveredWithin(jobs, s, e) }.sum
      1.0 - busy.toDouble / wall
    }
  }

  /** Ops that failed or gave wrong output, over ops attempted. An op that
    * both threw and mismatched counts once.
    */
  def errorFrac(attempted: Int, failedOps: Set[Int]): Double = {
    require(attempted >= 1, "no op attempted")
    require(failedOps.forall(i => i >= 0 && i < attempted), "failed op outside the attempted range")
    failedOps.size.toDouble / attempted
  }
}
