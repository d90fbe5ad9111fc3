package graftbench

/** The benchmark's own arithmetic: percentiles, span self time and the
  * ratio metrics. Pure functions, unit-tested in StatsSpec.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the nearest-rank p-th percentile. */
  def samplesBeyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest percentile of `ladder` that still has at least
    * `minBeyond` samples beyond it, or None when even the lowest has not.
    */
  def supportedPercentile(n: Int, ladder: Seq[Double] = Seq(50, 75, 90, 95, 99), minBeyond: Int = 10): Option[Double] =
    ladder.filter(p => samplesBeyond(n, p) >= minBeyond).maxOption

  /** Total length covered by a set of possibly overlapping [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A span's duration minus the part of it that its children cover
    * (children are clipped to the parent's interval).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) => (math.max(s, start), math.min(e, end)) })

  def ratio(num: Double, den: Double): Double = {
    require(den != 0, "ratio with a zero base")
    num / den
  }

  /** Parallel efficiency of `cores` workers against one on the same input. */
  def scalingEfficiency(rowsPerSMany: Double, rowsPerSOne: Double, cores: Int): Double =
    ratio(rowsPerSMany, cores * rowsPerSOne)

  /** Marginal cost per row of one ladder rung over the rung below it. */
  def marginalNsPerRow(rungMs: Double, belowMs: Double, rows: Long): Double =
    ratio((rungMs - belowMs) * 1e6, rows.toDouble)
}
