package cvbench

/** Small order statistics used by every report line. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** Samples that lie beyond the `p`-th percentile of `n` samples. */
  def beyond(n: Int, p: Double): Int = math.floor(n * (100 - p) / 100 + 1e-9).toInt

  /** The highest of the usual reporting percentiles that still has at
    * least ten samples beyond it, or None when even the median does not
    * (fewer than 20 samples). A tail percentile backed by fewer samples
    * is one sample's noise. */
  def reportablePercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 90.0, 50.0).find(p => beyond(n, p) >= 10)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Length of the union of half-open spans `[start, end)`, each clipped
    * to `[lo, hi)`. Overlapping jobs count once. */
  def unionLength(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Operation wall time not covered by any Spark job: planning, driver
    * loops and scheduling gaps. */
  def driverOnly(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)]): Long =
    (opEnd - opStart) - unionLength(jobs, opStart, opEnd)
}
