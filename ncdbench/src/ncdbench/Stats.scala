package ncdbench

/** Pure summary statistics used by the benchmark's reports. */
object Stats {

  /** Percentiles a tail may be reported at, lowest first. */
  val TailPercentiles: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Quantile `q` in [0, 1] with linear interpolation between closest
    * ranks (the "inclusive" method of Python's `statistics.quantiles`).
    */
  def quantile(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "quantile of no values")
    val s = values.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = quantile(values, 0.5)

  /** Wall time less the part the hypervisor stole. `busy` and `steal` are
    * the machine's CPU ticks over the same interval (`/proc/stat`: busy is
    * user, nice, system, irq and softirq). A vCPU accrues steal only while
    * it wants to run, so `steal / (busy + steal)` is the share of wanted
    * CPU time that was taken away, whatever number of vCPUs were busy.
    */
  def netOfSteal(wall: Double, busy: Long, steal: Long): Double =
    if (busy + steal <= 0) wall else wall * busy / (busy + steal).toDouble

  /** Number of samples ranked strictly above percentile `p` of `n`. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.ceil(n * p / 100.0 - 1e-9).toInt

  /** The highest of [[TailPercentiles]] that still has at least
    * `minBeyond` samples above it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailPercentiles.filter(p => samplesBeyond(n, p) >= minBeyond).lastOption

  /** Time inside `[start, end)` not covered by any child interval. Children
    * may overlap each other and stick out of the parent; only the covered
    * part of the parent's own interval is subtracted.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}
