package perfbench

/** Order statistics and the small ratios the benchmark reports.
  * Pure functions, so the metric arithmetic is tested without Spark.
  */
object Stats {

  /** A percentile together with the number of samples it came from. */
  final case class Pct(p: Double, value: Double, n: Int) {
    /** Samples strictly above the percentile's rank. */
    def beyond: Int = n - math.ceil(p / 100.0 * n).toInt
  }

  /** Percentile by linear interpolation between closest ranks
    * (numpy's default rule): p = 0 is the minimum, p = 100 the maximum.
    */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    Pct(p, s(lo) + (s(hi) - s(lo)) * (rank - lo), s.size)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50).value

  /** A typical pass from keyed samples (key = a query, or a stream
    * operator, sampled once per pass): the sum over keys of each key's
    * median. A pass the host slowed down only moves the medians it
    * shifts, not the whole figure as a median of pass totals would.
    */
  def sumOfMedians(samples: Seq[(String, Double)]): Double =
    samples.groupBy(_._1).values.map(g => median(g.map(_._2))).sum

  /** Share of the executor cores kept busy: task time over the wall
    * time of the region times the cores available to it.
    */
  def coreUtil(taskSeconds: Double, wallSeconds: Double, cores: Int): Double =
    if (wallSeconds <= 0 || cores <= 0) 0.0
    else taskSeconds / (wallSeconds * cores)

  /** Task-time skew of one stage: slowest task over the median task.
    * A stage whose median task took no measurable time is reported
    * against a 1 ms floor rather than dividing by zero.
    */
  def skew(taskMillis: Seq[Long]): Double =
    if (taskMillis.isEmpty) 1.0
    else taskMillis.max.toDouble / math.max(median(taskMillis.map(_.toDouble)), 1.0)
}
