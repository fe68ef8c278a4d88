package perfbench

/** The benchmark's own arithmetic, kept free of Spark so the unit tests
  * pin it down: percentiles, interval unions, span self time and write
  * amplification.
  */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of unsorted samples. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = samples.sorted
    val rank = math.ceil(p * s.size / 100.0).toInt
    s(math.max(0, math.min(s.size - 1, rank - 1)))
  }

  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(samples: Seq[Double]): Double =
    if (samples.isEmpty) 0.0 else samples.sum / samples.size

  /** Samples strictly above the nearest-rank p-th percentile position. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.ceil(p * n / 100.0).toInt

  /** The highest percentile of `ladder` that leaves at least `minBeyond`
    * samples beyond it, if any does: a tail figure is reported only when
    * enough samples stand behind it.
    */
  def tailPercentile(n: Int, ladder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0),
                     minBeyond: Int = 10): Option[Double] =
    ladder.sorted(Ordering[Double].reverse).find(p => samplesBeyond(n, p) >= minBeyond)

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of the union of `intervals` clipped to [lo, hi). */
  def coveredWithin(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double =
    unionLength(intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })

  /** Driver gap: the wall time of the executing spans that no Spark job
    * covers — the driver's own work between and around jobs.
    */
  def driverGap(execSpans: Seq[(Double, Double)], jobs: Seq[(Double, Double)]): Double = {
    val wall = unionLength(execSpans)
    val jobsInside = execSpans.map { case (s, e) => coveredWithin(s, e, jobs) }.sum
    math.max(0.0, wall - jobsInside)
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    math.max(0.0, (end - start) - coveredWithin(start, end, children))

  /** Bytes the storage layer wrote per byte of user data acknowledged. */
  def writeAmplification(bytesWritten: Long, userBytesAcked: Long): Double = {
    require(userBytesAcked > 0, "write amplification needs acknowledged user bytes")
    bytesWritten.toDouble / userBytesAcked
  }

  /** Largest task time over the median task time of one stage. */
  def skew(taskTimes: Seq[Double]): Double =
    if (taskTimes.isEmpty) 1.0
    else {
      val m = median(taskTimes)
      if (m <= 0) 1.0 else taskTimes.max / m
    }
}
