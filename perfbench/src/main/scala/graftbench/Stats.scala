package graftbench

/** Order statistics and interval arithmetic the benchmark reports with.
  * Percentiles use the nearest-rank definition: the p-quantile of n sorted
  * samples is the sample at 1-based rank ceil(p * n).
  */
object Stats {

  def rank(p: Double, n: Long): Long = math.max(1L, math.ceil(p * n - 1e-9).toLong)

  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    val s = values.sorted
    s((rank(p, s.size.toLong) - 1).toInt)
  }

  def median(values: Seq[Double]): Double = percentile(values, 0.5)

  /** Harrell-Davis estimate of the p-quantile: the mean of all order
    * statistics, weighted by the Beta((n+1)p, (n+1)(1-p)) distribution's
    * mass over ((i-1)/n, i/n]. When the samples are few and come from
    * operations of uneven cost, it moves less from run to run than the
    * single sample that `percentile` picks.
    */
  def harrellDavis(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p < 1.0, s"quantile $p outside (0, 1)")
    val s = values.sorted
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) * p, (n + 1) * (1 - p))
    val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  /** Samples strictly above the p-quantile's rank. */
  def beyond(p: Double, n: Long): Long = n - rank(p, n)

  /** The highest of `candidates` that leaves at least `minBeyond` samples
    * above it, or None when even the lowest does not.
    */
  def highestSupported(n: Long, minBeyond: Int = 10,
      candidates: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(p, n) >= minBeyond)

  /** Total length of the union of [start, end) intervals, each clipped to
    * [lo, hi).
    */
  def coveredMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** One micro-batch of a paced feed: source indices [lo, hi) whose metrics
  * row was written at `writtenMs` (epoch ms).
  */
final case class PacedBatch(batchId: Long, lo: Long, hi: Long, writtenMs: Double) {
  def events: Long = hi - lo
}

/** Due-time arithmetic for the `graft-events` source. Its checkpointed
  * offset is `count:epochMs`, and event i is due at
  * `epochMs + i * 1000 / rateEps`. An event's latency is the time from its
  * due time to the moment its batch's metrics row is written, so within a
  * batch latencies fall linearly with the index. Percentiles are computed
  * from the batch ranges alone, without expanding them into rows.
  */
final case class Schedule(epochMs: Long, rateEps: Double) {

  def dueMs(i: Long): Double = epochMs + i * 1000.0 / rateEps

  /** Events the schedule has released by `tMs`. */
  def scheduledBy(tMs: Double): Long =
    math.max(0L, math.floor((tMs - epochMs) * rateEps / 1000.0 + 1e-9).toLong)

  def latencyMs(b: PacedBatch, i: Long): Double = b.writtenMs - dueMs(i)

  /** Latency of the batch's last event: trigger wait excluded. */
  def resultLatencyMs(b: PacedBatch): Double = latencyMs(b, b.hi - 1)

  /** First index of `b` whose latency is at most `x` ms:
    * latency(i) <= x  <=>  i >= (writtenMs - epochMs - x) * rate / 1000.
    * The tolerance (a millionth of an index) keeps an event whose latency
    * equals `x` from being lost to rounding.
    */
  private def firstAtMost(b: PacedBatch, x: Double): Long =
    math.max(b.lo, math.ceil(((b.writtenMs - epochMs) - x) * rateEps / 1000.0 - 1e-6).toLong)

  /** Events of `b` whose latency is at most `x` ms. */
  def countAtMost(b: PacedBatch, x: Double): Long = math.max(0L, b.hi - firstAtMost(b, x))

  /** Nearest-rank p-quantile of event latency over all events of `batches`. */
  def latencyPercentile(batches: Seq[PacedBatch], p: Double): Double = {
    val bs = batches.filter(_.events > 0)
    require(bs.nonEmpty, "no events")
    val n = bs.map(_.events).sum
    val k = Stats.rank(p, n)
    // The answer is one of the events' latencies: bisect on the value, then
    // snap to the smallest latency whose cumulative count reaches k.
    var lo = bs.map(b => latencyMs(b, b.hi - 1)).min - 1.0
    var hi = bs.map(b => latencyMs(b, b.lo)).max
    var it = 0
    while (hi - lo > 1e-6 && it < 200) {
      val mid = (lo + hi) / 2
      if (bs.map(countAtMost(_, mid)).sum >= k) hi = mid else lo = mid
      it += 1
    }
    // Snap to the largest event latency at or below `hi`.
    bs.flatMap { b =>
      val i = firstAtMost(b, hi)
      if (i < b.hi) Some(latencyMs(b, i)) else None
    }.max
  }
}
