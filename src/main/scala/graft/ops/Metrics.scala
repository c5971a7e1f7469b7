package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables.tsMillis
import graft.functions.ConstantRef.constant_ref

/** Latency + per-batch metric computation — the reference's core semantics
  * (spark_job/spark_stream_metrics.py:49-68) re-expressed as a SINGLE
  * aggregation pass.
  *
  * The reference runs 4 separate Spark jobs per micro-batch
  * (`rdd.isEmpty()` :56, `count()` :59, `approxQuantile` :61, `agg(avg)`
  * :62), re-reading the batch each time. Here the count doubles as the
  * empty-batch guard and the quantile sketch is an expression composed into
  * the same aggregation — one scan, partial state per task. The batch
  * replays below `agg` it (partial aggregation map-side, one shuffle of
  * sketch-sized state); the streaming sink observes it on a `noop` write
  * and merges the task partials on the driver (`MetricsJob.batchMetricsRow`:
  * one job, no shuffle). Either way the shape holds at any scale: the state
  * per task is O(sketch), never O(rows).
  */
object Metrics {

  /** Order-invariant exact mean of a fixed-2-decimal double column (the
    * fixture's `value`): sum integer cents (exact, commutative), divide
    * ONCE — the division of exact integers is the same IEEE double on
    * every engine and under every partitioning, so the result needs no
    * rounding at all. The naive `round(avg(x), 6)` is a tie lottery:
    * partial-sum accumulation order differs between engines by an ulp,
    * and when the true mean sits exactly on a decimal midpoint (dyadic
    * group counts make this real — observed at sf0.1 with n=32) the two
    * engines round opposite ways. The ×100 products sit within ~1e-13 of
    * an integer, so the inner round is unambiguous.
    */
  def meanExact2dp(value: Column): Column = meanExactScaled(value, 100L)

  /** [[meanExact2dp]] generalized to any fixed decimal scale (1e6 for the
    * engine's 6-rounded scores, 100 for the 2-decimal fixture money/value
    * columns).
    */
  def meanExactScaled(value: Column, scale: Long): Column =
    sum(round(value * scale, 0).cast("long")).cast("double") /
      (count(value) * lit(scale.toDouble))

  /** DuckDB spelling of [[meanExact2dp]] for oracle SQL. */
  def meanExact2dpSql(col: String): String = meanExactScaledSql(col, 100L)

  /** DuckDB spelling of [[meanExactScaled]]. */
  def meanExactScaledSql(col: String, scale: Long): String =
    s"CAST(sum(CAST(round($col * $scale) AS BIGINT)) AS DOUBLE) / (count($col) * $scale.0)"

  /** latency_ms = now - created_ts (reference formula
    * spark_job/spark_stream_metrics.py:49-52).
    *
    * `nowMs = None` reproduces the reference's processing-time proxy
    * including its second-granularity quantization
    * (`unix_timestamp(current_timestamp()) * 1000`); a fixed `nowMs` makes
    * the metric deterministic for oracle comparison (SURVEY §7.4.1).
    */
  def withLatency(df: DataFrame, tsCol: Column, nowMs: Option[Long]): DataFrame =
    df.withColumn("latency_ms", (now(nowMs) - tsMillis(tsCol)).cast("long"))

  /** The latency clock in epoch ms: a fixed `nowMs` as a plain literal, or
    * the reference's `unix_timestamp(current_timestamp()) * 1000`. The
    * wall-clock value is wrapped in [[ConstantRef]], so a streaming query's
    * generated code stays the same from one batch timestamp to the next and
    * compiles once.
    */
  def now(nowMs: Option[Long]): Column =
    nowMs.map(lit(_)).getOrElse(constant_ref(unix_timestamp(current_timestamp()) * 1000L))

  /** The five metric aggregates of a batch, INTEGER-exact flavor for oracle
    * hash-matching. Latency is integral ms at ~1e9 magnitude, where a
    * 6-decimal rounding of a double sits below one ulp — cross-engine
    * differences in summation/division order flip the last digit (observed
    * r1: Spark `avg` vs DuckDB `avg` disagree in the 16th significant
    * digit). So every compared column is an exact integer:
    *
    *  - `mean_latency_us = sum(lat)*1000 div n` — long arithmetic, exact in
    *    both engines (DuckDB sums BIGINT into HUGEINT; `div`/`//` truncate
    *    identically for positives).
    *  - `pXX_latency_ms_x100 = round(percentile * 100)` — the linear
    *    interpolation `a + (b-a) * (k(n-1) mod 100)/100` over integers is
    *    mathematically an integer when scaled by 100; fp evaluation is off
    *    by ≲1e-4, far inside round-to-nearest's 0.5 margin, so BOTH engines
    *    snap to the same integer regardless of interpolation formula.
    *
    * Raw aggregates; callers derive `mean_latency_us` via [[derivedMetrics]]
    * (the div needs sum and count as named columns).
    */
  def metricAggsExact(lat: Column): Seq[Column] = {
    // ONE array-percentile aggregate, not three scalar ones: the three
    // spellings are identical expressions, so Catalyst plans a single
    // buffer (same dedup trick as metricAggsApprox) — exact percentile
    // buffers EVERY value, so one buffer vs three is a 3× cut in the
    // sort-and-merge that dominates this agg (measured at the 8× sweep:
    // a6_batch_metrics 3.67 s → 1.28 s at 8×, ratio 7.0 → 3.8).
    val pcts = percentile(lat, array(lit(0.50), lit(0.95), lit(0.99)))
    Seq(
      count(lit(1)).as("batch_events"),
      // decimal(38,0) accumulator: a long sum would wrap silently (non-ANSI)
      // past ~9.2e6 events/batch at ~1e9 ms magnitudes, where the DuckDB
      // oracle (HUGEINT accumulation) keeps going — 38 digits matches it.
      sum(lat.cast("decimal(38,0)")).as("_lat_sum"),
      round(element_at(pcts, 1) * 100, 0).cast("long").as("p50_latency_ms_x100"),
      round(element_at(pcts, 2) * 100, 0).cast("long").as("p95_latency_ms_x100"),
      round(element_at(pcts, 3) * 100, 0).cast("long").as("p99_latency_ms_x100"))
  }

  /** Final projection over [[metricAggsExact]] output: exact integer mean
    * in µs via integral division.
    */
  val derivedMetrics: Seq[Column] = Seq(
    col("batch_events"),
    expr("cast(_lat_sum * 1000 div batch_events as long)").as("mean_latency_us"),
    col("p50_latency_ms_x100"),
    col("p95_latency_ms_x100"),
    col("p99_latency_ms_x100"))

  /** Production flavor: Greenwald-Khanna sketch (`percentile_approx`),
    * mergeable and O(1/accuracy) state per partition — the right choice on
    * a large cluster where exact percentile would sort each group.
    * accuracy=100 ≈ the reference's relativeError=0.01
    * (spark_stream_metrics.py:61; accuracy = 1/relativeError).
    */
  def metricAggsApprox(lat: Column, accuracy: Int = 100): Seq[Column] = Seq(
    count(lit(1)).as("batch_events"),
    avg(lat).as("mean_latency_ms"),
    // cast: percentile_approx of an integral column yields integral values
    element_at(percentile_approx(lat, array(lit(0.5), lit(0.95), lit(0.99)), lit(accuracy)), 1)
      .cast("double").as("p50_latency_ms"),
    element_at(percentile_approx(lat, array(lit(0.5), lit(0.95), lit(0.99)), lit(accuracy)), 2)
      .cast("double").as("p95_latency_ms"),
    element_at(percentile_approx(lat, array(lit(0.5), lit(0.95), lit(0.99)), lit(accuracy)), 3)
      .cast("double").as("p99_latency_ms"))

  /** Global single-pass metrics record over an event frame — the A6
    * composite (spark_stream_metrics.py:59-68) as one job.
    */
  def batchMetrics(events: DataFrame, tsCol: Column, nowMs: Long): DataFrame =
    withLatency(events, tsCol, Some(nowMs))
      .agg(metricAggsExact(col("latency_ms")).head, metricAggsExact(col("latency_ms")).tail: _*)
      .select(derivedMetrics: _*)

  /** Batch-replay of the streaming pipeline: bucket events into
    * trigger-sized micro-batches by event time and compute the per-batch
    * metrics table (batch_epoch_sec plays batch_id/epoch_sec). Partial
    * aggregation keeps the shuffle at one row per (bucket) — at 100 TB the
    * shuffle key count is bounded by time-range/trigger, not row count.
    */
  def bucketedMetrics(events: DataFrame, tsCol: Column, nowMs: Long,
      triggerSec: Int = 5): DataFrame = {
    val bucket = (floor(tsMillis(tsCol) / (triggerSec * 1000L)) * triggerSec).as("batch_epoch_sec")
    withLatency(events, tsCol, Some(nowMs))
      .groupBy(bucket)
      .agg(metricAggsExact(col("latency_ms")).head, metricAggsExact(col("latency_ms")).tail: _*)
      .select(col("batch_epoch_sec") +: derivedMetrics: _*)
  }
}
