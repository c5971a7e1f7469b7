package graft.analysis

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.BatchMetrics

/** Offline-analysis layer: the reference's three pandas scripts
  * (results/exp1/analysis/analyze_exp1.py, exp2, exp3 analyze_recovery.py)
  * re-expressed as Spark batch queries. Instead of a Python loop over run
  * folders, runs are a `run_label` column and every per-run computation is
  * a grouped aggregate — one shuffle keyed by run, scale-free.
  */
object Analysis {

  /** S4: recursive CSV directory scan with the declared metrics schema —
    * replaces glob+concat (analyze_exp1.py:16-32); unreadable files are
    * dropped rather than crashing the scan (PERMISSIVE + null-drop mirrors
    * the reference's skip-unreadable behavior).
    */
  def readMetricsCsv(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("recursiveFileLookup", "true")
      .option("mode", "DROPMALFORMED")
      .schema(BatchMetrics.schema)
      .csv(dir)
      .na.drop(Seq("epoch_sec", "batch_events", "p95_latency_ms"))

  /** S5: summary CSV sink — single file, header, no index column
    * (analyze_exp1.py:110-111). `coalesce(1)` is correct here: the summary
    * is one row per run configuration, never large.
    */
  def writeSummaryCsv(summary: DataFrame, path: String): Unit =
    summary.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** P6: throughput derivation (analyze_exp1.py:50). */
  def withThroughput(metrics: DataFrame, triggerSec: Int = 5): DataFrame =
    metrics.withColumn("throughput_eps", col("batch_events") / lit(triggerSec.toDouble))

  /** P7: warm-up/measurement time-window filter (analyze_exp1.py:53-68),
    * applied PER RUN via a windowed min rather than a driver-side collect —
    * each run's anchor is its own `min(epoch_sec)`. The reference's
    * "<5 rows survive → drop the upper bound" fallback is preserved via a
    * windowed conditional, still one pass, no driver round-trip.
    */
  def measurementWindow(metrics: DataFrame, runCol: String,
      warmupSec: Long, measureSec: Long, minRows: Int = 5): DataFrame = {
    val w = Window.partitionBy(col(runCol))
    val t0 = min(col("epoch_sec")).over(w) + warmupSec
    val inStrict = col("epoch_sec") >= t0 && col("epoch_sec") < t0 + measureSec
    val strictN = sum(when(inStrict, 1L).otherwise(0L)).over(w)
    metrics
      .withColumn("_in_strict", inStrict)
      .withColumn("_strict_n", strictN)
      .withColumn("_t0", t0)
      .where(when(col("_strict_n") >= minRows, col("_in_strict"))
        .otherwise(col("epoch_sec") >= col("_t0")))
      .drop("_in_strict", "_strict_n", "_t0")
  }

  /** A4: per-run summary aggregates (analyze_exp1.py:70-81,
    * analyze_exp2.py:40-46). Exact percentile for oracle parity — pandas
    * `.quantile` is exact linear interpolation, as are Spark `percentile`
    * and DuckDB `quantile_cont` (SURVEY §7.4.2). Rounded so summation-order
    * ulp noise can't break hash compares.
    */
  def summarize(metrics: DataFrame, runCol: String): DataFrame =
    metrics.groupBy(col(runCol))
      .agg(
        count(lit(1)).as("n_batches"),
        round(avg(col("throughput_eps")), 6).as("mean_throughput_eps"),
        round(percentile(col("throughput_eps"), lit(0.95)), 6).as("p95_throughput_eps"),
        round(avg(col("mean_latency_ms")), 6).as("mean_latency_ms"),
        round(avg(col("p50_latency_ms")), 6).as("mean_p50_latency_ms"),
        round(avg(col("p95_latency_ms")), 6).as("mean_p95_latency_ms"),
        round(avg(col("p99_latency_ms")), 6).as("mean_p99_latency_ms"),
        round(max(col("p95_latency_ms")), 6).as("max_p95_latency_ms"))
      .orderBy(col(runCol))

  /** Exp1 end-to-end: metrics frame (already run-labeled) → windowed →
    * summarized (analyze_exp1.py:83-111).
    */
  def exp1Summary(metrics: DataFrame, runCol: String,
      warmupSec: Long = 120, measureSec: Long = 240, triggerSec: Int = 5): DataFrame =
    summarize(
      measurementWindow(withThroughput(metrics, triggerSec), runCol, warmupSec, measureSec),
      runCol)

  /** W3: lag-gap between consecutive batches (analyze_recovery.py:15) —
    * the reference's one genuine window function. The window is global per
    * run; partition by the run label so state never concentrates on one
    * task at scale.
    */
  def withGap(metrics: DataFrame, runCol: String): DataFrame = {
    val w = Window.partitionBy(col(runCol)).orderBy(col("epoch_sec"))
    metrics.withColumn("gap_sec", col("epoch_sec") - lag(col("epoch_sec"), 1).over(w))
  }

  /** W4/A7: the recovery event = argmax-gap row (analyze_recovery.py:18),
    * via `max_by(struct, gap)` — no global sort, a single aggregate.
    */
  def recoveryEvent(metrics: DataFrame, runCol: String): DataFrame = {
    val gapped = withGap(metrics, runCol).where(col("gap_sec").isNotNull)
    gapped.groupBy(col(runCol))
      .agg(max_by(
        struct(col("epoch_sec"), col("gap_sec"), col("batch_id"), col("p95_latency_ms")),
        struct(col("gap_sec"), col("epoch_sec"))).as("worst"))
      .select(col(runCol), col("worst.epoch_sec").as("epoch_sec"),
        col("worst.gap_sec").as("gap_sec"), col("worst.batch_id").as("batch_id"),
        col("worst.p95_latency_ms").as("p95_latency_ms"))
  }
}
