package graft.stream

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{BatchMetrics, Event}
import graft.ops.Metrics

/** The reference's flagship streaming job re-expressed Spark-first in
  * Scala: Kafka (or any value-column stream) → JSON parse → latency
  * derivation → per-micro-batch metrics → CSV append + console, with
  * checkpointing (spark_job/spark_stream_metrics.py:16-86).
  *
  * Differences from the reference, by design (SURVEY §4.3): the four
  * separate per-batch actions (`rdd.isEmpty`, `count`, `approxQuantile`,
  * `agg(avg)`) collapse into ONE aggregation — count doubles as the
  * empty-batch guard and the Greenwald-Khanna sketch rides in the same
  * aggregation. That aggregation is observed metrics on one `noop` write,
  * so a non-empty batch runs 1 Spark job with no shuffle, and the one-row
  * CSV is written by the sink itself, without a job (measured: 1 job per
  * batch on the paced 7,000 events/s benchmark, where the `agg` spelling
  * ran 2 under AQE). Output of [[writeBatch]] stays at-least-once
  * (non-transactional CSV append), exactly like the reference
  * (SURVEY §7.4.3).
  */
object MetricsJob {

  /** Parse stage (P1+P2): binary/string `value` column → typed event
    * columns. Works unchanged on a Kafka frame (binary value + metadata
    * cols) and on a MemoryStream[String] test frame.
    */
  def parse(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS value_str")
      .select(from_json(col("value_str"), Event.schema).as("e"))
      .select("e.*")

  /** Latency stage (P3): the reference's processing-time proxy with its
    * second-granularity quantization, or a fixed clock for deterministic
    * tests.
    */
  def withLatency(parsed: DataFrame, nowMs: Option[Long] = None): DataFrame =
    parsed.withColumn("latency_ms", (Metrics.now(nowMs) - col("created_ts")).cast("long"))

  /** Single-pass per-batch metrics (A6): returns None for an empty batch
    * (P8's guard, folded into the same job). accuracy=100 matches the
    * reference's relativeError=0.01.
    *
    * The [[Metrics.metricAggsApprox]] columns are observed on a `noop`
    * write of the batch: each task folds its rows into sketch-sized
    * partial state (one percentile sketch) and the driver merges the
    * partials, so the batch is read by 1 job with no shuffle, no AQE
    * re-plan and no result stage. The returned row is (batch_events,
    * mean, p50, p95, p99): the percentile array is spread here, as
    * doubles. When the optimizer drops the observation (a provably empty
    * frame), Spark completes it with an empty row, which reads as None.
    */
  def batchMetricsRow(batchDf: DataFrame): Option[Row] = {
    val aggs = Metrics.metricAggsApprox(col("latency_ms"))
    val obs = Observation()
    batchDf.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    val row = Await.result(obs.future, Duration.Inf)
    if (row.length == 0 || row.getLong(0) == 0L) None
    else {
      val pcts = if (row.isNullAt(2)) Seq.fill(3)(null) else row.getSeq[Number](2).map(_.doubleValue)
      Some(Row.fromSeq(Seq(row.get(0), row.get(1)) ++ pcts))
    }
  }

  private val csvHeader = BatchMetrics.schema.fieldNames.mkString(",")

  /** Writes metrics row `r` of batch `batchId` as the one-row CSV file
    * `dir/name` in the [[BatchMetrics]] layout, with the text Spark's CSV
    * writer produces: a header line, `Long`/`Double.toString` values and
    * `NaN` for a null aggregate (an all-malformed batch). The row is
    * already collected, so no Spark job runs. The bytes go through the
    * session's checkpoint file manager (`Sessions`), as an atomic write
    * that replaces an existing `name`: a hidden temp file renamed into
    * place, fork-free and fsync'd on a local path. Readers skip
    * `.`-prefixed files, so an interrupted write leaves nothing they read;
    * with `sweep`, the hidden temp files such a write left for `name`
    * are deleted once the new file is in place.
    */
  private def writeMetricsCsv(spark: SparkSession, dir: String, name: String,
      batchId: Long, r: Row, sweep: Boolean): Unit = {
    val epochSec = System.currentTimeMillis() / 1000L
    val aggs = (1 to 4).map(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
    val line = (Seq(batchId, epochSec, r.getLong(0)) ++ aggs).mkString(",")
    val dirPath = new Path(dir)
    val fm = CheckpointFileManager.create(dirPath, spark.sessionState.newHadoopConf())
    val out = fm.createAtomic(new Path(dirPath, name), overwriteIfPossible = true)
    try out.write(s"$csvHeader\n$line\n".getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
    if (sweep)
      fm.list(dirPath, (p: Path) => p.getName.startsWith(s".$name.") && p.getName.endsWith(".tmp"))
        .foreach(f => fm.delete(f.getPath))
  }

  /** The foreachBatch sink body (T2+S3): metrics row → a new single-row
    * CSV file `part-<batchId>-<uuid>.csv` under `outDir` (at-least-once
    * append) + console progress line.
    */
  def writeBatch(spark: SparkSession, outDir: String)(batchDf: DataFrame, batchId: Long): Unit =
    batchMetricsRow(batchDf).foreach { r =>
      writeMetricsCsv(spark, outDir, s"part-$batchId-${UUID.randomUUID()}.csv", batchId, r,
        sweep = false)
      // Console progress (S7) — one line per batch, like the reference's print.
      println(s"[metrics] batch=$batchId events=${r.getLong(0)} mean=${r.get(1)} " +
        s"p50=${r.get(2)} p95=${r.get(3)} p99=${r.get(4)}")
    }

  /** Kafka source (S1) — identical options to the reference. Not runnable
    * in the offline harness (no broker); the parse→metrics path is shared
    * with the MemoryStream tests, so this is config glue only.
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Idempotent variant of the metrics sink: each batch writes
    * `outDir/batch_id=N/part-00000.csv`, replacing the file a previous
    * attempt at the same batch wrote, so a batch re-processed after
    * checkpoint recovery replaces its own output instead of appending a
    * duplicate — upgrading the reference's at-least-once CSV semantics
    * (SURVEY §7.4.3) to effectively-once; the replay also deletes the
    * hidden temp files an interrupted attempt left. The file holds the same
    * [[BatchMetrics]] columns as [[writeBatch]]'s, `batch_id` included, so
    * a recursive scan with the declared schema reads both layouts; with
    * partition discovery `batch_id` comes from the directory name.
    */
  def writeBatchIdempotent(spark: SparkSession, outDir: String)(
      batchDf: DataFrame, batchId: Long): Unit =
    batchMetricsRow(batchDf).foreach { r =>
      writeMetricsCsv(spark, s"$outDir/batch_id=$batchId", "part-00000.csv", batchId, r,
        sweep = true)
    }

  /** Kafka producer sink (S2): JSON-serialized frame → topic. Batch
    * flavor; `ds.writeStream.format("kafka")` is the streaming twin. Like
    * the source, config glue only in the offline harness (no broker).
    */
  def publishKafka(jsonValueDf: DataFrame, bootstrap: String, topic: String): Unit =
    jsonValueDf
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .save()

  /** Wire any value-column streaming frame through the full pipeline
    * (T1-T5): parse → latency → foreachBatch `sink`, with checkpoint and
    * processing-time trigger. The sink is [[writeBatch]] for the
    * reference's at-least-once CSV append, or [[writeBatchIdempotent]] for
    * effectively-once output across checkpoint recovery (a replayed batch
    * replaces its own `batch_id=N/part-00000.csv` instead of appending a
    * duplicate row).
    *
    * The sink receives each batch as the one column `latency_ms`: a
    * metrics sink ([[writeBatch]], [[writeBatchIdempotent]] or one built
    * on [[batchMetricsRow]]) reads nothing else. foreachBatch hands the
    * sink an already-planned batch, so the optimizer can prune the JSON
    * parse to `created_ts` only when the projection is here; a sink that
    * needs the event columns builds its own query from [[parse]].
    */
  def startWith(spark: SparkSession, raw: DataFrame, checkpointDir: String,
      triggerSec: Int, nowMs: Option[Long],
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    withLatency(parse(raw), nowMs)
      .select("latency_ms")
      .writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"$triggerSec seconds"))
      .start()

  /** Stream-stream interval join — the remaining §2.6 "absent feature":
    * correlate two event streams on a key within a bounded event-time
    * interval (right event in `[left_time, left_time + windowSec]`).
    * BOTH sides are watermarked and the join condition bounds their
    * event-time distance — the only shape under which Spark can purge
    * join state as watermarks advance; an unbounded-condition
    * stream-stream join would grow state forever. Column names are
    * prefixed per side so the join output is unambiguous.
    *
    * `joinType` admits the outer flavors ("leftOuter", "rightOuter",
    * "fullOuter"): an unmatched row is emitted null-extended once the
    * watermark passes its join window (i.e. once a match has become
    * impossible) — the outer result stays append-only and state stays
    * purgeable.
    */
  def correlate(left: DataFrame, right: DataFrame, key: String,
      watermark: String = "10 minutes", windowSec: Long = 300L,
      joinType: String = "inner"): DataFrame = {
    val l = left.select(left.columns.map(c => col(c).as(s"l_$c")): _*)
      .withColumn("l_time", timestamp_millis(col(s"l_created_ts")))
      .withWatermark("l_time", watermark)
    val r = right.select(right.columns.map(c => col(c).as(s"r_$c")): _*)
      .withColumn("r_time", timestamp_millis(col(s"r_created_ts")))
      .withWatermark("r_time", watermark)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col("r_time") >= col("l_time") &&
        col("r_time") <= col("l_time") + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
  }

  /** Event-time windowed aggregation with watermark — the streaming
    * extension beyond reference parity (SURVEY §2.6 "absent features"):
    * tumbling windows over `created_ts`, late data bounded by the
    * watermark, partial aggregation before the stateful shuffle.
    */
  def windowedCounts(parsed: DataFrame, windowDur: String = "1 minute",
      watermark: String = "2 minutes", slide: Option[String] = None): DataFrame =
    parsed
      .withColumn("event_time", timestamp_millis(col("created_ts")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur, slide.getOrElse(windowDur)),
        col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean_value"))

  /** Windowed distinct users via a streaming HLL sketch aggregation — the
    * ingest-time spelling of `ext/Sketches`: per-window state is the
    * KB-sized sketch (not the user-id set, which is what a streaming
    * `count(DISTINCT)` would have to hold), and the emitted row carries
    * BOTH the estimate and the sketch bytes, so closed windows remain
    * mergeable downstream (any coarser rollup = `hll_union_agg` over
    * emitted rows, raw events never re-scanned — `Sketches.rollup`).
    * Estimate accuracy: HLL rse ≈ 1.6% at the default lgK; exact below
    * sketch capacity (pinned in StreamingSpec against the batch twin).
    */
  def windowedDistinctUsers(parsed: DataFrame, windowDur: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    parsed
      .withColumn("event_time", timestamp_millis(col("created_ts")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur))
      .agg(hll_sketch_agg(col("user_id")).as("user_sketch"))
      .select(col("window"),
        hll_sketch_estimate(col("user_sketch")).as("n_users_est"),
        col("user_sketch"))

  /** Built-in streaming session windows: per-user sessions merged under an
    * inactivity gap by the native `session_window` aggregation (state is
    * one entry per OPEN session; append mode emits a session only when the
    * watermark proves it closed, which is what makes state purgeable on an
    * unbounded stream). The batch/oracle twin is `session_window_native`;
    * `stream/Sessionize` holds the arbitrary-state implementations of the
    * same semantics.
    */
  def sessionCounts(parsed: DataFrame, gap: String = "30 seconds",
      watermark: String = "1 minute"): DataFrame =
    parsed
      .withColumn("event_time", timestamp_millis(col("created_ts")))
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Streaming windowed count-min: per-window point-frequency state as a
    * KB-sized CMS counter matrix instead of a per-key count map — the
    * "how often did key X occur this window?" twin of
    * [[windowedDistinctUsers]]'s HLL. Emitted rows carry the sketch
    * BYTES, so closed windows stay mergeable downstream
    * (`Sketches.cmsMergeEstimate` over any range of emitted rows answers
    * point queries for that range — raw events never re-scanned), plus a
    * total-count column for normalization. Same eps/confidence/seed as
    * the batch path so partials from both merge. Estimates only ever
    * over-count (eps·N bound); exact while the window's distinct keys
    * stay far below the counter width — pinned in StreamingSpec against
    * the exact per-window counts.
    */
  def windowedKeyFreq(parsed: DataFrame, keyCol: String,
      windowDur: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    parsed
      .withColumn("event_time", timestamp_millis(col("created_ts")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur))
      .agg(
        call_function("count_min_sketch", col(keyCol),
          lit(0.001), lit(0.99), lit(42)).as("freq_sketch"),
        count(lit(1)).as("n_total"))

  /** Streaming windowed latency QUANTILES via a KLL sketch aggregation —
    * the quantile member of the per-window sketch family
    * ([[windowedDistinctUsers]] = distinct/HLL, [[windowedKeyFreq]] =
    * frequency/CMS): per-window state is the KB-sized KLL sketch, never
    * the full value buffer an exact streaming percentile would pin in
    * state. Emitted rows read p50/p95/p99 AND carry the sketch bytes, so
    * closed windows re-merge to ANY coarser rollup —
    * `Sketches.kllRollup` over a range of emitted rows answers that
    * range's quantiles with raw events never re-scanned. Same k as the
    * batch path (`Sketches.kllSketches`), so streaming partials and
    * batch partials merge freely; KLL is exact while a window's count
    * stays under the sketch buffer, rank error ~1.65/sqrt(k) beyond
    * (pinned in StreamingSpec against the batch twin).
    */
  def windowedLatencyQuantiles(withLat: DataFrame, valCol: String = "latency_ms",
      windowDur: String = "1 minute", watermark: String = "2 minutes",
      k: Int = 200): DataFrame = {
    def q(p: Double) =
      call_function("kll_sketch_get_quantile_double", col("lat_sketch"), lit(p))
    withLat
      .withColumn("event_time", timestamp_millis(col("created_ts")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur))
      .agg(
        call_function("kll_sketch_agg_double",
          col(valCol).cast("double"), lit(k)).as("lat_sketch"),
        count(lit(1)).as("n_total"))
      .select(col("window"), col("n_total"),
        q(0.5).as("p50"), q(0.95).as("p95"), q(0.99).as("p99"),
        col("lat_sketch"))
  }
}
