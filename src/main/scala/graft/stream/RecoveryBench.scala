package graft.stream

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.gen.EventGen

/** Fault-tolerance / recovery benchmark — the single-JVM analog of the
  * reference's experiment 3 (BASELINE.md: kill -9 the driver mid-stream,
  * restart from checkpoint, measure time to the first recovered batch;
  * published total 95 s = 48 s to full stop + 47 s restart).
  *
  * Method here: run the full pipeline (rate producer → JSON parse →
  * latency → per-batch metrics) with a checkpoint for `runSec`, stop the
  * query abruptly (interrupts the stream-execution thread; offsets/WAL
  * survive in the checkpoint, exactly what a crash leaves behind), then
  * restart the SAME checkpoint and time start() → first committed batch.
  * The rate source keeps advancing on wall-clock during the outage, so the
  * first recovered batch also demonstrates backlog catch-up: its input
  * size ≈ rate × downtime.
  *
  * The sink is [[MetricsJob.writeBatchIdempotent]] (per-batch-id overwrite),
  * so a batch re-processed after recovery replaces its own output —
  * effectively-once, one better than the reference's at-least-once CSV
  * append. Integrity is asserted from the output itself: batch_ids are
  * distinct by construction and must be gap-free.
  *
  * Usage: runMain graft.stream.RecoveryBench [rateEps] [runSec] [cores]
  * [source: rate|graft-events] — `graft-events` drives the DataSourceV2
  * connector (sources/EventsSource) through the same kill→restart cycle,
  * proving its checkpointed pacing-epoch offsets recover like Kafka's.
  * Prints one JSON line.
  */
object RecoveryBench {
  def main(args: Array[String]): Unit = {
    val rate = args.headOption.map(_.toInt).getOrElse(7000)
    val runSec = args.lift(1).map(_.toInt).getOrElse(30)
    val cores = args.lift(2).map(_.toInt).getOrElse(4)
    val source = args.lift(3).getOrElse("rate")
    val triggerSec = 5

    val spark = graft.Sessions.local(cores, "graft-recoverybench")

    val outDir = Files.createTempDirectory("recovery_out").toString
    val ckpt = Files.createTempDirectory("recovery_ckpt").toString

    def wire = EventGen.wireJson(if (source == "graft-events")
        spark.readStream.format("graft-events")
          .option("rateEps", rate).option("numPartitions", cores).load()
      else EventGen.eventStream(spark, rate))

    // Phase 1: steady state until the "crash".
    val q1 = MetricsJob.startWith(spark, wire, ckpt, triggerSec, None,
      MetricsJob.writeBatchIdempotent(spark, outDir))
    Thread.sleep(runSec * 1000L)
    val tKill = System.nanoTime()
    q1.stop() // interrupts the stream thread; checkpoint keeps committed offsets
    val stopMs = (System.nanoTime() - tKill) / 1000000L

    // Phase 2: restart from the same checkpoint; time to first COMMITTED
    // recovered batch (progress with committed rows, not just query start).
    val committedBefore = q1.recentProgress.map(_.batchId).foldLeft(-1L)(math.max)
    val progress1 = q1.recentProgress.map(p => p.batchId -> p.numInputRows).toMap
    val tRestart = System.nanoTime()
    val q2 = MetricsJob.startWith(spark, wire, ckpt, triggerSec, None,
      MetricsJob.writeBatchIdempotent(spark, outDir))
    var firstBatchMs = -1L
    var recoveredRows = -1L
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (firstBatchMs < 0 && System.nanoTime() < deadline) {
      val done = q2.recentProgress.find(p => p.batchId > committedBefore && p.numInputRows > 0)
      done match {
        case Some(p) =>
          firstBatchMs = (System.nanoTime() - tRestart) / 1000000L
          recoveredRows = p.numInputRows
        case None => Thread.sleep(50)
      }
    }
    // Let a couple of post-recovery batches commit, then check integrity.
    Thread.sleep(2L * triggerSec * 1000L)
    q2.stop()

    val m = graft.analysis.Analysis.readMetricsCsv(spark, outDir)
    val ids = m.select(col("batch_id")).distinct()
      .orderBy("batch_id").collect().map(_.getLong(0))
    // Integrity: every batch the ENGINE saw input rows for must have
    // exactly one output row. Empty batches (first trigger after an epoch
    // reset, restart re-plans) legitimately write nothing — the P8
    // empty-batch guard — so a raw batch-id-sequence gap is not a hole.
    val progress = progress1 ++ q2.recentProgress.map(p => p.batchId -> p.numInputRows)
    val missing = progress.collect { case (id, n) if n > 0 => id }.toSet -- ids.toSet
    val events = m.agg(sum(col("batch_events"))).head().getLong(0)

    println(s"""{"metric":"recovery","source":"$source","rate_eps":$rate,"run_sec":$runSec,"cores":$cores,""" +
      s""""stop_ms":$stopMs,"restart_to_first_recovered_batch_ms":$firstBatchMs,""" +
      s""""recovered_backlog_events":$recoveredRows,""" +
      s""""batches":${ids.length},"missing_nonempty_batches":${missing.size},"events_total":$events}""")
    spark.stop()
  }
}
