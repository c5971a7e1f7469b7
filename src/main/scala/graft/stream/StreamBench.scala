package graft.stream

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.gen.EventGen

/** Streaming-throughput benchmark mirroring the reference's experiment 1
  * (BASELINE.md): drive the FULL pipeline — rate-limited producer → JSON
  * wire format → parse → latency → per-batch metrics foreachBatch/CSV —
  * for a fixed duration, then summarize achieved throughput and latency
  * percentiles from the metrics CSV exactly like the offline analysis
  * layer would.
  *
  * Usage: runMain graft.stream.StreamBench [rateEps] [seconds] [cores]
  * [source: rate|graft-events]. Prints one JSON line: achieved eps,
  * mean/p95-of-batch-p95 latency.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val rate = args.headOption.map(_.toInt).getOrElse(7000)
    val seconds = args.lift(1).map(_.toInt).getOrElse(60)
    val cores = args.lift(2).map(_.toInt).getOrElse(4)
    val source = args.lift(3).getOrElse("rate")
    val triggerSec = 5

    val spark = graft.Sessions.local(cores, "graft-streambench")

    val outDir = Files.createTempDirectory("streambench_out").toString
    val ckpt = Files.createTempDirectory("streambench_ckpt").toString

    // Producer wire format: the generated stream serialized to JSON, so the
    // benchmark pays the same parse cost as the Kafka path.
    val wire = EventGen.wireJson(if (source == "graft-events")
        spark.readStream.format("graft-events")
          .option("rateEps", rate).option("numPartitions", cores)
          // anchor the pacing schedule at now so created_ts is a real
          // event time and the measured latency is meaningful
          .option("startMs", System.currentTimeMillis()).load()
      else EventGen.eventStream(spark, rate))

    val q = MetricsJob.startWith(spark, wire, ckpt, triggerSec, None,
      MetricsJob.writeBatch(spark, outDir))
    Thread.sleep(seconds * 1000L)
    q.stop()

    val row = graft.analysis.Analysis.readMetricsCsv(spark, outDir).agg(
      sum(col("batch_events")).as("events"),
      count(lit(1)).as("batches"),
      avg(col("batch_events") / triggerSec).as("mean_eps"),
      avg(col("p95_latency_ms")).as("avg_p95_ms"),
      max(col("p95_latency_ms")).as("max_p95_ms")).head()

    println(s"""{"metric":"stream_eps","rate_eps":$rate,"seconds":$seconds,"cores":$cores,""" +
      s""""events":${row.getLong(0)},"batches":${row.getLong(1)},""" +
      s""""mean_throughput_eps":${row.getDouble(2)},""" +
      s""""avg_p95_latency_ms":${row.getDouble(3)},"max_p95_latency_ms":${row.getDouble(4)}}""")
    spark.stop()
  }
}
