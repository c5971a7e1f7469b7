package graft

import scala.util.Try

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.stream.MetricsJob

/** Broker-gated end-to-end test of the Kafka path (S1/S2/T4) — the
  * reference's producer → topic → streaming metrics → CSV flow
  * (spark_job/spark_stream_metrics.py:33-86, producer/producer.py:37-56).
  *
  * The sandbox has no broker (and no spark-sql-kafka jar), so the suite
  * CANCELS cleanly unless `GRAFT_KAFKA_BOOTSTRAP` points at a reachable
  * broker AND the Kafka connector is on the classpath. Wherever both hold
  * (any real deployment), this closes the only compile-checked-only parity
  * hole: the Kafka source/sink options are exercised live, not just
  * type-checked.
  */
class KafkaIntegrationSpec extends SparkSpec {

  private val bootstrap = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")

  private def kafkaOnClasspath: Boolean =
    Try(Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess

  test("producer → topic → streaming metrics → CSV (one metrics row per batch)") {
    assume(bootstrap.isDefined,
      "set GRAFT_KAFKA_BOOTSTRAP=host:port to run the live-Kafka test")
    assume(kafkaOnClasspath,
      "spark-sql-kafka-0-10 must be on the classpath for the live-Kafka test")
    val broker = bootstrap.get
    val topic = s"graft_it_${System.currentTimeMillis()}"
    val outDir = graft.TempStores.newStorePath("graft_kafka_out").toString
    val ckDir = graft.TempStores.newStorePath("graft_kafka_ck").toString

    // S2: publish 500 producer-rule events as JSON (the reference wire
    // format) through the batch Kafka sink. Auto-topic-creation or a
    // pre-created topic both work; partition count is broker-side config.
    val n = 500L
    MetricsJob.publishKafka(
      graft.gen.EventGen.wireJson(graft.gen.EventGen.events(spark, n, rateEps = 1000.0,
        startMs = System.currentTimeMillis() - 10000L)),
      broker, topic)

    // S1 + T4: subscribe from EARLIEST (deterministic on a fresh topic)
    // and drain with AvailableNow so the query self-terminates after
    // consuming exactly the published backlog.
    val raw = MetricsJob.kafkaSource(spark, broker, topic, "earliest")
    val q = MetricsJob.withLatency(MetricsJob.parse(raw))
      .writeStream
      .foreachBatch(MetricsJob.writeBatch(spark, outDir) _)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow drain must self-terminate")

    // S3: the per-batch metrics CSV — one row per non-empty micro-batch,
    // batch_events summing to the published count.
    val metrics = spark.read.option("header", "true")
      .option("recursiveFileLookup", "true").csv(outDir)
    val batches = metrics.select(col("batch_events").cast("long")).collect()
    assert(batches.nonEmpty, "expected at least one metrics row")
    assert(batches.map(_.getLong(0)).sum == n,
      s"metrics rows must account for all $n published events")
    val p = metrics.select(col("p50_latency_ms").cast("double"),
      col("p95_latency_ms").cast("double"),
      col("p99_latency_ms").cast("double")).head()
    assert(p.getDouble(0) <= p.getDouble(1) && p.getDouble(1) <= p.getDouble(2),
      "percentiles must be monotone")
  }
}
