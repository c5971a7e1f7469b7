package graft

import org.apache.spark.sql.functions._
import graft.ops.Metrics

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDf = Seq(
    ("a", 1000L), ("b", 2000L), ("c", 3000L), ("d", 4000L), ("e", 5000L))
    .toDF("event_id", "ts_ms")
    .withColumn("ts", timestamp_millis($"ts_ms"))

  test("withLatency computes now - ts in ms with injected clock") {
    val lat = Metrics.withLatency(eventsDf, $"ts", Some(10000L))
      .select($"event_id", $"latency_ms").as[(String, Long)].collect().toMap
    assert(lat == Map("a" -> 9000L, "b" -> 8000L, "c" -> 7000L, "d" -> 6000L, "e" -> 5000L))
  }

  test("batchMetrics is a single-pass integer-exact record") {
    val row = Metrics.batchMetrics(eventsDf, $"ts", 10000L).head()
    assert(row.getAs[Long]("batch_events") == 5L)
    // mean = (9000+8000+7000+6000+5000)*1000 div 5 = 7_000_000 us
    assert(row.getAs[Long]("mean_latency_us") == 7000000L)
    assert(row.getAs[Long]("p50_latency_ms_x100") == 700000L)
    // exact percentile: p95 over [5000..9000] = 8800 (linear interpolation)
    assert(row.getAs[Long]("p95_latency_ms_x100") == 880000L)
    assert(row.getAs[Long]("p99_latency_ms_x100") == 896000L)
  }

  test("percentiles are monotone p50 <= p95 <= p99 on fixture data") {
    val ev = Tables.events(spark, sf0001)
    val row = Metrics.batchMetrics(ev, col("ts"), 1706745600000L).head()
    val (p50, p95, p99) = (row.getAs[Long]("p50_latency_ms_x100"),
      row.getAs[Long]("p95_latency_ms_x100"), row.getAs[Long]("p99_latency_ms_x100"))
    assert(p50 <= p95 && p95 <= p99)
  }

  test("approx percentiles land within the sketch's relative error of exact") {
    val ev = Metrics.withLatency(Tables.events(spark, sf0001), col("ts"),
      Some(1706745600000L))
    // (batch_events, mean, p50, p95, p99) from the accuracy=100 sketch
    val a = graft.stream.MetricsJob.batchMetricsRow(ev).get
    val exactAggs = Metrics.metricAggsExact(col("latency_ms"))
    val e = ev.agg(exactAggs.head, exactAggs.tail: _*).head()
      .getValuesMap[Long](Seq("p50_latency_ms_x100", "p95_latency_ms_x100", "p99_latency_ms_x100"))
      .map { case (k, v) => k.stripSuffix("_x100") -> v / 100.0 }
    // GK sketch guarantees rank error <= 1/accuracy; translate to a loose
    // value tolerance via the observed spread.
    val spread = e("p99_latency_ms") - e("p50_latency_ms")
    Seq("p50_latency_ms" -> 2, "p95_latency_ms" -> 3, "p99_latency_ms" -> 4).foreach { case (c, i) =>
      val diff = math.abs(a.getDouble(i) - e(c))
      assert(diff <= math.max(spread * 0.05, 1000.0),
        s"$c approx=${a.getDouble(i)} exact=${e(c)}")
    }
  }

  test("bucketedMetrics partitions by event-time bucket") {
    val m = Metrics.bucketedMetrics(eventsDf, $"ts", 10000L, triggerSec = 2)
      .orderBy("batch_epoch_sec")
      .select($"batch_epoch_sec", $"batch_events").as[(Long, Long)].collect()
    // ts seconds: 1,2,3,4,5 -> buckets 0(1), 2(2,3), 4(4,5)
    assert(m.toSeq == Seq((0L, 1L), (2L, 2L), (4L, 2L)))
  }
}
