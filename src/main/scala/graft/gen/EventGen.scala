package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Event
import graft.sources.EventsSource

/** Deterministic reimplementation of the reference producer's event
  * generation rules (producer/producer.py:38-45):
  *   user_id    = i % 10000
  *   event_type = cycle(click, view, purchase, login)
  *   value      = (i % 1000) / 10.0         in [0.0, 99.9]
  *   payload    = "x" * max(0, size - 120)
  *   created_ts = pacing schedule: start + i / rate (absolute-schedule
  *                pacing, producer.py:51-54 — average rate holds even if
  *                individual sends lag)
  *
  * Expressed over `spark.range(n)` — a distributed generator, not a driver
  * loop: at any scale the rows materialize in parallel across partitions.
  */
object EventGen {

  def events(spark: SparkSession, n: Long, rateEps: Double = 1000.0,
      startMs: Long = 0L, sizeBytes: Int = 200): DataFrame = {
    val filler = "x" * math.max(0, sizeBytes - 120)
    spark.range(n).select(
      // Deterministic stand-in for the producer's uuid4 (an id, not a key).
      concat(lit("evt-"), lpad(col("id").cast("string"), 12, "0")).as("event_id"),
      (lit(startMs) + (col("id") * 1000.0 / rateEps).cast("long")).as("created_ts"),
      (col("id") % 10000).cast("int").as("user_id"),
      element_at(array(Event.types.map(lit): _*),
        (col("id") % Event.types.size).cast("int") + 1).as("event_type"),
      ((col("id") % 1000) / 10.0).as("value"),
      lit(filler).as("payload"))
  }

  /** Event rows (batch or stream) as the one JSON string column `value`
    * — the Kafka wire format (producer.py:21 json.dumps), for driving the
    * streaming pipeline.
    */
  def wireJson(events: DataFrame): DataFrame =
    events.select(to_json(struct(EventsSource.schema.fieldNames.toSeq.map(col): _*)).as("value"))

  /** Streaming flavor: the built-in rate source reproduces the producer's
    * rows-per-second contract natively; same field derivation.
    */
  def eventStream(spark: SparkSession, rateEps: Int, sizeBytes: Int = 200): DataFrame = {
    val filler = "x" * math.max(0, sizeBytes - 120)
    spark.readStream.format("rate").option("rowsPerSecond", rateEps).load()
      .select(
        concat(lit("evt-"), lpad(col("value").cast("string"), 12, "0")).as("event_id"),
        unix_millis(col("timestamp")).as("created_ts"),
        (col("value") % 10000).cast("int").as("user_id"),
        element_at(array(Event.types.map(lit): _*),
          (col("value") % Event.types.size).cast("int") + 1).as("event_type"),
        ((col("value") % 1000) / 10.0).as("value"),
        lit(filler).as("payload"))
  }
}
