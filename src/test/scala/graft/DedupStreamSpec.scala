package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.stream.DedupStream

/** Streaming dedup (stream/DedupStream): duplicates within the watermark
  * delay are dropped across batches, state is evicted once the watermark
  * passes (re-arrivals after eviction count as new — the bounded-state
  * contract), and content dedup keys on the canonicalized text digest.
  */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def startQuery(df: org.apache.spark.sql.DataFrame, name: String) =
    df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", graft.TempStores.newStorePath("dedup_ck").toString)
      .outputMode("append").start()

  test("withinWatermark drops cross-batch duplicates, evicts after the delay") {
    val input = MemoryStream[(Long, Long)](spark)
    val events = input.toDF().toDF("id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = startQuery(
      DedupStream.withinWatermark(events, Seq("id"), "ts", "10 seconds"), "dedup_wm")
    try {
      input.addData((1L, 1000L), (2L, 2000L), (1L, 1500L))
      q.processAllAvailable()
      // in-batch duplicate of id=1 dropped
      assert(spark.table("dedup_wm").count() == 2)

      input.addData((1L, 3000L)) // cross-batch duplicate, state still live
      q.processAllAvailable()
      assert(spark.table("dedup_wm").count() == 2)

      // push the watermark far past id=1's expiry (1000 + 10s), then
      // re-send id=1: state was evicted, so it counts as a NEW record
      input.addData((9L, 200000L))
      q.processAllAvailable()
      input.addData((1L, 201000L))
      q.processAllAvailable()
      val perId = spark.table("dedup_wm").groupBy(col("id")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(perId == Map(1L -> 2L, 2L -> 1L, 9L -> 1L), s"got $perId")
    } finally q.stop()
  }

  test("byContent dedupes trivially-reformatted copies via normalize_text md5") {
    val input = MemoryStream[(String, Long)](spark)
    val docs = input.toDF().toDF("text", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = startQuery(DedupStream.byContent(docs, "text", "ts", "1 minute"), "dedup_ct")
    try {
      input.addData(("Hello World", 1000L), ("hello,  world!", 2000L),
        ("another doc", 3000L))
      q.processAllAvailable()
      val texts = spark.table("dedup_ct").select("text").as[String].collect().toSet
      assert(texts == Set("Hello World", "another doc"), s"got $texts")
      // the helper key column must not leak into the output schema
      assert(!spark.table("dedup_ct").columns.contains("_content_md5"))
    } finally q.stop()
  }

  test("dropDuplicates keeps dropping duplicates regardless of event time") {
    val input = MemoryStream[Long](spark)
    val q = startQuery(input.toDF().toDF("id").dropDuplicates("id"),
      "dedup_ex")
    try {
      input.addData(1L, 2L, 1L)
      q.processAllAvailable()
      input.addData(1L, 3L)
      q.processAllAvailable()
      assert(spark.table("dedup_ex").count() == 3)
    } finally q.stop()
  }
}
