package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.stream.MetricsJob

/** Streaming-semantics tests (SURVEY §5.2.2): MemoryStream drives the same
  * parse→latency→foreachBatch path the Kafka source uses.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def jsonEvent(id: String, ts: Long): String =
    s"""{"event_id":"$id","created_ts":$ts,"user_id":1,"event_type":"click","value":1.5,"payload":"x"}"""

  test("pipeline emits one metrics row per non-empty batch, skips empty") {
    val input = MemoryStream[String](spark)
    val outDir = graft.TempStores.newStorePath("metrics_out").toString
    val ckpt = graft.TempStores.newStorePath("ckpt").toString
    val q = MetricsJob.withLatency(MetricsJob.parse(input.toDF()), Some(100000L))
      .writeStream
      .foreachBatch(MetricsJob.writeBatch(spark, outDir) _)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(jsonEvent("a", 40000L), jsonEvent("b", 60000L))
      q.processAllAvailable()
      input.addData() // empty batch — must not emit
      q.processAllAvailable()
      input.addData(jsonEvent("c", 70000L))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.read.option("header", "true").csv(outDir)
      .select($"batch_events".cast("long"), $"mean_latency_ms".cast("double"))
      .as[(Long, Double)].collect().sortBy(_._2)
    assert(rows.length == 2, s"expected 2 metric rows, got ${rows.mkString(",")}")
    assert(rows.map(_._1).toSeq == Seq(2L, 1L) || rows.map(_._1).toSeq == Seq(1L, 2L))
    // batch 1: latencies 60000, 40000 -> mean 50000; batch 2: 30000
    assert(rows.map(_._2).toSet == Set(50000.0, 30000.0))
  }

  test("streaming session_window: append emits a session once the watermark closes it") {
    val input = MemoryStream[String](spark)
    val q = MetricsJob.sessionCounts(MetricsJob.parse(input.toDF()))
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_win")
      .start()
    try {
      // two events 10s apart -> one session [0, 40s); then an event far
      // enough ahead that the watermark (1 min behind max) passes 40s
      input.addData(jsonEvent("a", 0L), jsonEvent("b", 10000L))
      q.processAllAvailable()
      assert(spark.table("sess_win").isEmpty,
        "open session must not be emitted in append mode")
      input.addData(jsonEvent("c", 200000L))
      q.processAllAvailable()
      input.addData(jsonEvent("d", 400000L)) // advance watermark again
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.table("sess_win")
      .select(unix_millis($"session_window.start"),
        unix_millis($"session_window.end"), $"n".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // first session: [0, 10s + 30s gap), 2 events
    assert(sessions.contains((0L, 40000L, 2L)), s"got $sessions")
  }

  test("windowed HLL distinct-user sketches: exact at fixture size, mergeable after emission") {
    // Three distinct users across two 1m windows (one user repeats, in
    // both windows); watermark-advancing event closes them. The sketch
    // estimate equals the exact distinct count at this cardinality, and
    // the EMITTED sketches union to the global distinct count without
    // touching the events again — the streaming half of ext/Sketches.
    def ev(id: String, ts: Long, user: Long): String =
      s"""{"event_id":"$id","created_ts":$ts,"user_id":$user,"event_type":"click","value":1.0,"payload":"x"}"""
    val input = MemoryStream[String](spark)
    val q = MetricsJob.windowedDistinctUsers(MetricsJob.parse(input.toDF()))
      .writeStream.outputMode("append")
      .format("memory").queryName("hll_win")
      .start()
    try {
      input.addData(
        ev("a", 1000L, 7L), ev("b", 2000L, 8L), ev("c", 3000L, 7L), // w0: {7,8}
        ev("d", 61000L, 7L), ev("e", 62000L, 9L),                   // w1: {7,9}
        ev("f", 1000000L, 1L))                                      // advance watermark
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("hll_win")
      .select(unix_millis($"window.start").as("w"), $"n_users_est")
      .as[(Long, Long)].collect().toMap
    assert(rows(0L) == 2L && rows(60000L) == 2L, s"got $rows")
    val merged = spark.table("hll_win")
      .agg(hll_sketch_estimate(hll_union_agg($"user_sketch")).as("n"))
      .head().getLong(0)
    assert(merged == 3L, s"union of emitted sketches = $merged, want 3")
  }

  test("windowed count-min key-frequency sketches: exact at fixture size, mergeable after emission") {
    // Two 1m windows of typed events; the emitted per-window CMS rows
    // answer point queries exactly at this cardinality, and merging the
    // emitted sketches answers the two-window range without re-scanning
    // events — the streaming half of the Sketches.cms* family.
    def ev(id: String, ts: Long, typ: String): String =
      s"""{"event_id":"$id","created_ts":$ts,"user_id":1,"event_type":"$typ","value":1.0,"payload":"x"}"""
    val input = MemoryStream[String](spark)
    val q = MetricsJob.windowedKeyFreq(MetricsJob.parse(input.toDF()), "event_type")
      .writeStream.outputMode("append")
      .format("memory").queryName("cms_win")
      .start()
    try {
      input.addData(
        ev("a", 1000L, "click"), ev("b", 2000L, "view"), ev("c", 3000L, "click"),
        ev("d", 61000L, "view"), ev("e", 62000L, "view"),
        ev("f", 1000000L, "scroll")) // advance watermark
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("cms_win")
      .select(unix_millis($"window.start").as("w"), $"freq_sketch", $"n_total")
    assert(emitted.where($"w" === 0L).head().getLong(2) == 3L)
    // per-window point queries are exact at this cardinality
    val w0 = graft.ext.Sketches.cmsMergeEstimate(spark,
      emitted.where($"w" === 0L).select($"freq_sketch".as("sketch")),
      Seq("click", "view"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w0 == Map("click" -> 2L, "view" -> 1L), s"got $w0")
    // merged emitted sketches answer the two-window range
    val range = graft.ext.Sketches.cmsMergeEstimate(spark,
      emitted.where($"w" <= 60000L).select($"freq_sketch".as("sketch")),
      Seq("click", "view"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(range == Map("click" -> 2L, "view" -> 3L), s"got $range")
  }

  test("windowed KLL latency quantiles: per-window == batch twin, emitted sketches re-merge to the range") {
    // Two 1m windows of events with known latencies (fixed clock so
    // latency_ms is deterministic). At this size KLL holds every value,
    // so per-window quantile reads EQUAL the batch-twin reads, and
    // kllRollup over the emitted sketch rows equals the batch sketch of
    // the union — the mergeable-after-emission contract.
    def ev(id: String, ts: Long): String =
      s"""{"event_id":"$id","created_ts":$ts,"user_id":1,"event_type":"click","value":1.0,"payload":"x"}"""
    val now = 2000000L // fixed clock: latency_ms = now - created_ts
    val input = MemoryStream[String](spark)
    val q = MetricsJob.windowedLatencyQuantiles(
      MetricsJob.withLatency(MetricsJob.parse(input.toDF()), Some(now)))
      .writeStream.outputMode("append")
      .format("memory").queryName("kll_win")
      .start()
    try {
      input.addData(
        ev("a", 1000L), ev("b", 2000L), ev("c", 30000L),  // w0 latencies
        ev("d", 61000L), ev("e", 90000L),                 // w1 latencies
        ev("f", 1000000L))                                // advance watermark
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("kll_win")
    val rows = emitted
      .select(unix_millis($"window.start").as("w"), $"n_total", $"p50", $"p95")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(rows(0L)._2 == 3L && rows(60000L)._2 == 2L, s"got $rows")
    // batch twin over the same per-window values (same k)
    def batchQ(lats: Seq[Long], p: Double): Double =
      graft.ext.Sketches.kllRollup(
        graft.ext.Sketches.kllSketches(
          lats.toDF("v"), Seq.empty, $"v".cast("double")),
        Seq.empty, Seq(p)).head().getDouble(0)
    val w0 = Seq(now - 1000L, now - 2000L, now - 30000L)
    val w1 = Seq(now - 61000L, now - 90000L)
    assert(rows(0L)._3 == batchQ(w0, 0.5) && rows(0L)._4 == batchQ(w0, 0.95))
    assert(rows(60000L)._3 == batchQ(w1, 0.5))
    // merged EMITTED sketches answer the two-window range without
    // re-scanning events — and equal the batch sketch of the union
    val merged = graft.ext.Sketches.kllRollup(
      emitted.where(unix_millis($"window.start") <= 60000L)
        .select($"lat_sketch".as("sketch")),
      Seq.empty, Seq(0.5, 0.95))
      .as[(Double, Double)].head()
    assert(merged == (batchQ(w0 ++ w1, 0.5), batchQ(w0 ++ w1, 0.95)),
      s"got $merged")
  }

  test("update output mode re-emits a window's row as its aggregate changes") {
    val input = MemoryStream[String](spark)
    val q = MetricsJob.windowedCounts(MetricsJob.parse(input.toDF()))
      .writeStream.outputMode("update")
      .format("memory").queryName("upd_win")
      .start()
    try {
      input.addData(jsonEvent("a", 1000L))
      q.processAllAvailable()
      input.addData(jsonEvent("b", 2000L)) // same [0, 60s) window
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("upd_win")
      .select(unix_millis($"window.start").as("w"), $"n")
      .as[(Long, Long)].collect().toSeq.filter(_._1 == 0L).map(_._2).sorted
    // update mode: one emission per trigger in which the window changed
    assert(emitted == Seq(1L, 2L), s"expected n=1 then n=2, got $emitted")
  }

  test("chained stateful aggregations: 1m windows roll up to 5m in one query") {
    // Two stateful operators in one streaming query (multi-stateful
    // support): fine-grained windowed counts re-aggregated to a coarser
    // window downstream — the hierarchical-rollup shape that previously
    // required two queries and an intermediate sink. window_time() gives
    // the event-time column of the first aggregation's output.
    val input = MemoryStream[String](spark)
    val fine = MetricsJob.windowedCounts(MetricsJob.parse(input.toDF()))
    val coarse = fine
      .groupBy(window(window_time($"window"), "5 minutes"), $"event_type")
      .agg(sum($"n").as("n"))
    val q = coarse.writeStream.outputMode("append")
      .format("memory").queryName("rollup_win")
      .start()
    try {
      input.addData(
        jsonEvent("a", 10000L), jsonEvent("b", 70000L),   // 1m windows 0, 1
        jsonEvent("c", 250000L),                          // 1m window 4
        jsonEvent("d", 1000000L))                         // advances watermark
      q.processAllAvailable()
      input.addData(jsonEvent("e", 2000000L))             // closes 5m window 0
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rollup_win")
      .select(unix_millis($"window.start"), $"event_type", $"n")
      .as[(Long, String, Long)].collect().toSet
    // the [0, 5m) coarse window aggregates all three fine windows
    assert(got.contains((0L, "click", 3L)), s"got $got")
  }

  test("foreach sink: per-row ForeachWriter receives every event exactly once") {
    StreamingSpec.foreachSeen.clear()
    val input = MemoryStream[String](spark)
    val q = MetricsJob.parse(input.toDF())
      .select($"event_id")
      .writeStream
      .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
        override def open(partitionId: Long, epochId: Long): Boolean = true
        override def process(row: org.apache.spark.sql.Row): Unit =
          StreamingSpec.foreachSeen.add(row.getString(0))
        override def close(errorOrNull: Throwable): Unit = ()
      })
      .start()
    try {
      input.addData(jsonEvent("a", 1000L), jsonEvent("b", 2000L))
      q.processAllAvailable()
      input.addData(jsonEvent("c", 3000L))
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(StreamingSpec.foreachSeen.asScala.toSeq.sorted == Seq("a", "b", "c"))
  }

  test("malformed JSON yields NULL struct (PERMISSIVE) and still counts") {
    val input = MemoryStream[String](spark)
    val outDir = graft.TempStores.newStorePath("metrics_out2").toString
    val ckpt = graft.TempStores.newStorePath("ckpt2").toString
    val q = MetricsJob.withLatency(MetricsJob.parse(input.toDF()), Some(100000L))
      .writeStream
      .foreachBatch(MetricsJob.writeBatch(spark, outDir) _)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(jsonEvent("a", 40000L), "{not valid json", jsonEvent("b", 60000L))
      q.processAllAvailable()
    } finally q.stop()
    val row = spark.read.option("header", "true").csv(outDir)
      .select($"batch_events".cast("long"), $"mean_latency_ms".cast("double")).head()
    assert(row.getLong(0) == 3L)      // reference counts all rows (count before latency)
    assert(row.getDouble(1) == 50000.0) // mean over the 2 parseable latencies
  }

  test("windowed aggregation with watermark produces per-window counts") {
    val input = MemoryStream[String](spark)
    val q = MetricsJob.windowedCounts(MetricsJob.parse(input.toDF()))
      .writeStream.outputMode("complete")
      .format("memory").queryName("windowed")
      .start()
    try {
      input.addData(
        jsonEvent("a", 0L), jsonEvent("b", 30000L),  // window [0, 60s)
        jsonEvent("c", 61000L))                      // window [60s, 120s)
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("windowed")
      .select(unix_millis($"window.start").as("w"), $"n")
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(0L -> 2L, 60000L -> 1L))
  }

  test("observe() surfaces per-batch metrics off the main pass (no extra job)") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    @volatile var observedRows = -1L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics
        if (m.containsKey("obs")) observedRows = m.get("obs").getAs[Long]("n_rows")
      }
    }
    spark.streams.addListener(listener)
    val input = MemoryStream[String](spark)
    val q = MetricsJob.parse(input.toDF())
      .observe("obs", count(lit(1)).as("n_rows"))
      .writeStream.outputMode("append").format("memory").queryName("observed")
      .start()
    try {
      input.addData(jsonEvent("a", 1000L), jsonEvent("b", 2000L), jsonEvent("c", 3000L))
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (observedRows < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    assert(observedRows == 3L, s"observed metric should see the batch, got $observedRows")
  }

  test("hopping windows: each event lands in window/slide overlapping windows") {
    val input = MemoryStream[String](spark)
    val q = MetricsJob.windowedCounts(MetricsJob.parse(input.toDF()),
        windowDur = "2 minutes", slide = Some("1 minute"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hopping")
      .start()
    try {
      input.addData(jsonEvent("a", 90000L)) // t=90s → windows [0,120s) and [60s,180s)
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("hopping")
      .select(unix_millis($"window.start").as("w"), $"n")
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(0L -> 1L, 60000L -> 1L))
  }

  test("stream-static enrichment join attaches dimension columns per batch") {
    val input = MemoryStream[String](spark)
    val dim = Seq((1, "gold"), (2, "basic")).toDF("user_id", "tier")
    val q = MetricsJob.parse(input.toDF()).join(dim, Seq("user_id"), "left")
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      input.addData(jsonEvent("a", 1000L),
        """{"event_id":"b","created_ts":2000,"user_id":99,"event_type":"view","value":1.0,"payload":"x"}""")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("enriched").select($"event_id", $"tier")
      .as[(String, Option[String])].collect().toMap
    assert(got("a").contains("gold"))
    assert(got("b").isEmpty) // left join keeps unmatched stream rows
  }

  test("streaming dedup within watermark drops repeated event ids") {
    val input = MemoryStream[String](spark)
    val q = graft.stream.DedupStream.withinWatermark(
        MetricsJob.parse(input.toDF()).withColumn("event_time", timestamp_millis($"created_ts")),
        Seq("event_id"), "event_time", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("deduped").start()
    try {
      input.addData(jsonEvent("a", 1000L), jsonEvent("a", 1000L), jsonEvent("b", 2000L))
      q.processAllAvailable()
      input.addData(jsonEvent("a", 3000L)) // same id, still inside watermark
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("deduped").select($"event_id").as[String].collect().toSeq
    assert(ids.sorted == Seq("a", "b"))
  }

  test("idempotent sink: re-processed batch replaces, never duplicates") {
    val outDir = graft.TempStores.newStorePath("metrics_idem").toString
    val df = MetricsJob.withLatency(MetricsJob.parse(
      Seq(jsonEvent("a", 40000L), jsonEvent("b", 60000L)).toDF("value")), Some(100000L))
    MetricsJob.writeBatchIdempotent(spark, outDir)(df, 7L)
    MetricsJob.writeBatchIdempotent(spark, outDir)(df, 7L) // recovery replay
    val rows = spark.read.option("header", "true")
      .option("recursiveFileLookup", "false").csv(outDir)
    assert(rows.count() == 1L, "replayed batch must overwrite, not append")
    assert(rows.columns.contains("batch_id")) // partition-discovered column
  }

  test("both metrics sinks write the files the DataFrameWriter spelling wrote, null aggregates as NaN") {
    val batches = Seq(
      3L -> Seq(jsonEvent("a", 40000L), jsonEvent("b", 60000L)),
      4L -> Seq("{not valid json", "{nor this")) // all malformed: aggregates are null
    val Seq(append, idem, appendTwin, idemTwin) =
      Seq("sink_append", "sink_idem", "twin_append", "twin_idem")
        .map(graft.TempStores.newStorePath(_).toString)
    val t0 = System.currentTimeMillis() / 1000L
    batches.foreach { case (id, events) =>
      val df = MetricsJob.withLatency(MetricsJob.parse(events.toDF("value")), Some(100000L))
      MetricsJob.writeBatch(spark, append)(df, id)
      MetricsJob.writeBatchIdempotent(spark, idem)(df, id)
      // the Spark CSV writer's spelling of the same row
      val r = MetricsJob.batchMetricsRow(df).get
      def agg(i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      val twin = Seq((id, t0, r.getLong(0), agg(1), agg(2), agg(3), agg(4)))
        .toDF(graft.model.BatchMetrics.schema.fieldNames.toSeq: _*).coalesce(1)
      twin.write.mode("append").option("header", "true").csv(appendTwin)
      twin.write.mode("overwrite").option("header", "true").csv(s"$idemTwin/batch_id=$id")
    }
    val t1 = System.currentTimeMillis() / 1000L
    // epoch_sec is the write time, so it is compared against the window
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val epochs = df.select($"epoch_sec".cast("long")).as[Long].collect()
      assert(epochs.forall(e => e >= t0 && e <= t1), s"epoch_sec outside [$t0, $t1]")
      df.drop("epoch_sec").collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
    }
    def csv(dir: String) = spark.read.option("header", "true").csv(dir)
    for ((dir, twinDir) <- Seq(append -> appendTwin, idem -> idemTwin)) {
      assert(csv(dir).columns.toSeq == csv(twinDir).columns.toSeq)
      val got = rows(csv(dir))
      assert(got.size == 2 && got == rows(csv(twinDir)), got)
      assert(got.exists(_.contains("NaN")), "null aggregates are written as NaN")
      val analysed = rows(graft.analysis.Analysis.readMetricsCsv(spark, dir))
      assert(analysed == rows(graft.analysis.Analysis.readMetricsCsv(spark, twinDir)))
      // the analysis scan drops a NaN p95, like the reference's dropna
      assert(analysed.map(_.take(2)) == Seq(Seq("3", "2")))
    }
  }

  test("wall-clock withLatency generates the same code at every batch timestamp") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    // a Range source keeps the latency projection in generated code
    val events = spark.range(3).select(($"id" * 1000L).as("created_ts"))
    val literal = (unix_timestamp(current_timestamp()) * 1000L - $"created_ts").cast("long")
    def code(df: org.apache.spark.sql.DataFrame) =
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    def run() = {
      val lat = MetricsJob.withLatency(events)
      val both = lat.withColumn("literal", literal)
        .select($"latency_ms", $"literal").as[(Long, Long)].collect()
      (code(lat), code(events.withColumn("latency_ms", literal)), both)
    }
    val (code1, literalCode1, rows1) = run()
    Thread.sleep(1100L) // unix_timestamp has second granularity
    val (code2, literalCode2, rows2) = run()
    for (rows <- Seq(rows1, rows2)) {
      assert(rows.length == 3)
      rows.foreach { case (got, want) => assert(got == want) }
    }
    assert(rows2.head._1 - rows1.head._1 >= 1000L, "two different timestamps")
    assert(code1.nonEmpty && code1 == code2)
    // the literal spelling inlines the timestamp, so its source differs
    assert(literalCode1 != literalCode2)

    // The micro-batch path re-plans with each batch's timestamp: after the
    // first batch, later batches compile no generated class.
    val input = MemoryStream[String](spark)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = MetricsJob.withLatency(MetricsJob.parse(input.toDF())).writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select($"latency_ms").as[Long].collect().foreach(seen.add))
      .start()
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiled = try {
      (0 until 3).map { i =>
        if (i > 0) Thread.sleep(1100L) // the next batch timestamp second
        val before = compiles
        input.addData(jsonEvent(s"e$i", System.currentTimeMillis()))
        q.processAllAvailable()
        compiles - before
      }
    } finally q.stop()
    assert(compiled.tail == Seq(0L, 0L), s"classes compiled per batch: $compiled")
    import scala.jdk.CollectionConverters._
    assert(seen.size == 3 && seen.asScala.forall(l => l > -1000L && l < 60000L), seen)
  }

  test("checkpoint restart does not re-emit committed batches") {
    val input = MemoryStream[String](spark)
    val outDir = graft.TempStores.newStorePath("metrics_out3").toString
    val ckpt = graft.TempStores.newStorePath("ckpt3").toString
    def run(data: Seq[String]): Unit = {
      val q = MetricsJob.withLatency(MetricsJob.parse(input.toDF()), Some(100000L))
        .writeStream
        .foreachBatch(MetricsJob.writeBatch(spark, outDir) _)
        .option("checkpointLocation", ckpt)
        .start()
      try { if (data.nonEmpty) input.addData(data: _*); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(jsonEvent("a", 40000L)))
    run(Seq(jsonEvent("b", 60000L))) // restart from same checkpoint
    val n = spark.read.option("header", "true").csv(outDir).count()
    assert(n == 2L, s"restart must append exactly one new row, got $n total")
  }

  test("idempotent option: restart + crash-replay yields zero duplicate batch rows") {
    // The effectively-once upgrade, driven through the REAL streaming
    // restart path (same checkpoint across two query lifetimes), plus the
    // worst at-least-once window: a crash AFTER the sink wrote but BEFORE
    // the checkpoint committed, simulated by re-invoking the sink with an
    // already-written batch id. With writeBatchIdempotent every batch id
    // must own exactly one row no matter how often it replays.
    val input = MemoryStream[String](spark)
    val outDir = graft.TempStores.newStorePath("metrics_idem2").toString
    val ckpt = graft.TempStores.newStorePath("ckpt_idem2").toString
    def run(data: Seq[String]): Unit = {
      val q = MetricsJob.startWith(spark, input.toDF(), ckpt, triggerSec = 1,
        nowMs = Some(100000L), MetricsJob.writeBatchIdempotent(spark, outDir))
      try { if (data.nonEmpty) input.addData(data: _*); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(jsonEvent("a", 40000L)))
    // a write interrupted mid-file leaves its hidden temp file behind
    val stray = java.nio.file.Paths.get(outDir, "batch_id=0", ".part-00000.csv.tmp")
    Files.writeString(stray, "batch_id,epoch_sec,batch_events,mean_lat")
    assert(spark.read.option("header", "true").csv(outDir).count() == 1L)
    assert(graft.analysis.Analysis.readMetricsCsv(spark, outDir).count() == 1L)
    // crash-window replay: the last batch re-runs against the same outDir
    val replay = MetricsJob.withLatency(MetricsJob.parse(
      Seq(jsonEvent("a", 40000L)).toDF("value")), Some(100000L))
    MetricsJob.writeBatchIdempotent(spark, outDir)(replay, 0L)
    assert(!Files.exists(stray), "the replay's own write replaces the stray temp file")
    run(Seq(jsonEvent("b", 60000L))) // restart from the same checkpoint
    val rows = spark.read.option("header", "true").csv(outDir)
    val n = rows.count()
    val distinctBatches = rows.select($"batch_id").distinct().count()
    assert(n == distinctBatches,
      s"duplicate batch rows: $n rows over $distinctBatches batch ids")
    assert(n == 2L, s"expected one row per processed batch, got $n")
    val read = graft.analysis.Analysis.readMetricsCsv(spark, outDir)
      .select($"batch_id", $"batch_events").as[(Long, Long)].collect().sorted
    assert(read.toSeq == Seq((0L, 1L), (1L, 1L)))
  }

  test("PQ encode runs as a stateless streaming projection (vector-stream serving)") {
    // the native PQ kernel is a row projection, so arriving embeddings
    // can be coded against a fixed index codebook mid-stream — no state,
    // no watermark, same codes as the batch path
    val e = Tables.embeddings(spark, sf0001)
    val book = e.select($"vec_id".cast("long"),
        transform($"embedding", _.cast("double")).as("vecd"))
      .where($"vec_id" < 16).as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }.sortBy(_._1)
    val vecs = e.select($"vec_id".cast("long"),
        transform($"embedding", _.cast("double")).as("vecd"))
      .as[(Long, Seq[Double])].collect().toSeq.take(50)
    val input = MemoryStream[(Long, Seq[Double])](spark)
    val q = input.toDF().toDF("vec_id", "vecd")
      .select($"vec_id",
        graft.functions.VectorExpressions.pq_codes($"vecd",
          book.map(_._2), book.map(_._1), 8).as("codes"))
      .writeStream.format("memory").queryName("pq_stream")
      .outputMode("append").start()
    try {
      input.addData(vecs)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("pq_stream")
      .as[(Long, Seq[Long])].collect().toMap
    val batch = graft.ext.Similarity.pqEncode(e, "vec_id", "embedding",
        m = 8, k = 16, dims = 64)
      .as[(Long, Seq[Long])].collect().toMap
    assert(streamed.size == 50)
    streamed.foreach { case (id, codes) => assert(codes == batch(id), s"vec $id") }
  }

  test("stream-stream interval join correlates within the time bound only") {
    val clicks = MemoryStream[String](spark)
    val errors = MemoryStream[String](spark)
    val joined = MetricsJob.correlate(
      MetricsJob.parse(clicks.toDF()), MetricsJob.parse(errors.toDF()),
      key = "user_id", windowSec = 60L)
    val q = joined
      .select($"l_event_id", $"r_event_id")
      .writeStream.format("memory").queryName("correlated")
      .outputMode("append").start()
    try {
      // click at t=100s; errors at t=130s (in window), t=200s (outside),
      // and t=130s for another user (key mismatch)
      clicks.addData(jsonEvent("c1", 100000L))
      errors.addData(jsonEvent("e_in", 130000L),
        jsonEvent("e_late", 200000L),
        s"""{"event_id":"e_other","created_ts":130000,"user_id":2,"event_type":"error","value":0,"payload":"x"}""")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("correlated").as[(String, String)].collect().toSet
    assert(got == Set(("c1", "e_in")))
  }

  test("stream-stream LEFT OUTER interval join null-extends unmatched rows after the window expires") {
    val clicks = MemoryStream[String](spark)
    val errors = MemoryStream[String](spark)
    val joined = MetricsJob.correlate(
      MetricsJob.parse(clicks.toDF()), MetricsJob.parse(errors.toDF()),
      key = "user_id", watermark = "0 seconds", windowSec = 60L,
      joinType = "leftOuter")
    val q = joined
      .select($"l_event_id", $"r_event_id")
      .writeStream.format("memory").queryName("correlated_outer")
      .outputMode("append").start()
    try {
      // c0 at t=10s has no error in [10s, 70s]; c1 at t=100s matches e_in.
      clicks.addData(jsonEvent("c0", 10000L), jsonEvent("c1", 100000L))
      errors.addData(jsonEvent("e_in", 130000L))
      q.processAllAvailable()
      // Advance BOTH watermarks past c0's window, then run further
      // batches so eviction emits the null-extended row.
      clicks.addData(jsonEvent("c_adv", 500000L))
      errors.addData(jsonEvent("e_adv", 500000L))
      q.processAllAvailable()
      clicks.addData(jsonEvent("c_adv2", 600000L))
      errors.addData(jsonEvent("e_adv2", 600000L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("correlated_outer")
      .as[(String, Option[String])].collect().toSet
    assert(got.contains(("c0", None)),
      s"unmatched c0 should be null-extended after its window expired: $got")
    assert(got.contains(("c1", Some("e_in"))))
    assert(!got.contains(("c1", None)), "matched rows must not be null-extended")
  }
}

/** Shared landing zone for the ForeachWriter test (same JVM in local mode;
  * a cluster deployment would write to an external system instead).
  */
object StreamingSpec {
  val foreachSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
