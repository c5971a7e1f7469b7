package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops.Salt
import graft.stream.Sessionize
import org.apache.spark.sql.functions._

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private val gap = 1000L // 1 s inactivity gap for tests

  test("batch sessionization splits on gaps per user") {
    val ev = Seq(
      (1L, 100L, "a"), (1L, 500L, "b"), (1L, 5000L, "c"), // user 1: 2 sessions
      (2L, 100L, "d"))                                    // user 2: 1 session
      .toDF("user_id", "ts_ms", "event_id")
    val got = Sessionize.batch(ev, gap)
      .orderBy("user_id", "session_start_ms")
      .select($"user_id", $"session_start_ms", $"session_end_ms", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 100L, 500L, 2L), (1L, 5000L, 5000L, 1L), (2L, 100L, 100L, 1L)))
  }

  test("state-scale invariants hold at CI size (StateProbe shrunk 100x)") {
    // The structural assertions of tools/StateProbe as a fast regression
    // guard (timing claims live in the probe + SURVEY §8; CI asserts only
    // what cannot flake): ValueState growth is exactly keys-seen, a
    // full-store retouch creates no keys, and the timer expiry storm
    // actually frees session state instead of leaking it.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      graft.tools.StateProbe.ewmaProbe(spark, k = 10000, rounds = 3)
      graft.tools.StateProbe.sessionProbe(spark, k = 5000, rounds = 3)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState sessionization: a successor event closes the session") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def t(ms: Long) = new java.sql.Timestamp(ms)
      val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
      val df = input.toDF().toDF("user_id", "ts").withWatermark("ts", "0 seconds")
      val q = Sessionize.streamTws(df, gap)
        .writeStream.outputMode("append")
        .format("memory").queryName("sessions")
        .start()
      try {
        input.addData((1L, t(100L)), (1L, t(500L)))
        q.processAllAvailable()
        input.addData((1L, t(5000L))) // opens session 2 -> closes session 1
        q.processAllAvailable()
        input.addData((1L, t(9000L))) // opens session 3 -> closes session 2
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("sessions")
        .as[Sessionize.Session].collect().sortBy(_.session_start_ms).toSeq
      assert(got == Seq(
        Sessionize.Session(1L, 100L, 500L, 2L),
        Sessionize.Session(1L, 5000L, 5000L, 1L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState sessionization flushes idle sessions via event-time timer") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def t(ms: Long) = new java.sql.Timestamp(ms)
      val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
      val df = input.toDF().toDF("user_id", "ts").withWatermark("ts", "0 seconds")
      val q = Sessionize.streamTws(df, gap)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_sessions")
        .start()
      try {
        input.addData((1L, t(100L)), (1L, t(500L)))
        q.processAllAvailable() // user-1 state (100,500,2), timer @1500; wm -> 500
        input.addData((2L, t(5000L))) // wm during batch still 500: no fire; -> 5000 after
        q.processAllAvailable()
        input.addData((2L, t(6000L))) // wm 5000 >= 1500: user-1 timer fires, session flushes
        q.processAllAvailable()       // user-2 events merge (gap exactly 1000): no emission
      } finally q.stop()
      val got = spark.table("tws_sessions").as[Sessionize.Session]
        .collect().sortBy(s => (s.user_id, s.session_start_ms)).toSeq
      assert(got == Seq(Sessionize.Session(1L, 100L, 500L, 2L)),
        s"idle user-1 session should flush via timer, user-2 session stays open: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState MapState keeps per-(user,type) running counts") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)](spark)
      val df = input.toDF().toDF("user_id", "event_type")
      val q = Sessionize.streamTypeCounts(df)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_counts")
        .start()
      try {
        input.addData((1L, "click"), (1L, "click"), (1L, "view"), (2L, "click"))
        q.processAllAvailable()
        input.addData((1L, "click")) // running count continues from state
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_counts").as[Sessionize.TypeCount]
        .collect().map(t => (t.user_id, t.event_type, t.n)).toSet
      assert(got == Set(
        (1L, "click", 2L), (1L, "view", 1L), (2L, "click", 1L), // batch 1
        (1L, "click", 3L)),                                     // batch 2
        s"got $got")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming EWMA (transformWithState) == batch segmented fold, bit-for-bit") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // replay the fixture corpus as two time-ordered micro-batches: the
      // cross-batch state carry is exactly the unbounded-history claim
      val rows = Tables.events(spark, sf0001)
        .select($"user_id", Tables.tsMillis($"ts").as("t"), $"event_id", $"value")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._2, r._3))
      val (batch1, batch2) = rows.splitAt(rows.length / 2)
      val input = MemoryStream[(Long, Long, Long, Double)](spark)
      val q = graft.stream.Ewma.stream(input.toDF())
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_ewma")
        .start()
      try {
        input.addData(batch1.toSeq: _*)
        q.processAllAvailable()
        input.addData(batch2.toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      // final streamed value per user = the emission with the largest n
      val streamed = spark.table("tws_ewma")
        .as[graft.stream.Ewma.UserEwma].collect()
        .groupBy(_.user_id).map { case (u, es) =>
          val last = es.maxBy(_.n)
          // same HALF_UP decimal rounding as Spark's round(x, 6)
          (u, last.n, BigDecimal(last.ewma)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSet
      val batch = graft.queries.PipelineQueries
        .queries("ewma_user_value")(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2)))
        .toSet
      assert(streamed == batch,
        "stateful streaming fold must reproduce the batch segmented fold")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming CUSUM (transformWithState) == driver-side sequential fold across batch splits") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (target, k, h) = (20000000L, 5000000L, 500000000L)
      val rows = Tables.events(spark, sf0001)
        .select($"event_type", Tables.tsMillis($"ts").as("t"), $"event_id",
          $"value")
        .as[(String, Long, Long, Double)].collect().sortBy(r => (r._2, r._3))
      val thirds = rows.grouped((rows.length + 2) / 3).toSeq
      val input = MemoryStream[(String, Long, Long, Double)](spark)
      val q = graft.stream.CusumStream.stream(input.toDF(), target, k, h)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_cusum")
        .start()
      try {
        thirds.foreach { b =>
          input.addData(b.toSeq: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val streamed = spark.table("tws_cusum")
        .as[graft.stream.CusumStream.KeyCusum].collect()
        .groupBy(_.event_type).map { case (ty, es) => ty -> es.maxBy(_.n) }
      val expect = rows.groupBy(_._1).map { case (ty, rs) =>
        var (su, sd, n) = (0L, 0L, 0L)
        rs.sortBy(r => (r._2, r._3)).foreach { r =>
          val x = math.round(r._4 * 1e6) - target
          su = math.max(0L, su + x - k)
          sd = math.max(0L, sd - x - k)
          n += 1
        }
        ty -> ((n, su, sd, su > h, sd > h))
      }
      assert(streamed.nonEmpty && streamed.keySet == expect.keySet)
      streamed.foreach { case (ty, got) =>
        assert((got.n, got.cusum_up, got.cusum_down, got.alarm_up,
          got.alarm_down) == expect(ty), s"key $ty")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("ordered streaming CUSUM: SHUFFLED arrival == ordered fold (watermark buffer)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (target, k, h) = (20000000L, 5000000L, 500000000L)
      val rows = Tables.events(spark, sf0001)
        .select($"event_type", Tables.tsMillis($"ts").as("t"), $"event_id",
          $"value")
        .as[(String, Long, Long, Double)].collect()
      // deterministic SHUFFLE: arrival order = md5 of the event id — the
      // adversarial case the plain stream() documents as out of scope
      val arrival = rows.sortBy(r =>
        java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5")
            .digest(r._3.toString.getBytes("UTF-8"))))
      val thirds = arrival.grouped((arrival.length + 2) / 3).toSeq
      val maxT = rows.map(_._2).max
      val delayMs = 500L * 24 * 3600 * 1000 // > the fixture's full span
      val input = MemoryStream[(String, Long, Long, Double)](spark)
      val withTs = input.toDF()
        .select($"_1".as("event_type"),
          ($"_2" / 1000.0).cast("timestamp").as("ts"),
          $"_3".as("event_id"), $"_4".as("value"))
        .withWatermark("ts", "500 days")
      val q = graft.stream.CusumStream.streamOrdered(withTs, target, k, h)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_cusum_ord")
        .start()
      try {
        thirds.foreach { b =>
          input.addData(b.toSeq: _*)
          q.processAllAvailable()
        }
        // two sentinel batches on a dummy key push the GLOBAL watermark
        // past every real row (wm = max ts − delay, applied next batch),
        // so the buffered tail flushes via timers with no real-key input
        input.addData(("zzz_sentinel", maxT + delayMs + 86400000L, 0L, 0.0))
        q.processAllAvailable()
        input.addData(("zzz_sentinel", maxT + delayMs + 86400001L, 1L, 0.0))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("tws_cusum_ord")
        .as[graft.stream.CusumStream.KeyCusum].collect()
        .filter(_.event_type != "zzz_sentinel")
        .groupBy(_.event_type).map { case (ty, es) => ty -> es.maxBy(_.n) }
      val expect = rows.groupBy(_._1).map { case (ty, rs) =>
        var (su, sd, n) = (0L, 0L, 0L)
        rs.sortBy(r => (r._2, r._3)).foreach { r =>
          val x = math.round(r._4 * 1e6) - target
          su = math.max(0L, su + x - k)
          sd = math.max(0L, sd - x - k)
          n += 1
        }
        ty -> ((n, su, sd, su > h, sd > h))
      }
      assert(streamed.nonEmpty && streamed.keySet == expect.keySet,
        s"keys: ${streamed.keySet} vs ${expect.keySet}")
      streamed.foreach { case (ty, got) =>
        assert((got.n, got.cusum_up, got.cusum_down, got.alarm_up,
          got.alarm_down) == expect(ty),
          s"key $ty: out-of-order arrival diverged from the ordered fold")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("salted aggregation equals the direct groupBy") {
    val ev = Tables.events(spark, sf0001)
    val direct = ev.groupBy($"event_type")
      .agg(round(sum($"value"), 6).as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect()
      .map { case (k, s, n) => k -> ((s, n)) }.toMap
    val salted = Salt.saltedAgg(ev, Seq("event_type"), $"event_id", 16, sums = Seq("value"))
      .select($"event_type", round($"sum_value", 6), $"n")
      .as[(String, Double, Long)].collect()
    assert(salted.length == direct.size)
    salted.foreach { case (k, s, n) =>
      assert(direct(k) == ((s, n)), s"mismatch for $k")
    }
  }
}
