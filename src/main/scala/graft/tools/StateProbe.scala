package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming state-scale probe (dev evidence, not part of the driver
  * contract): the batch side has ScaleProbe and the skew and giant-key
  * runs recorded in SURVEY §8; this is the stateful-streaming
  * counterpart. Millions of distinct keys run through the RocksDB state
  * store provider and the probe MEASURES what the scale claims assert:
  *
  *  - `ewma`: [[graft.stream.Ewma.stream]] (transformWithState,
  *    ValueState/key). R rounds of K NEW keys each — per-batch wall time
  *    must stay ~flat while total state grows R×K (per-batch work is
  *    K rows regardless of store size), then one "retouch" round hits K
  *    EXISTING keys spread across the full store to price the
  *    read-modify path at maximum state.
  *  - `session`: [[graft.stream.Sessionize.streamTws]] (ValueState +
  *    event-time timers). R rounds of K new single-event sessions with a
  *    gap wider than the probe horizon — every key arms a timer and
  *    nothing flushes, so timer count grows R×K; then ONE watermark jump
  *    expires every timer in a single batch (the "expiry storm" — the
  *    one place a timer implementation can go superlinear).
  *
  * Per batch it reports driver-measured wall seconds plus the progress
  * counters (numRowsTotal/numRowsUpdated/numRowsRemoved) and the RocksDB
  * size metrics. Reading: batch times flat across rounds = per-batch cost
  * is O(batch), not O(store); storm time ~linear in timer count with no
  * cliff; numRowsTotal returns to ~0 after the storm (state actually
  * freed, not leaked).
  */
object StateProbe {

  def main(args: Array[String]): Unit = {
    val keysPerRound = args.headOption.map(_.toInt).getOrElse(1000000)
    val rounds = if (args.length > 1) args(1).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Sessions.clusterBuilder("graft-state-probe")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    ewmaProbe(spark, keysPerRound, rounds)
    sessionProbe(spark, keysPerRound / 2, rounds)
    spark.stop()
  }

  private def report(tag: String, round: String, sec: Double,
      q: StreamingQuery): Long = {
    val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
    val rows = so.map(_.numRowsTotal).sum
    val updated = so.map(_.numRowsUpdated).sum
    val removed = so.map(_.numRowsRemoved).sum
    val sst = so.flatMap(o =>
      Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.longValue)).sum
    println(f"[state-probe] $tag%-8s $round%-12s ${sec}%7.2f s  " +
      f"stateRows=$rows%9d  updated=$updated%9d  removed=$removed%9d  " +
      f"sstBytes=$sst%12d")
    rows
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** ValueState growth + retouch-at-full-state. */
  def ewmaProbe(spark: SparkSession, k: Int, rounds: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, Double)]
    val q = graft.stream.Ewma.stream(
        input.toDF().toDF("user_id", "ts_ms", "event_id", "value"))
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("state_probe_ewma").toString)
      .start()
    try {
      for (r <- 0 until rounds) {
        val base = r.toLong * k
        input.addData((0 until k).map(i =>
          (base + i, r.toLong * 1000, i.toLong, (i % 97).toDouble)))
        val (_, sec) = timed(q.processAllAvailable())
        report("ewma", s"grow-$r", sec, q)
      }
      // retouch: K rows over EXISTING keys spread across the whole store
      val total = rounds.toLong * k
      input.addData((0 until k).map(i =>
        ((i.toLong * rounds) % total, 999999L, i.toLong, 1.0)))
      val (_, sec) = timed(q.processAllAvailable())
      val rows = report("ewma", "retouch", sec, q)
      assert(rows == total, s"retouch must not create keys: $rows vs $total")
    } finally q.stop()
  }

  /** Timer growth + single-batch expiry storm. */
  def sessionProbe(spark: SparkSession, k: Int, rounds: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val horizonMs = (rounds + 1).toLong * 10000
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val df = input.toDF().toDF("user_id", "ts").withWatermark("ts", "0 seconds")
    val q = graft.stream.Sessionize.streamTws(df, gapMs = horizonMs)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("state_probe_sess").toString)
      .start()
    try {
      for (r <- 0 until rounds) {
        val base = r.toLong * k
        // ts ascends only within the horizon: no timer fires during growth
        input.addData((0 until k).map(i => (base + i, t(r.toLong * 10 + 1))))
        val (_, sec) = timed(q.processAllAvailable())
        report("session", s"grow-$r", sec, q)
      }
      // watermark jump past every armed timer: ALL sessions flush at once
      input.addData(Seq((-1L, t(horizonMs * 3))))
      val (_, sec) = timed(q.processAllAvailable())
      println(f"[state-probe] session  expiry-storm ${sec}%7.2f s  " +
        f"(${rounds.toLong * k}%d timers fired in one batch)")
      // one more empty-ish batch so progress reflects the post-storm store
      input.addData(Seq((-1L, t(horizonMs * 3 + 1))))
      q.processAllAvailable()
      val rows = report("session", "post-storm", 0.0, q)
      assert(rows <= 2,
        s"state must be freed after the expiry storm, still $rows rows")
    } finally q.stop()
  }
}
