package graftbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.analysis.Analysis
import graft.sources.EventsSource
import graft.stream.MetricsJob
import Workload._

final case class SinkRec(batchId: Long, startMs: Long, endMs: Long, span: Long)

/** Times every call into a MetricsJob sink. When traced, the jobs the sink
  * submits carry the sink's span id as a local property.
  */
class SinkLog(spark: SparkSession, trace: Option[TraceCtx]) {
  private val recs = new ConcurrentLinkedQueue[SinkRec]()

  def wrap(inner: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = (df, id) => {
    val span = trace.map(_.tracer.newId()).getOrElse(0L)
    val sc = spark.sparkContext
    if (span != 0L) sc.setLocalProperty(SpanProperty.Key, span.toString)
    val s = nowMs()
    try inner(df, id)
    finally {
      if (span != 0L) sc.setLocalProperty(SpanProperty.Key, null)
      recs.add(SinkRec(id, s, nowMs(), span))
    }
  }

  /** The last sink call per batch id (a replayed batch overwrites). */
  def byBatch: Map[Long, SinkRec] =
    recs.asScala.toSeq.groupBy(_.batchId).map { case (k, v) => k -> v.maxBy(_.endMs) }
}

/** One trigger's progress report. */
final case class TriggerRec(runId: String, batchId: Long, startMs: Double,
    dur: Map[String, Double], rows: Long) {
  def d(k: String): Double = dur.getOrElse(k, 0.0)
  def endMs: Double = startMs + d("triggerExecution")
}

object TriggerRec {
  /** Triggers that ran a batch (idle progress reports carry no addBatch). */
  def of(q: StreamingQuery): Seq[TriggerRec] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map(of)

  def of(p: StreamingQueryProgress): TriggerRec =
    TriggerRec(p.runId.toString, p.batchId, Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap, p.numInputRows)
}

object Streams {

  def await(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = nowMs() + timeoutMs
    while (!cond) {
      if (nowMs() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  /** Metrics CSV rows under `dir` (any depth), as column -> value maps. */
  def csvRows(dir: Path): Seq[(Path, Map[String, String])] =
    if (!Files.exists(dir)) Nil
    else {
      val walk = Files.walk(dir)
      val files = try walk.iterator().asScala.filter(_.toString.endsWith(".csv")).toList
        finally walk.close()
      files.flatMap { f =>
        val lines = Files.readAllLines(f).asScala.filter(_.nonEmpty)
        if (lines.isEmpty) Nil
        else {
          val header = lines.head.split(',')
          lines.tail.map(l => f -> header.zip(l.split(',')).toMap)
        }
      }
    }

  /** Offset-log entries of a checkpoint: batch id -> last line (the
    * source's offset JSON).
    */
  def offsets(ckpt: Path): Map[Long, String] = logFiles(ckpt.resolve("offsets")).map {
    case (id, f) => id -> Files.readAllLines(f).asScala.filter(_.nonEmpty).last.trim
  }

  def commits(ckpt: Path): Set[Long] = logFiles(ckpt.resolve("commits")).keySet

  private def logFiles(dir: Path): Map[Long, Path] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.forall(_.isDigit))
        .map(f => f.getFileName.toString.toLong -> f).toMap
      finally s.close()
    }

  /** Per-trigger layer metrics (medians over `trigs`). Records the
    * trigger and sink spans of a traced run.
    */
  def layers(trigs: Seq[TriggerRec], sinks: Map[(String, Long), SinkRec],
      ctx: TraceCtx, lagEvents: TriggerRec => Double,
      lateMs: TriggerRec => Double): Map[String, Double] = {
    trigs.foreach { t =>
      val id = ctx.tracer.newId()
      ctx.tracer.add(Span(id, ctx.root, "trigger", s"batch ${t.batchId}", t.startMs, t.endMs,
        Map("rows" -> t.rows.toDouble) ++ t.dur.map { case (k, v) => s"${k}_ms" -> v }))
      sinks.get((t.runId, t.batchId)).foreach { s =>
        ctx.tracer.add(Span(s.span, id, "sink", s"sink ${t.batchId}", s.startMs.toDouble, s.endMs.toDouble))
      }
      ctx.triggerSpans((t.runId, t.batchId)) = id
    }
    val perBatch = trigs.map { t =>
      val js = ctx.rec.jobsOfBatch(t.runId, t.batchId)
      // A non-empty batch's sink runs the metrics aggregate, then one CSV
      // write job.
      val (aggJobs, csvJobs) = js.sortBy(_.jobId).splitAt(js.size - 1)
      val tasks = ctx.rec.tasksOf(js)
      val busy = Stats.coveredMs(tasks.map(k => (k.launchMs, k.finishMs)), t.startMs, t.endMs)
      (js.size.toDouble, tasks.map(_.runMs).sum, ctx.rec.tasksOf(aggJobs).map(_.runMs).sum,
        ctx.rec.tasksOf(csvJobs).map(_.runMs).sum, t.d("triggerExecution") - busy)
    }
    def med(f: TriggerRec => Double) = medianOr0(trigs.map(f))
    val m = Map(
      "sources.latest_offset_ms" -> med(_.d("latestOffset")),
      "sources.lag_events" -> med(lagEvents),
      "stream.trigger_ms" -> med(_.d("triggerExecution")),
      "stream.query_planning_ms" -> med(_.d("queryPlanning")),
      "stream.add_batch_ms" -> med(_.d("addBatch")),
      "stream.wal_commit_ms" -> med(_.d("walCommit")),
      "stream.commit_offsets_ms" -> med(_.d("commitOffsets")),
      "stream.trigger_late_ms" -> med(lateMs),
      "stream.sink_ms" -> medianOr0(trigs.flatMap(t =>
        sinks.get((t.runId, t.batchId)).map(s => (s.endMs - s.startMs).toDouble))),
      "stream.jobs_per_batch" -> medianOr0(perBatch.map(_._1)),
      "stream.task_ms_per_batch" -> medianOr0(perBatch.map(_._2)),
      "stream.metrics_task_ms_per_batch" -> medianOr0(perBatch.map(_._3)),
      "stream.csv_task_ms_per_batch" -> medianOr0(perBatch.map(_._4)),
      "stream.idle_ms_per_batch" -> medianOr0(perBatch.map(_._5)))
    m
  }

  /** The event JSON wire format, as the Kafka producer would send it. */
  def toWire(events: DataFrame): DataFrame =
    events.select(to_json(struct(EventsSource.schema.fieldNames.map(col).toSeq: _*)).as("value"))
}

/** The paper's exp1 + exp3 on the `graft-events` source: an open-loop feed
  * at 7,000 events/s whose offsets advance with the wall clock, a 1 s
  * processing-time trigger and the idempotent sink. Mid-window the query
  * is stopped right after a batch commits (the seed picks which) and
  * restarted from the same checkpoint.
  */
class Paced(cores: Int, seed: Long, seconds: Int, work: Path) extends Workload {
  val name = "stream_paced"
  val rateEps = 7000.0
  val triggerSec = 1
  val stopAfter: Long = 3L + java.lang.Math.floorMod(seed, 4L)

  /** The reference's append-sink CSV that the warm-up writes; the traced
    * run times the offline analysis over it.
    */
  private val warmCsv = work.resolve("paced-warm").resolve("append-out")

  private def start(spark: SparkSession, ckpt: Path,
      sink: (DataFrame, Long) => Unit, backlog: Long = 0L): StreamingQuery = {
    val feed = spark.readStream.format("graft-events")
      .option("rateEps", rateEps).option("numPartitions", cores)
      .option("startMs", nowMs()).option("backlogRows", backlog)
      .option("maxRowsPerTrigger", if (backlog > 0) rateEps.toLong * triggerSec else -1L).load()
    MetricsJob.startWith(spark, Streams.toWire(feed), ckpt.toString,
      if (backlog > 0) 0 else triggerSec, None, sink)
  }

  private def idempotent(spark: SparkSession, out: Path, log: SinkLog) =
    log.wrap(MetricsJob.writeBatchIdempotent(spark, out.toString))

  private def awaitTrigger(q: StreamingQuery, timeoutMs: Long)(p: TriggerRec => Boolean): Unit =
    Streams.await("a trigger", timeoutMs)(TriggerRec.of(q).exists(p))

  /** Cold start of the pipeline: query start to its first trigger. */
  def setupUnit(spark: SparkSession): Unit = {
    val dir = freshDir(work.resolve("paced-setup"))
    val q = start(spark, dir.resolve("ckpt"), idempotent(spark, dir.resolve("out"), new SinkLog(spark, None)))
    Streams.await("first progress", 60000)(q.lastProgress != null)
    q.stop()
  }

  /** The same pipeline on a backlog, triggered back to back so the
    * per-trigger path runs several times per second, with one stop/restart
    * so the restart path is warm too. Before the restart the batches go
    * through the reference's append sink, after it through the idempotent
    * sink the window uses. Returns per-trigger times.
    */
  def warmUp(spark: SparkSession): Seq[Double] = {
    val dir = freshDir(work.resolve("paced-warm"))
    val backlog = 1000000L
    def run(ms: Long, sink: (DataFrame, Long) => Unit): Seq[Double] = {
      val q = start(spark, dir.resolve("ckpt"), sink, backlog)
      Thread.sleep(ms)
      q.stop()
      TriggerRec.of(q).map(_.d("triggerExecution") / 1000.0)
    }
    run(3000L, MetricsJob.writeBatch(spark, warmCsv.toString)) ++
      run(2000L, idempotent(spark, dir.resolve("out"), new SinkLog(spark, None)))
  }

  def measure(spark: SparkSession, trace: Option[TraceCtx], heapMark: () => Unit): Measured = {
    val dir = freshDir(work.resolve("paced"))
    val (ckpt, out) = (dir.resolve("ckpt"), dir.resolve("out"))
    val log1 = new SinkLog(spark, trace)
    val t0 = nowMs()
    val q1 = start(spark, ckpt, idempotent(spark, out, log1))
    awaitTrigger(q1, 60000)(_.batchId >= stopAfter)
    val stopT = System.nanoTime()
    q1.stop()
    val stopMs = (System.nanoTime() - stopT) / 1e6
    val log2 = new SinkLog(spark, trace)
    val restartMs = nowMs()
    val q2 = start(spark, ckpt, idempotent(spark, out, log2))
    Thread.sleep(math.max(0L, t0 + seconds * 1000L - nowMs()))
    val lastId = Option(q2.lastProgress).map(_.batchId).getOrElse(-1L)
    awaitTrigger(q2, 10000)(_.batchId > lastId)
    q2.stop()
    // After the stop, so the collections pause no batch that is counted.
    heapMark()

    // Batch ranges from the checkpoint: offset JSON is `count:epochMs`.
    val offs = Streams.offsets(ckpt).map { case (id, j) =>
      val Array(c, e) = j.stripPrefix("\"").stripSuffix("\"").split(':')
      id -> (c.toLong, e.toLong)
    }
    val committed = Streams.commits(ckpt).toSeq.sorted
    val sched = Schedule(offs.values.head._2, rateEps)
    val sinks1 = log1.byBatch
    val sinks2 = log2.byBatch
    val sinkOf = sinks1 ++ sinks2
    val problems = Seq.newBuilder[String]
    val batches = committed.flatMap { id =>
      val lo = if (id == 0L) 0L else offs(id - 1)._1
      val hi = offs(id)._1
      if (hi <= lo) None
      else sinkOf.get(id) match {
        case Some(s) => Some(PacedBatch(id, lo, hi, s.endMs.toDouble))
        case None => problems += s"batch $id committed without a sink call"; None
      }
    }
    val firstId = batches.head.batchId
    val recovery = batches.find(b => sinks2.contains(b.batchId))
      .getOrElse(throw new IllegalStateException("no batch after the restart"))
    val steady = batches.filter(b => b.batchId != firstId && b.batchId != recovery.batchId)

    // Output check: one metrics row per non-empty committed batch, holding
    // exactly that batch's events; their sum is the committed offset count.
    val rows = Streams.csvRows(out).groupBy { case (f, _) =>
      f.getParent.getFileName.toString.stripPrefix("batch_id=").toLong
    }
    val committedEvents = offs(committed.last)._1
    var failedEvents = 0L
    batches.foreach { b =>
      val rs = rows.getOrElse(b.batchId, Nil)
      val ok = rs.size == 1 && rs.head._2.get("batch_events").contains(b.events.toString)
      if (!ok) {
        failedEvents += b.events
        problems += s"batch ${b.batchId}: ${rs.size} rows for ${b.events} events"
      }
    }
    val written = committed.flatMap(id => rows.getOrElse(id, Nil))
      .map(_._2.getOrElse("batch_events", "0").toLong).sum
    if (written != committedEvents) {
      problems += s"sum(batch_events)=$written but the committed offset is $committedEvents"
      failedEvents = math.max(failedEvents, math.abs(committedEvents - written))
    }

    val byTime = batches.sortBy(_.writtenMs)
    val throughput = byTime.tail.map(_.events).sum * 1000.0 /
      (byTime.last.writtenMs - byTime.head.writtenMs)
    val recoveryMs = recovery.writtenMs - restartMs

    val summary = Seq.newBuilder[String]
    val layers = trace.map { ctx =>
      org.apache.spark.GraftbenchAccess.awaitListeners(spark.sparkContext)
      // The reference's offline analysis over the warm-up's append-sink CSV
      // (`readMetricsCsv` applies its schema by position, which matches the
      // append layout and not the idempotent sink's `batch_id=N/` one).
      val summaryT = System.nanoTime()
      val metrics = Analysis.readMetricsCsv(spark, warmCsv.toString).withColumn("run", lit(name))
      summary ++= Analysis.exp1Summary(metrics, "run", warmupSec = 0L, measureSec = 3600L,
        triggerSec = 1).collect().map(_.toString)
      summary ++= Analysis.recoveryEvent(metrics, "run").collect().map(_.toString)
      val summaryMs = (System.nanoTime() - summaryT) / 1e6
      val trigs = ctx.rec.triggers.filter(t => steady.exists(_.batchId == t.batchId))
      val runs = Map(q1.runId.toString -> sinks1, q2.runId.toString -> sinks2)
      val sinkKeyed = runs.toSeq.flatMap { case (r, m) => m.map { case (id, s) => (r, id) -> s } }.toMap
      val lo = batches.map(b => b.batchId -> b.lo).toMap
      val m = Streams.layers(trigs, sinkKeyed, ctx,
        t => (sched.scheduledBy(t.startMs) - lo(t.batchId)).toDouble,
        t => t.startMs - math.floor(t.startMs / (triggerSec * 1000.0)) * triggerSec * 1000.0)
      m ++ Map(
        "stream.result_latency_ms_p50" -> Stats.median(steady.map(sched.resultLatencyMs)),
        "stream.stop_ms" -> stopMs,
        "stream.restart_first_batch_ms" -> recoveryMs,
        "analysis.summary_ms" -> summaryMs)
    }.getOrElse(Map.empty)

    Measured(
      p50Ms = sched.latencyPercentile(steady, 0.5),
      p90Ms = sched.latencyPercentile(steady, 0.9),
      samples = steady.map(_.events).sum,
      throughput = throughput,
      attempted = committedEvents,
      failed = failedEvents,
      problems = problems.result(),
      layers = layers,
      detail = Map(
        "rate_eps" -> rateEps, "trigger_s" -> triggerSec, "stop_after_batch" -> stopAfter,
        "batches" -> batches.size, "steady_batches" -> steady.size,
        "result_latency_ms_p50" -> Stats.median(steady.map(sched.resultLatencyMs)),
        "recovery_ms" -> recoveryMs, "recovery_backlog_events" -> recovery.events,
        "stop_ms" -> stopMs, "committed_events" -> committedEvents,
        "batch_ranges" -> batches.map(b => Seq(b.batchId, b.lo, b.hi, b.writtenMs.toLong)),
        "exp1_summary_and_largest_gap" -> summary.result()))
  }
}
