package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval. `parent` is 0 for the root. Times are epoch ms. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Duration minus the part of the span that its children cover. */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.durMs - Stats.coveredMs(children.map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)

  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfMs(s, byParent.getOrElse(s.id, Nil))).toMap
  }
}

/** In-memory span store, written out once the run ends. */
class Tracer {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Local property naming the benchmark span that submitted a Spark job. */
object SpanProperty {
  val Key = "graftbench.span"
}

/** Per-task facts kept by [[EngineRecorder]]. */
final case class TaskRec(stageId: Int, launchMs: Double, finishMs: Double,
    runMs: Double, shuffleWriteBytes: Long, spillBytes: Long,
    resultBytes: Long, inputBytes: Long, outputBytes: Long)

final case class JobRec(jobId: Int, startMs: Double, var endMs: Double,
    span: Long, group: String, batchId: Long, stageIds: Seq[Int])

/** SparkListener + StreamingQueryListener + QueryExecutionListener that
  * the traced run registers. It keeps jobs, stages, tasks, trigger
  * progress and planning phases in memory; [[spans]] turns them into the
  * span tree under the benchmark's own spans.
  */
class EngineRecorder(tracer: Tracer) extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.LinkedHashMap[Int, (String, Double, Double)]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val planMs = new java.util.concurrent.atomic.DoubleAdder()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.time.toDouble,
      prop(SpanProperty.Key).map(_.toLong).getOrElse(0L),
      prop("spark.jobGroup.id").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      e.stageIds)
    e.stageIds.foreach(s => if (!stageToJob.contains(s)) stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = (i.name, i.submissionTime.getOrElse(0L).toDouble,
      i.completionTime.getOrElse(0L).toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
      e.taskInfo.finishTime.toDouble, e.taskInfo.duration.toDouble,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.resultSize,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  val planning: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.add(qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Triggers that ran a batch, from every stream query's progress. */
  def triggers: Seq[TriggerRec] =
    progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch")).map(TriggerRec.of)

  def jobsUnder(spanIds: Set[Long]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => spanIds.contains(j.span)).toSeq
  }

  /** Jobs of one micro-batch: the stream run's job group and batch id. */
  def jobsOfBatch(runId: String, batchId: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.group == runId && j.batchId == batchId).toSeq
  }

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = synchronized {
    val ids = js.map(_.jobId).toSet
    tasks.filter(t => stageToJob.get(t.stageId).exists(ids.contains)).toSeq
  }

  /** Job and stage spans, parented to the benchmark span that submitted
    * each job (streaming jobs outside a sink span go to `triggerSpan`).
    */
  def spans(triggerSpan: (String, Long) => Long): Seq[Span] = synchronized {
    jobs.values.toSeq.flatMap { j =>
      val parent = if (j.span != 0L) j.span
        else if (j.batchId >= 0) triggerSpan(j.group, j.batchId) else 0L
      val jobSpan = Span(tracer.newId(), parent, "job", s"job ${j.jobId}", j.startMs, j.endMs)
      val ran = j.stageIds.filter(s => stageToJob.get(s).contains(j.jobId))
      val stageSpans = ran.flatMap(s => stages.get(s).filter(_._2 > 0).map {
        case (name, st, en) =>
          val ts = tasks.filter(_.stageId == s)
          Span(tracer.newId(), jobSpan.id, "stage", name, st, en,
            Map("tasks" -> ts.size.toDouble, "task_ms" -> ts.map(_.runMs).sum))
      })
      jobSpan +: stageSpans
    }
  }
}
