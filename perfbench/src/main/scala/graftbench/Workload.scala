package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one measured window produced. `p50Ms`/`p90Ms` are operation
  * latencies over `samples` operations; `throughput` is operations per
  * second over the window.
  */
final case class Measured(
    p50Ms: Double,
    p90Ms: Double,
    samples: Long,
    throughput: Double,
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    layers: Map[String, Double],
    detail: Map[String, Any])

/** The traced run's recorder, span store and root span, plus the span id
  * of each traced trigger keyed by (run id, batch id).
  */
final case class TraceCtx(tracer: Tracer, rec: EngineRecorder, root: Long) {
  val triggerSpans: scala.collection.mutable.Map[(String, Long), Long] =
    scala.collection.mutable.Map.empty
}

trait Workload {
  def name: String
  /** One set-up cycle on a fresh session: what the workload needs before
    * it can run. Timed four times per run; the median of the last three
    * is `setup_s`.
    */
  def setupUnit(spark: SparkSession): Unit
  /** Runs the workload's own path until its unit time levels off;
    * returns the unit times in seconds.
    */
  def warmUp(spark: SparkSession): Seq[Double]
  /** One measured window. `heapMark` samples the heap once the window's
    * last operation has finished, outside every timed operation.
    */
  def measure(spark: SparkSession, trace: Option[TraceCtx], heapMark: () => Unit): Measured
}

object Workload {
  def nowMs(): Long = System.currentTimeMillis()
  def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  def freshDir(p: Path): Path = { deleteRecursively(p); Files.createDirectories(p) }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
