package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.stream.{LocalCheckpointFileManager, MetricsJob}

/** The per-trigger path of the metrics pipeline: the Spark jobs a batch
  * runs, the metrics row they compute, and the checkpoint file manager
  * that writes the offset and commit logs and the metrics CSV.
  */
class TriggerPathSpec extends SparkSpec {
  import spark.implicits._

  private def jsonEvent(id: String, ts: Long): String =
    s"""{"event_id":"$id","created_ts":$ts,"user_id":1,"event_type":"click","value":1.5,"payload":"x"}"""

  private def latencies(values: Seq[String]): DataFrame =
    MetricsJob.withLatency(MetricsJob.parse(values.toDF("value")), Some(100000L))

  test("a MetricsJob.startWith stream runs 1 Spark job per non-empty batch") {
    val jobs = new ConcurrentHashMap[Long, AtomicInteger]()
    @volatile var runId = ""
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.jobGroup.id").contains(runId))
          prop("streaming.sql.batchId").foreach { id =>
            jobs.computeIfAbsent(id.toLong, _ => new AtomicInteger()).incrementAndGet()
          }
      }
    }
    val input = MemoryStream[String](spark)
    val q = MetricsJob.startWith(spark, input.toDF(), TempStores.newStorePath("jobs_ckpt").toString,
      triggerSec = 1, nowMs = Some(100000L),
      MetricsJob.writeBatchIdempotent(spark, TempStores.newStorePath("jobs_out").toString))
    runId = q.runId.toString
    spark.sparkContext.addSparkListener(listener)
    try {
      (0 until 4).foreach { b =>
        input.addData((0 until 20).map(i => jsonEvent(s"$b-$i", 40000L + i)): _*)
        q.processAllAvailable()
      }
      // Job events arrive in order, so batch 3's marks batches 1-2 complete.
      val deadline = System.currentTimeMillis() + 20000L
      while (!jobs.containsKey(3L) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    val counts = jobs.asScala.map { case (k, v) => k -> v.get }.toMap
    assert(Seq(1L, 2L).map(counts.get) == Seq(Some(1), Some(1)), s"jobs per batch id: $counts")
  }

  test("batchMetricsRow equals the agg spelling, None for an empty frame without blocking") {
    val events = latencies((0 until 50).map(i => jsonEvent(s"e$i", 40000L + 37L * i))).repartition(3)
    val malformed = latencies(Seq("{not valid json", "{nor this"))
    val provablyEmpty = latencies(Seq.empty[String])
    val emptyAtRuntime = spark.range(0, 40, 1, 4).select(($"id" * 10L).as("created_ts"))
      .withColumn("latency_ms", $"created_ts" - 1000L).filter($"latency_ms" > 1000000L)
    def bounded[T](body: => T): T = Await.result(Future(body), 60.seconds)
    for (df <- Seq(events, malformed, provablyEmpty, emptyAtRuntime))
      assert(bounded(MetricsJob.batchMetricsRow(df)) == DeclarativeTwins.batchMetricsRowAgg(df))
    val r = MetricsJob.batchMetricsRow(events).get
    assert(r.getLong(0) == 50L && r.getDouble(1) == 100000.0 - 40000.0 - 37.0 * 49 / 2)
    val m = MetricsJob.batchMetricsRow(malformed).get
    assert(m.getLong(0) == 2L && (1 to 4).forall(m.isNullAt), m)
    assert(bounded(MetricsJob.batchMetricsRow(provablyEmpty)).isEmpty)
    assert(bounded(MetricsJob.batchMetricsRow(emptyAtRuntime)).isEmpty)
  }

  test("batchMetricsRow observes one percentile sketch") {
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan.foreach { case c: CollectMetrics => observed.add(c); case _ => () }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(MetricsJob.batchMetricsRow(latencies(Seq(jsonEvent("a", 40000L)))).isDefined)
      val deadline = System.currentTimeMillis() + 20000L
      while (observed.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val sketches = observed.asScala.toSeq.flatMap(_.expressions.flatMap(_.collect {
      case a: ApproximatePercentile => a
    }))
    assert(observed.size == 1 && sketches.size == 1, observed.asScala.mkString("\n"))
  }

  test("the session's checkpoint file manager keeps Spark's atomic-write contract") {
    val dir = TempStores.newStorePath("cfm")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
    assert(fm.getClass == classOf[LocalCheckpointFileManager])
    def names(d: JPath) = Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    def write(name: String, text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(new Path(dir.resolve(name).toUri), overwrite)
      out.write(text.getBytes(UTF_8))
      out.close()
    }

    // Without overwrite an existing entry is a second writer's: refused.
    write("0", "old", overwrite = false)
    intercept[FileAlreadyExistsException](write("0", "new bytes", overwrite = false))
    assert(Files.readString(dir.resolve("0")) == "old")
    // A cancelled write leaves no file, hidden or not.
    val out = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir) == Seq("0"))

    // Overwriting a file Hadoop wrote with a checksum beside it: the new
    // bytes read back through Spark's checked local file system.
    val csvDir = dir.resolve("csv")
    val csv = new Path(csvDir.resolve("part-00000.csv").toUri)
    val hout = csv.getFileSystem(hadoopConf).create(csv, true)
    hout.write("n,s\n1,a\n".getBytes(UTF_8))
    hout.close()
    assert(names(csvDir).contains(".part-00000.csv.crc"))
    write("csv/part-00000.csv", "n,s\n2,bb\n3,ccc\n", overwrite = true)
    assert(names(csvDir) == Seq("part-00000.csv"))
    val back = spark.read.option("header", "true").csv(csvDir.toString)
      .select($"n".cast("int"), $"s").as[(Int, String)].collect().sorted.toSeq
    assert(back == Seq((2, "bb"), (3, "ccc")))
  }

  test("the metrics sink hands the parse only created_ts to decode") {
    val input = MemoryStream[String](spark)
    val q = MetricsJob.startWith(spark, input.toDF(), TempStores.newStorePath("prune_ckpt").toString,
      1, Some(100000L), (_, _) => ())
    val plan = try {
      input.addData(jsonEvent("a", 40000L))
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan.toString
    } finally q.stop()
    assert(plan.contains("from_json") && plan.contains("created_ts"), plan)
    Seq("event_id", "user_id", "event_type", "payload").foreach(c => assert(!plan.contains(c), plan))
  }
}
