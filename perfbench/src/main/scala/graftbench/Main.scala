package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import Workload._

/** Runs one workload in one JVM and writes the result line and the run
  * artifact. Invoked by run.py, which builds the classpath; see README.md.
  *
  * Arguments: --workload stream_paced|catalog --seed N
  * --seconds S --trace 0|1 --work DIR --out DIR --fixtures DIR
  * --catalog FILE.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val out = Files.createDirectories(Paths.get(a("out")))
    val cores = Runtime.getRuntime.availableProcessors()

    val w: Workload = workloadName match {
      case "stream_paced" => new Paced(cores, seed, seconds, work)
      case "catalog" => new Catalog(seed, seconds, Paths.get(a("fixtures")),
        catalogSubset(Paths.get(a("catalog"))))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val heap = ArrayBuffer[Double]()
    // Live heap: the lowest reading over five full collections 100 ms
    // apart. The context cleaner frees dropped broadcasts, shuffles and
    // cached blocks only after a collection has cleared their references,
    // so a single reading sometimes still counts them.
    def heapMark(): Unit = heap += (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    // Set-up, four times on fresh sessions; the last session stays up. The
    // first cycle also pays for JVM class loading and is left out, so
    // setup_s is the median of the three later cycles.
    val setupCycles = 4
    val setupS = (1 to setupCycles).map { c =>
      val t0 = System.nanoTime()
      val spark = graft.Sessions.local(cores, "graftbench")
      w.setupUnit(spark)
      val s = secSince(t0)
      if (c < setupCycles) spark.stop()
      s
    }
    val spark = SparkSession.active

    val warm = w.warmUp(spark)
    heapMark()
    val hostBefore = host(spark, cores)
    val plain = w.measure(spark, None, () => heapMark())

    val (tracedRun, spans) = if (!traced) (None, Nil) else {
      val tracer = new Tracer
      val rec = new EngineRecorder(tracer)
      val ctx = TraceCtx(tracer, rec, tracer.newId())
      spark.sparkContext.addSparkListener(rec)
      spark.streams.addListener(rec.streaming)
      spark.listenerManager.register(rec.planning)
      val t0 = nowMs()
      val m = w.measure(spark, Some(ctx), () => ())
      tracer.add(Span(ctx.root, 0L, "run", w.name, t0.toDouble, nowMs().toDouble))
      spark.sparkContext.removeSparkListener(rec)
      spark.streams.removeListener(rec.streaming)
      spark.listenerManager.unregister(rec.planning)
      val all = tracer.all ++ rec.spans((run, batch) => ctx.triggerSpans.getOrElse((run, batch), ctx.root))
      (Some(m), all)
    }
    // One more untraced window after the traced one. The overhead compares
    // the traced window with the mean of the untraced windows on either
    // side of it, so warm-up still going on across the windows cancels.
    val plainAfter = tracedRun.map(_ => w.measure(spark, None, () => ()))
    val hostAfter = host(spark, cores)

    val runs = plain +: (tracedRun.toSeq ++ plainAfter.toSeq)
    val attempted = runs.map(_.attempted).sum
    val failed = runs.map(_.failed).sum
    val correct = failed == 0 && runs.forall(_.problems.isEmpty)
    val metrics: Seq[(String, String, Double)] = tracedRun match {
      case None =>
        val v = Map(
          "setup_s" -> Stats.median(setupS.tail),
          "heap_peak_mb" -> heap.max,
          "latency_ms_p50" -> plain.p50Ms,
          "latency_ms_p90" -> plain.p90Ms,
          "throughput_per_s" -> plain.throughput)
        Names.endToEnd.map { case (n, u) => (n, u, v(n)) }
      case Some(t) =>
        val untracedP50 = (plain.p50Ms + plainAfter.get.p50Ms) / 2
        val v = t.layers ++ Map(
          "host.canary_loop_before_s" -> hostBefore._1,
          "host.canary_range_before_s" -> hostBefore._2,
          "host.canary_loop_after_s" -> hostAfter._1,
          "host.canary_range_after_s" -> hostAfter._2,
          "trace.overhead_pct" -> (t.p50Ms - untracedP50) / untracedP50 * 100.0)
        Names.perLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
    }

    val tag = s"$workloadName-seed$seed-trace${a("trace")}"
    if (spans.nonEmpty) {
      val self = Span.selfTimes(spans)
      Files.write(out.resolve(s"$tag.spans.jsonl"), spans.map { s =>
        Json.render(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self(s.id), "attrs" -> s.attrs))
      }.asJava)
    }
    def describe(m: Measured): Map[String, Any] = Map(
      "latency_ms_p50" -> m.p50Ms, "latency_ms_p90" -> m.p90Ms, "samples" -> m.samples,
      "highest_percentile_with_10_beyond" -> Stats.highestSupported(m.samples),
      "throughput_per_s" -> m.throughput, "attempted" -> m.attempted, "failed" -> m.failed,
      "failed_ratio" -> m.failed.toDouble / math.max(1L, m.attempted),
      "problems" -> m.problems, "layers" -> m.layers, "detail" -> m.detail)
    val artifact = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "traced" -> traced, "setup_s" -> setupS, "warmup_unit_s" -> warm,
      "heap_after_gc_mb" -> heap.toSeq,
      "host_before" -> Map("loop_s" -> hostBefore._1, "range_s" -> hostBefore._2),
      "host_after" -> Map("loop_s" -> hostAfter._1, "range_s" -> hostAfter._2),
      "untraced" -> describe(plain), "traced" -> tracedRun.map(describe),
      "untraced_after_traced" -> plainAfter.map(describe),
      "metrics" -> metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    Files.writeString(out.resolve(s"$tag.json"), Json.render(artifact) + "\n")

    println(s"[graftbench] $workloadName seed=$seed seconds=$seconds trace=${a("trace")} cores=$cores")
    metrics.foreach { case (n, u, v) => println(f"[graftbench]   $n%-40s ${Json.num(v)}%14s $u") }
    runs.flatMap(_.problems).foreach(p => println(s"[graftbench] CHECK FAILED: $p"))
    val result = Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    Files.writeString(Paths.get(a("result")), Json.render(result) + "\n")
    spark.stop()
    graft.TempStores.deleteAll()
  }

  /** `query<TAB>expected rows` lines; `#` starts a comment. */
  def catalogSubset(f: Path): Seq[(String, Long)] =
    Files.readAllLines(f).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val c = l.split("\t"); c(0) -> c(1).toLong }.toSeq

  /** Host bracket: the two probes of `graft.tools.Canary` at a tenth of
    * their size and timed once (the full min-of-3 pair takes ~20 s): a
    * single-core scalar loop and an all-core `spark.range` aggregation.
    */
  private def host(spark: SparkSession, cores: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    var s = 1.0
    var i = 0
    while (i < 100000000) { s = s * 1.0000000001 + 1e-9; i += 1 }
    require(s > 0)
    val loop = secSince(t0)
    val t1 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, cores).agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.col("id") % 7)).head()
    (loop, secSince(t1))
  }
}
