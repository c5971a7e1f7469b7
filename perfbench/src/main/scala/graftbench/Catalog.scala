package graftbench

import java.nio.file.Path
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import Workload._

final case class QueryRun(name: String, pack: String, startMs: Double, buildMs: Double,
    wallMs: Double, rows: Long, error: Option[String], span: Long, buildSpan: Long,
    matSpan: Long)

/** The batch query catalog: a fixed subset of `SparkEntry.queries` over
  * the sf0.01 fixture, run one at a time (one client, closed loop) in whole
  * passes, each pass in its own seed-permuted order. Each result is fully
  * materialized through the noop sink, and its row count comes from an
  * observation on that same execution, checked against counts derived from
  * the DuckDB oracle SQL.
  */
class Catalog(seed: Long, seconds: Int, fixtures: Path,
    expected: Seq[(String, Long)]) extends Workload {
  val name = "catalog"
  private val rng = new scala.util.Random(seed)
  /** The queries share the engine's caches, generated-code classes among
    * them, so a query's time can depend on the queries run before it. Every
    * pass takes a new order, and a window averages over several.
    */
  private def nextOrder(): Seq[String] = rng.shuffle(expected.map(_._1))
  private val expectedRows = expected.toMap
  private lazy val fns = graft.SparkEntry.queries
  private val packOf: Map[String, String] =
    Names.packs.flatMap { case (p, qp) => qp.queries.keys.map(_ -> p) }.toMap
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Opens every fixture table (resolves its parquet schema). */
  def setupUnit(spark: SparkSession): Unit =
    tables.foreach(t => graft.Tables.table(spark, fixtures.toString, t).schema)

  /** Three passes over the subset. The first takes about three times as
    * long as a warm pass. Each pass still compiles about 60 generated
    * classes, whose JIT work keeps pass times falling until about the
    * seventh pass (6.9 s for the third, 5.1-5.2 s from the eighth on, on a
    * 4-core x86 VM); the benchmark's time budget leaves room for three
    * warm-up passes and three measured ones.
    */
  def warmUp(spark: SparkSession): Seq[Double] = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    nextOrder().foreach(q => runQuery(spark, q, None))
    secSince(t0)
  }

  def runQuery(spark: SparkSession, q: String, trace: Option[TraceCtx]): QueryRun = {
    val sc = spark.sparkContext
    val ids = trace.map(c => (c.tracer.newId(), c.tracer.newId(), c.tracer.newId()))
    def tag(id: Option[Long]): Unit = id.foreach(i => sc.setLocalProperty(SpanProperty.Key, i.toString))
    val s0 = nowMs().toDouble
    val t0 = System.nanoTime()
    var t1 = t0
    var rows = -1L
    val error = try {
      tag(ids.map(_._2))
      val df = fns(q)(spark, fixtures.toString)
      t1 = System.nanoTime()
      tag(ids.map(_._3))
      val obs = Observation("graftbench_rows")
      df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      rows = obs.get("rows").asInstanceOf[Long]
      None
    } catch {
      case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    } finally if (ids.isDefined) sc.setLocalProperty(SpanProperty.Key, null)
    val t2 = System.nanoTime()
    val run = QueryRun(q, packOf.getOrElse(q, "?"), s0, (t1 - t0) / 1e6, (t2 - t0) / 1e6,
      rows, error, ids.map(_._1).getOrElse(0L), ids.map(_._2).getOrElse(0L),
      ids.map(_._3).getOrElse(0L))
    trace.foreach { c =>
      val s1 = s0 + run.buildMs
      val s2 = s0 + run.wallMs
      c.tracer.add(Span(run.span, c.root, "query", q, s0, s2, Map("rows" -> rows.toDouble)))
      c.tracer.add(Span(run.buildSpan, run.span, "build", q, s0, s1))
      c.tracer.add(Span(run.matSpan, run.span, "materialize", q, s1, s2))
    }
    run
  }

  def measure(spark: SparkSession, trace: Option[TraceCtx], heapMark: () => Unit): Measured = {
    // Whole passes until the window has elapsed.
    val t0 = System.nanoTime()
    // Each pass's query runs and its wall time in seconds.
    val ran = scala.collection.mutable.ArrayBuffer[(Seq[QueryRun], Double)]()
    while (ran.isEmpty || secSince(t0) < seconds) {
      val order = nextOrder()
      val tp = System.nanoTime()
      ran += (order.map(q => runQuery(spark, q, trace)) -> secSince(tp))
    }
    val passes = ran.size
    val wallS = secSince(t0)
    val runs = ran.flatMap(_._1).toSeq
    heapMark()
    val problems = runs.flatMap { r =>
      r.error.map(e => s"${r.name}: $e").orElse(
        if (r.rows != expectedRows(r.name)) Some(s"${r.name}: ${r.rows} rows, oracle ${expectedRows(r.name)}")
        else None)
    }
    val ok = runs.filter(_.error.isEmpty).map(_.wallMs)
    require(ok.nonEmpty, s"every catalog query failed: ${problems.take(3).mkString("; ")}")

    val layers = trace.map { ctx =>
      org.apache.spark.GraftbenchAccess.awaitListeners(spark.sparkContext)
      val perRun = runs.map { r =>
        val jobs = ctx.rec.jobsUnder(Set(r.buildSpan, r.matSpan))
        val tasks = ctx.rec.tasksOf(jobs)
        val busy = Stats.coveredMs(tasks.map(t => (t.launchMs, t.finishMs)), r.startMs, r.startMs + r.wallMs)
        (r, jobs.size, tasks, r.wallMs - busy)
      }
      val mb = 1024.0 * 1024.0
      val packMetrics = Names.packs.flatMap { case (p, _) =>
        val rs = perRun.filter(_._1.pack == p)
        val ts = rs.flatMap(_._3)
        Seq(
          s"queries.$p.wall_s" -> rs.map(_._1.wallMs).sum / 1000.0,
          s"queries.$p.jobs" -> rs.map(_._2).sum.toDouble,
          s"queries.$p.task_s" -> ts.map(_.runMs).sum / 1000.0,
          s"queries.$p.idle_s" -> rs.map(_._4).sum / 1000.0,
          s"queries.$p.shuffle_mb" -> ts.map(_.shuffleWriteBytes).sum / mb,
          s"queries.$p.result_mb" -> ts.map(_.resultBytes).sum / mb)
      }.map { case (k, v) => k -> v / passes }
      val all = perRun.flatMap(_._3)
      (packMetrics ++ Seq(
        "catalog.build_s" -> runs.map(_.buildMs).sum / 1000.0,
        "catalog.plan_ms" -> ctx.rec.planMs.sum(),
        "catalog.spill_mb" -> all.map(_.spillBytes).sum / mb,
        "catalog.input_mb" -> all.map(_.inputBytes).sum / mb,
        "catalog.output_mb" -> all.map(_.outputBytes).sum / mb
      ).map { case (k, v) => k -> v / passes }).toMap
    }.getOrElse(Map.empty)

    Measured(
      // A window holds only 3-4 runs of each of 13 queries of uneven cost,
      // so a single order statistic jumps between queries from run to run.
      p50Ms = Stats.harrellDavis(ok, 0.5),
      p90Ms = Stats.harrellDavis(ok, 0.9),
      samples = ok.size.toLong,
      throughput = ok.size / wallS,
      attempted = runs.size.toLong,
      failed = problems.size.toLong,
      problems = problems,
      layers = layers,
      detail = Map(
        "fixture" -> fixtures.getFileName.toString, "passes" -> passes,
        "catalog_s" -> wallS / passes, "pass_s" -> ran.map(_._2).toSeq,
        "orders" -> ran.map(_._1.map(_.name)).toSeq,
        "excluded" -> (fns.keySet -- expectedRows.keySet).toSeq.sorted,
        "query_ms" -> runs.map(r => Seq(r.name, r.wallMs, r.buildMs, r.rows))))
  }
}
