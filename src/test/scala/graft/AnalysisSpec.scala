package graft

import java.nio.file.Files
import graft.analysis.Analysis

/** Offline-analysis semantics vs hand-computed expectations (SURVEY
  * §5.2.4): windowing with fallback, summaries, gap/recovery detection,
  * and the defensive CSV scan.
  */
class AnalysisSpec extends SparkSpec {
  import spark.implicits._

  // (batch_id, epoch_sec, batch_events, mean, p50, p95, p99)
  private def metricsDf(rows: Seq[(Long, Long, Long, Double, Double, Double, Double)]) =
    rows.toDF("batch_id", "epoch_sec", "batch_events", "mean_latency_ms",
      "p50_latency_ms", "p95_latency_ms", "p99_latency_ms")
      .withColumn("run_label", org.apache.spark.sql.functions.lit("r1"))

  test("measurementWindow keeps [min+warmup, min+warmup+measure) when enough rows") {
    val m = metricsDf((0L until 10L).map(i => (i, 100L + i * 10, 50L, 1.0, 1.0, 2.0, 3.0)))
    // min=100, warmup=20 -> t0=120; measure=40 -> [120, 160): epochs 120,130,140,150
    val kept = Analysis.measurementWindow(m, "run_label", 20, 40, minRows = 3)
      .select($"epoch_sec").as[Long].collect().sorted
    assert(kept.toSeq == Seq(120L, 130L, 140L, 150L))
  }

  test("measurementWindow falls back to >= t0 when strict window is thin") {
    val m = metricsDf(Seq(
      (0L, 100L, 1L, 1, 1, 1, 1), (1L, 120L, 1L, 1, 1, 1, 1),
      (2L, 500L, 1L, 1, 1, 1, 1), (3L, 600L, 1L, 1, 1, 1, 1)).map {
      case (a, b, c, d, e, f, g) => (a, b, c, d.toDouble, e.toDouble, f.toDouble, g.toDouble) })
    // t0 = 100+20 = 120; strict [120,160) has 1 row < minRows=2 -> keep all >= 120
    val kept = Analysis.measurementWindow(m, "run_label", 20, 40, minRows = 2)
      .select($"epoch_sec").as[Long].collect().sorted
    assert(kept.toSeq == Seq(120L, 500L, 600L))
  }

  test("summarize computes the 8 reference aggregates per run") {
    val m = Analysis.withThroughput(metricsDf(Seq(
      (0L, 100L, 10L, 100.0, 90.0, 200.0, 300.0),
      (1L, 105L, 20L, 200.0, 190.0, 400.0, 500.0))), triggerSec = 5)
    val r = Analysis.summarize(m, "run_label").head()
    assert(r.getAs[Long]("n_batches") == 2L)
    assert(r.getAs[Double]("mean_throughput_eps") == 3.0)   // (2+4)/2
    assert(r.getAs[Double]("p95_throughput_eps") == 3.9)    // exact interpolation
    assert(r.getAs[Double]("mean_latency_ms") == 150.0)
    assert(r.getAs[Double]("max_p95_latency_ms") == 400.0)
  }

  test("recoveryEvent finds the row after the largest gap") {
    val m = metricsDf(Seq(
      (0L, 100L, 1L, 1.0, 1.0, 5.0, 1.0), (1L, 105L, 1L, 1.0, 1.0, 6.0, 1.0),
      (2L, 200L, 1L, 1.0, 1.0, 7.0, 1.0), // 95 s gap = the recovery point
      (3L, 205L, 1L, 1.0, 1.0, 8.0, 1.0)))
    val r = Analysis.recoveryEvent(m, "run_label").head()
    assert(r.getAs[Long]("epoch_sec") == 200L)
    assert(r.getAs[Long]("gap_sec") == 95L)
    assert(r.getAs[Long]("batch_id") == 2L)
    assert(r.getAs[Double]("p95_latency_ms") == 7.0)
  }

  test("readMetricsCsv scans recursively with declared schema and drops bad rows") {
    val dir = graft.TempStores.newStorePath("metrics_csv")
    val sub = Files.createDirectories(dir.resolve("run_a/part0"))
    Files.writeString(sub.resolve("m1.csv"),
      "batch_id,epoch_sec,batch_events,mean_latency_ms,p50_latency_ms,p95_latency_ms,p99_latency_ms\n" +
        "1,100,50,10.5,9.0,20.0,30.0\n" +
        "garbage,row,not,numeric,at,all,x\n" +
        "2,105,60,11.5,10.0,21.0,31.0\n")
    val got = Analysis.readMetricsCsv(spark, dir.toString)
    assert(got.count() == 2)
    assert(got.schema.fieldNames.toSeq == graft.model.BatchMetrics.schema.fieldNames.toSeq)
  }

  test("readMetricsCsv reads the idempotent sink's batch_id=N files") {
    def event(id: String, ts: Long) =
      s"""{"event_id":"$id","created_ts":$ts,"user_id":1,"event_type":"click","value":1.5,"payload":"x"}"""
    val outDir = graft.TempStores.newStorePath("metrics_idem_read").toString
    val t0 = System.currentTimeMillis() / 1000L
    Seq(4L -> Seq(event("a", 40000L), event("b", 60000L)),
      9L -> Seq(event("c", 70000L), event("d", 80000L), event("e", 90000L))).foreach {
      case (id, events) =>
        val batch = graft.stream.MetricsJob.withLatency(
          graft.stream.MetricsJob.parse(events.toDF("value")), Some(100000L))
        graft.stream.MetricsJob.writeBatchIdempotent(spark, outDir)(batch, id)
    }
    val t1 = System.currentTimeMillis() / 1000L
    val got = Analysis.readMetricsCsv(spark, outDir)
      .select($"batch_id", $"epoch_sec", $"batch_events", $"mean_latency_ms")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._3, r._4)).toSeq == Seq((4L, 2L, 50000.0), (9L, 3L, 20000.0)))
    assert(got.forall(r => r._2 >= t0 && r._2 <= t1), s"epoch_sec outside [$t0, $t1]: ${got.mkString}")
  }

  /** Filled circle markers of a line figure in series color `rgb`: an
    * 8-px marker always holds a 4×4 block of exact series-color pixels,
    * which the 2-px polyline never does; blocks within a marker's width
    * of each other are one marker.
    */
  private def markers(img: java.awt.image.BufferedImage, rgb: Int): Int = {
    val blocks = for {
      x <- 0 until img.getWidth - 3; y <- 0 until img.getHeight - 3
      if (0 to 3).forall(dx => (0 to 3).forall(dy => img.getRGB(x + dx, y + dy) == rgb))
    } yield (x, y)
    blocks.foldLeft(List.empty[(Int, Int)]) { (found, b) =>
      if (found.exists(f => math.abs(f._1 - b._1) <= 8 && math.abs(f._2 - b._2) <= 8)) found
      else b :: found
    }.size
  }

  /** Bars of a bar figure in color `rgb`: runs of that color along the
    * pixel row just above the baseline.
    */
  private def bars(img: java.awt.image.BufferedImage, rgb: Int): Int = {
    val row = (0 until img.getWidth).map(x => img.getRGB(x, img.getHeight - 64 - 2) == rgb)
    row.zip(false +: row.dropRight(1)).count { case (cur, prev) => cur && !prev }
  }

  test("S6 plot sinks: exp1/exp2 PNG figures carry the summary's data points") {
    // Two labeled runs -> summary -> figures: the PNG files the
    // reference's matplotlib scripts save, with one marker per summary
    // row (exp1 line plots) and one bar per configuration (exp2).
    val m = Analysis.withThroughput(
      Seq((0L, 100L, 5000L, 100.0, 90.0, 200.0, 300.0),
        (1L, 105L, 5000L, 110.0, 95.0, 220.0, 330.0),
        (2L, 100L, 40000L, 400.0, 390.0, 800.0, 900.0),
        (3L, 105L, 40000L, 410.0, 395.0, 820.0, 930.0))
        .toDF("batch_id", "epoch_sec", "batch_events", "mean_latency_ms",
          "p50_latency_ms", "p95_latency_ms", "p99_latency_ms")
        .withColumn("rate_eps_input",
          org.apache.spark.sql.functions.when($"batch_events" === 5000L, 1000)
            .otherwise(8000)), triggerSec = 5)
    val summary = Analysis.summarize(m, "rate_eps_input")
    val out = graft.TempStores.newStorePath("graft_png").toString
    val blue = new java.awt.Color(0x1f, 0x77, 0xb4).getRGB
    def read(p: String) = javax.imageio.ImageIO.read(new java.io.File(p))
    val figs = graft.analysis.Plot.exp1Figures(summary, out)
    assert(figs.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet ==
      Set("throughput_vs_rate.png", "p95_latency_vs_rate.png"))
    figs.foreach(p => assert(markers(read(p), blue) == 2, s"one marker per rate row in $p"))

    val summary2 = Analysis.summarize(
      m.withColumnRenamed("rate_eps_input", "x")
        .withColumn("configuration",
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("cfg_"), $"x")), "configuration")
    val bar = graft.analysis.Plot.exp2Figure(summary2, out)
    assert(bar.endsWith("/exp2_p95_latency.png"))
    assert(bars(read(bar), blue) == 2, "one bar per configuration")
  }

  test("S6 plot sinks: PNG twins decode with the figure's data drawn") {
    // matplotlib parity (analyze_exp1.py:123): the PNG path must write a
    // real decodable raster — correct canvas, series drawn in the figure
    // color, not a blank frame.
    val blue = new java.awt.Color(0x1f, 0x77, 0xb4).getRGB
    val img = graft.analysis.Plot.linePng(
      Seq((1000.0, 100.0), (8000.0, 400.0)), "t", "x", "y")
    assert(img.getWidth == 640 && img.getHeight == 420)
    val pix = for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
      yield img.getRGB(x, y)
    assert(pix.count(_ == blue) > 100, "series line/markers drawn")
    assert(pix.count(_ == java.awt.Color.WHITE.getRGB) > 100000, "canvas")
    assert(pix.count(_ == java.awt.Color.BLACK.getRGB) > 500, "axes+text")
    val bar = graft.analysis.Plot.barPng(
      Seq(("a", 5.0), ("b", 9.0)), "t", "y")
    // two bars -> two horizontal blue runs along the baseline-1 row
    val runs = bars(bar, blue)
    assert(runs == 2, s"expected 2 bar runs, got $runs")
    // PNG encode -> decode round-trip through the byte codec
    val outDir = graft.TempStores.newStorePath("graft_png").toString
    graft.analysis.Plot.writePng(s"$outDir/t.png", img)
    val back = javax.imageio.ImageIO.read(new java.io.File(s"$outDir/t.png"))
    assert(back.getWidth == 640 && back.getHeight == 420)
    assert(back.getRGB(320, 210) != 0, "decoded raster carries pixels")
  }

  test("driver contract: entry returns rows and every query has unique name") {
    assert(SparkEntry.entry(spark).count() > 0)
    val q = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(q.keySet))
    assert(q.size >= 30)
  }
}
