package graft.analysis

import java.nio.file.{Files, Paths}

/** S6 plot sinks: the reference renders its experiment figures with
  * matplotlib and saves them as PNG (results/exp1/analysis/
  * analyze_exp1.py:114-135, exp2/analysis/analyze_exp2.py:53-61). The
  * engine draws the same figures as PNG with the JDK alone — rasterized
  * by java.awt Graphics2D, encoded by javax.imageio, headless
  * (BufferedImage needs no display toolkit) — so a paper-reproducer gets
  * viewable artifacts straight from the analysis CLIs. Summaries are one
  * row per run configuration, so plotting is inherently driver-side; the
  * heavy lifting (the summary aggregation) stays distributed upstream.
  */
object Plot {

  private val W = 640
  private val H = 420
  // plot box margins: left, right, top, bottom
  private val ML = 84; private val MR = 24; private val MT = 48; private val MB = 64

  private def fmt(v: Double): String =
    if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString
    else f"$v%.6g".replaceAll("0+$", "").stripSuffix(".")

  /** ~5 round-number ticks spanning [lo, hi]. */
  private def ticks(lo: Double, hi: Double): Seq[Double] = {
    val span = if (hi > lo) hi - lo else math.max(math.abs(hi), 1.0)
    val raw = span / 4
    val mag = math.pow(10, math.floor(math.log10(raw)))
    val step = (raw / mag) match {
      case r if r <= 1 => mag
      case r if r <= 2 => 2 * mag
      case r if r <= 5 => 5 * mag
      case _ => 10 * mag
    }
    val first = math.ceil(lo / step) * step
    Iterator.iterate(first)(_ + step).takeWhile(_ <= hi + step * 1e-9).toSeq
  }

  private val Blue = new java.awt.Color(0x1f, 0x77, 0xb4)
  private val GridGray = new java.awt.Color(0xcc, 0xcc, 0xcc)

  private def withCanvas(title: String)(draw: java.awt.Graphics2D => Unit)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(W, H,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_ANTIALIASING,
        java.awt.RenderingHints.VALUE_ANTIALIAS_ON)
      g.setColor(java.awt.Color.WHITE); g.fillRect(0, 0, W, H)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF,
        java.awt.Font.BOLD, 15))
      drawCentered(g, title, W / 2, 24)
      draw(g)
    } finally g.dispose()
    img
  }

  private def drawCentered(g: java.awt.Graphics2D, s: String, cx: Int,
      y: Int): Unit = {
    val w = g.getFontMetrics.stringWidth(s)
    g.drawString(s, cx - w / 2, y)
  }

  private def drawAxes(g: java.awt.Graphics2D, xlabel: String,
      ylabel: String): Unit = {
    g.setColor(java.awt.Color.BLACK)
    g.drawLine(ML, H - MB, W - MR, H - MB)
    g.drawLine(ML, MT, ML, H - MB)
    g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF,
      java.awt.Font.PLAIN, 12))
    drawCentered(g, xlabel, (ML + W - MR) / 2, H - 14)
    val old = g.getTransform
    g.rotate(-math.Pi / 2, 18, (MT + H - MB) / 2)
    drawCentered(g, ylabel, 18, (MT + H - MB) / 2)
    g.setTransform(old)
  }

  private def drawYGrid(g: java.awt.Graphics2D, yLo: Double, yHi: Double,
      py: Double => Double): Unit = {
    g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF,
      java.awt.Font.PLAIN, 11))
    for (t <- ticks(yLo, yHi)) {
      val y = py(t).toInt
      g.setColor(GridGray)
      val dashed = new java.awt.BasicStroke(0.5f,
        java.awt.BasicStroke.CAP_BUTT, java.awt.BasicStroke.JOIN_MITER,
        10f, Array(4f, 3f), 0f)
      val old = g.getStroke
      g.setStroke(dashed); g.drawLine(ML, y, W - MR, y); g.setStroke(old)
      g.setColor(java.awt.Color.BLACK)
      val s = fmt(t)
      g.drawString(s, ML - 8 - g.getFontMetrics.stringWidth(s), y + 4)
    }
  }

  /** Line plot with circular markers — the exp1 figure shape
    * (throughput / p95-latency vs input rate).
    */
  def linePng(points: Seq[(Double, Double)], title: String,
      xlabel: String, ylabel: String): java.awt.image.BufferedImage = {
    require(points.nonEmpty, "no points to plot")
    val sorted = points.sortBy(_._1)
    val (xs, ys) = (sorted.map(_._1), sorted.map(_._2))
    val (xLo, xHi) = (xs.min, xs.max)
    val (yLo, yHi) = (math.min(ys.min, 0.0), ys.max)
    def px(x: Double) = ML + (if (xHi > xLo) (x - xLo) / (xHi - xLo) else 0.5) * (W - ML - MR)
    def py(y: Double) = (H - MB) - (if (yHi > yLo) (y - yLo) / (yHi - yLo) else 0.5) * (H - MT - MB)
    withCanvas(title) { g =>
      drawYGrid(g, yLo, yHi, py)
      g.setColor(java.awt.Color.BLACK)
      for (t <- ticks(xLo, xHi)) {
        val x = px(t).toInt
        g.drawLine(x, H - MB, x, H - MB + 5)
        drawCentered(g, fmt(t), x, H - MB + 20)
      }
      drawAxes(g, xlabel, ylabel)
      g.setColor(Blue)
      g.setStroke(new java.awt.BasicStroke(2f))
      sorted.sliding(2).foreach {
        case Seq((x1, y1), (x2, y2)) =>
          g.drawLine(px(x1).toInt, py(y1).toInt, px(x2).toInt, py(y2).toInt)
        case _ => ()
      }
      sorted.foreach { case (x, y) =>
        g.fillOval(px(x).toInt - 4, py(y).toInt - 4, 8, 8)
      }
    }
  }

  /** Labeled bar chart — the exp2 figure shape (p95 latency by
    * configuration).
    */
  def barPng(bars: Seq[(String, Double)], title: String, ylabel: String)
      : java.awt.image.BufferedImage = {
    require(bars.nonEmpty, "no bars to plot")
    val yHi = math.max(bars.map(_._2).max, 0.0)
    val yLo = math.min(bars.map(_._2).min, 0.0)
    def py(y: Double) = (H - MB) - (if (yHi > yLo) (y - yLo) / (yHi - yLo) else 0.5) * (H - MT - MB)
    val n = bars.size
    val slot = (W - ML - MR).toDouble / n
    val bw = slot * 0.6
    withCanvas(title) { g =>
      drawYGrid(g, yLo, yHi, py)
      drawAxes(g, "", ylabel)
      bars.zipWithIndex.foreach { case ((label, v), i) =>
        val x = ML + slot * i + (slot - bw) / 2
        val yTop = py(math.max(v, 0.0))
        val h = math.abs(py(0.0) - py(v))
        g.setColor(Blue)
        g.fillRect(x.toInt, yTop.toInt, bw.toInt, math.max(h.toInt, 1))
        val cx = (ML + slot * i + slot / 2).toInt
        g.setColor(java.awt.Color.BLACK)
        g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF,
          java.awt.Font.PLAIN, 11))
        val old = g.getTransform
        g.rotate(math.toRadians(20), cx, H - MB + 18)
        drawCentered(g, label, cx, H - MB + 18)
        g.setTransform(old)
      }
    }
  }

  def writePng(path: String, img: java.awt.image.BufferedImage): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    javax.imageio.ImageIO.write(img, "png", p.toFile)
  }

  /** The two exp1 figures (analyze_exp1.py:114-135), from the summary
    * frame (one row per rate — a driver-side collect of a handful of
    * rows). Returns the written paths.
    */
  def exp1Figures(summary: org.apache.spark.sql.DataFrame, outDir: String,
      rateCol: String = "rate_eps_input"): Seq[String] = {
    val rows = summary.select(rateCol, "mean_throughput_eps", "mean_p95_latency_ms")
      .collect()
      .map(r => (r.get(0).toString.toDouble, r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val p1 = s"$outDir/throughput_vs_rate.png"
    writePng(p1, linePng(rows.map(r => (r._1, r._2)).toSeq,
      "Experiment 1: Throughput vs Input Rate",
      "Input rate (events/sec)", "Mean throughput (events/sec)"))
    val p2 = s"$outDir/p95_latency_vs_rate.png"
    writePng(p2, linePng(rows.map(r => (r._1, r._3)).toSeq,
      "Experiment 1: p95 Latency vs Input Rate",
      "Input rate (events/sec)", "Average p95 end-to-end latency (ms)"))
    Seq(p1, p2)
  }

  /** The exp2 figure (analyze_exp2.py:53-61): p95 latency by labeled
    * configuration.
    */
  def exp2Figure(summary: org.apache.spark.sql.DataFrame, outDir: String,
      labelCol: String = "configuration"): String = {
    val rows = summary.select(labelCol, "mean_p95_latency_ms").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val p = s"$outDir/exp2_p95_latency.png"
    writePng(p, barPng(rows,
      "Experiment 2: Effect of Partitions and Parallelism",
      "Average p95 latency (ms)"))
    p
  }
}
