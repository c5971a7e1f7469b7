package graft.analysis

import org.apache.spark.sql.functions._
import graft.Sessions

/** CLI twins of the reference's three analysis scripts — a user of
  * `analyze_exp1.py` / `analyze_exp2.py` / `analyze_recovery.py` switches
  * to these one-for-one. Python loops over run folders become run-label
  * columns + grouped aggregation: one Spark job per experiment regardless
  * of run count.
  */
object Exp1Main {
  /** args: <metricsRootDir> <outDir> [warmupSec=120] [measureSec=240]
    * [triggerSec=5]. Run label comes from the `rate_<n>` folder naming
    * convention (analyze_exp1.py:95-98) via regexp over file paths.
    */
  def main(args: Array[String]): Unit = {
    val Array(root, out) = args.take(2)
    val warmup = args.lift(2).map(_.toLong).getOrElse(120L)
    val measure = args.lift(3).map(_.toLong).getOrElse(240L)
    val trigger = args.lift(4).map(_.toInt).getOrElse(5)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-exp1")
    val labeled = Analysis.readMetricsCsv(spark, root)
      .withColumn("rate_eps_input",
        regexp_extract(input_file_name(), "rate_(\\d+)", 1).cast("int"))
      .where(col("rate_eps_input").isNotNull)
    val summary = Analysis.exp1Summary(labeled, "rate_eps_input", warmup, measure, trigger)
    Analysis.writeSummaryCsv(summary, out)
    // S6 plot sinks: the reference's two exp1 matplotlib figures, as PNG
    Plot.exp1Figures(summary, out).foreach(p => println(s"Saved plot: $p"))
    summary.show(100, truncate = false)
    spark.stop()
  }
}

object Exp2Main {
  /** args: <outDir> <label>=<metricsDir> [<label>=<metricsDir> ...] —
    * the labeled-run dict of analyze_exp2.py:12-17 as CLI args. Window is
    * warm-up-only (epoch >= min+120), like the reference (:30-31).
    */
  def main(args: Array[String]): Unit = {
    val out = args.head
    val runs = args.tail.map { a =>
      val Array(label, dir) = a.split("=", 2); (label, dir)
    }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-exp2")
    val labeled = runs.map { case (label, dir) =>
      Analysis.readMetricsCsv(spark, dir).withColumn("configuration", lit(label))
    }.reduce(_ unionByName _)
    // warm-up-only window: no upper bound (large-but-overflow-safe measure)
    val summary = Analysis.exp1Summary(labeled, "configuration",
      warmupSec = 120L, measureSec = 10L * 365 * 24 * 3600, triggerSec = 5)
    Analysis.writeSummaryCsv(summary, out)
    // S6 plot sink: the reference's exp2 bar figure, as PNG
    println(s"Saved plot: ${Plot.exp2Figure(summary, out)}")
    summary.show(100, truncate = false)
    spark.stop()
  }
}

object Exp3Main {
  /** args: <metricsDir> [outDir] — recovery analysis (analyze_recovery.py):
    * largest inter-batch gap = the downtime+recovery event.
    */
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-exp3")
    val m = Analysis.readMetricsCsv(spark, dir).withColumn("run", lit("all"))
    val recovery = Analysis.recoveryEvent(m, "run").drop("run")
    args.lift(1).foreach(out => Analysis.writeSummaryCsv(recovery, out))
    recovery.show(truncate = false)
    spark.stop()
  }
}
