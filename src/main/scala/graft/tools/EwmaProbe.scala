package graft.tools

import org.apache.spark.sql.functions._

/** One-giant-key EWMA probe (dev evidence for the recursive segmentation):
  * a SINGLE user holding 16× the whole sf0.1 event stream (1.6 M ordered
  * events). The recursive fold must complete "flat" — every aggregation
  * buffer bounded by EwmaChunk structs, the only O(n) structure being the
  * spillable per-key sort — and the result must match a driver-side
  * sequential fold within the composition's rounding-reorder tolerance.
  * Times N and N/16 for the scaling ratio (linear bound 16).
  */
object EwmaProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1600000L)
    val spark = graft.Sessions.local(32, "graft-ewma-probe")
    spark.sparkContext.setLogLevel("WARN")

    def build(rows: Long, dir: String): Unit =
      spark.range(rows).select(
        lit(1).as("user_id"),
        expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
        col("id").as("event_id"),
        (pmod(col("id") * 2654435761L, lit(1000L)).cast("double") / 10.0).as("value"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

    def time(dir: String): (Double, Double, Int) = {
      val t0 = System.nanoTime()
      val rows = graft.queries.PipelineQueries.queries("ewma_user_value")(spark, dir).collect()
      ((System.nanoTime() - t0) / 1e9,
        rows(0).getAs[Double]("ewma"), rows(0).getAs[Int]("n"))
    }

    val small = "/tmp/graft_ewma_small"
    val big = "/tmp/graft_ewma_giant"
    build(n / 16, small); build(n, big)
    time(small) // warm-up
    val (tS, _, _) = time(small)
    val (tB, ewma, gotN) = time(big)
    // driver-side sequential fold (the semantic reference)
    var seq = 0.0d
    var first = true
    var i = 0L
    while (i < n) {
      val v = java.lang.Math.floorMod(i * 2654435761L, 1000L).toDouble / 10.0
      seq = if (first) { first = false; v } else seq * 0.5 + v * 0.5
      i += 1
    }
    println(f"[ewma-probe] n=$gotN%d  small(${n / 16}%d)=$tS%.2f s  big($n%d)=$tB%.2f s  " +
      f"ratio=${tB / tS}%.1f (linear=16)  ewma=$ewma%.6f  seq=${math.rint(seq * 1e6) / 1e6}%.6f  " +
      f"|diff|=${math.abs(ewma - seq)}%.2e")
    assert(gotN == n.toInt, "row count mismatch")
    assert(math.abs(ewma - seq) <= 2e-6, "EWMA diverged beyond composition tolerance")
    spark.stop()
  }
}
