package graft.tools

import org.apache.spark.sql.functions._

/** High-cardinality-key stress for the TopKPerKey operator, meant to run
  * in a SMALL-HEAP JVM (e.g. `java -Xmx1g`):
  *
  *   20M rows, every key distinct → the bounded-heap map would hold ALL
  *   rows (plus per-key PriorityQueue overhead, gigabytes on-heap). With
  *   the byte-tracked budget (`spark.graft.topk.spillBytes`) the operator
  *   degrades to the spillable external sort and completes in bounded
  *   memory; with the budget effectively disabled (`unsafe` arg) the same
  *   run demonstrates the pre-fix failure mode (OOM).
  *
  * args: [rows] [safe|unsafe]
  */
object TopKStress {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val unsafe = args.lift(1).contains("unsafe")
    val spark = graft.Sessions.local(8, "graft-topk-stress")
    spark.conf.set("spark.graft.topk.spillBytes",
      if (unsafe) Long.MaxValue else 64L << 20)
    spark.sparkContext.setLogLevel("WARN")

    val df = spark.range(rows).select(
      col("id").as("k"),
      (col("id") % 97).as("o"),
      (col("id") % 1000).cast("double").as("v"))
    val t0 = System.nanoTime()
    val n = graft.plans.TopK.perKey(df, Seq("k"), Seq(("o", true), ("v", false)), 1)
      .count()
    val sec = (System.nanoTime() - t0) / 1e9
    val mode = if (unsafe) "unsafe" else "safe"
    println(f"[topk-stress] mode=$mode rows=$rows distinct-keys=$rows kept=$n " +
      f"heapMax=${Runtime.getRuntime.maxMemory() / (1 << 20)}MB time=$sec%.1f s " +
      (if (n == rows) "PASS" else "FAIL"))
    spark.stop()
    if (n != rows) sys.exit(1)
  }
}
