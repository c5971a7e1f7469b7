package graft.tools

import org.apache.spark.sql.SparkSession

/** Machine-throughput canary (dev tool): two FIXED workloads with no
  * fixture input, timed min-of-3 — a pure-JVM scalar loop (single-core
  * arithmetic throughput) and a spark.range aggregation (task scheduling
  * + codegen throughput across all cores). Nothing here depends on the
  * engine's plans or the fixtures, so the canary separates the two causes
  * a whole-catalog bench number can drift between rounds:
  *
  *  - canary moved with the bench  → host/JVM throughput changed
  *    (CPU frequency, steal, cgroup limits, JIT behavior) — re-baseline,
  *    don't chase plans;
  *  - canary flat, bench moved     → the engine changed — find the query.
  *
  * Reference values are recorded in SURVEY §8 next to each round's bench
  * total. (Motivated by the r6→r7 uniform ~1.5× catalog drift, which
  * this tool's protocol attributes to machine state: the drift hit
  * literal-projection and fixture-reading queries identically and
  * reproduced across sessions.)
  */
object Canary {

  /** Pure-JVM single-core loop: ~1e9 multiply-adds, warmed once,
    * min-of-3. Shared with `graft.Bench`, which brackets the catalog
    * with this pair so the official artifact self-describes host state.
    */
  def loopSec(): Double = {
    def run(): Double = {
      val t0 = System.nanoTime()
      var s = 1.0; var i = 0
      while (i < 1000000000) { s = s * 1.0000000001 + 1e-9; i += 1 }
      require(s > 0) // keep the loop observable
      (System.nanoTime() - t0) / 1e9
    }
    run() // warmup
    Seq.fill(3)(run()).min
  }

  /** All-core codegen aggregation over a fixed synthetic range, warmed
    * once, min-of-3 — task scheduling + codegen throughput, no fixture.
    */
  def rangeSec(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions._
    def run(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 2000000000L, 1, cpus)
        .agg(sum(col("id") % 7)).head()
      (System.nanoTime() - t0) / 1e9
    }
    run() // warmup
    Seq.fill(3)(run()).min
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus.toInt, "graft-canary")
    spark.sparkContext.setLogLevel("WARN")
    println(f"[canary] jvm_loop_1e9=${loopSec()}%.2f s  " +
      f"range_2e9_sum=${rangeSec(spark, cpus.toInt)}%.2f s  cores=$cpus")
    spark.stop()
  }
}
