package graft.tools

/** Generic per-query timer (dev tool): warms each named query at sf0.001,
  * then prints min-of-3 wall-clock at the target SF — the same protocol as
  * graft.Bench, for one query at a time.
  */
object Time {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_CONF="k1=v1;k2=v2" sets extra runtime SQL confs (A/B knobs).
    val extra = sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(';')
      .filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val spark = graft.Sessions.local(cpus.toInt, "graft-time")
    extra.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_HONEST=1: materialize via toRdd.count() so Catalyst
    // cannot column-prune payload expressions through the count (the
    // ScaleProbe lesson) — the default count() is kept for parity with
    // graft.Bench's protocol.
    val honest = sys.env.get("SPARK_GRAFT_HONEST").contains("1")
    def force(df: org.apache.spark.sql.DataFrame): Long =
      if (honest) df.queryExecution.toRdd.count() else df.count()
    for (q <- args) {
      val fn = graft.SparkEntry.queries(q)
      try force(fn(spark, "/root/testdata/sf0.001"))
      catch { case e: Throwable => println(s"[time] $q warmup failed: $e") }
      val times = Seq.fill(3) {
        val t0 = System.nanoTime()
        force(fn(spark, d))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $q%-28s min=${times.min}%.2f s  (passes: ${times.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
