package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables

/** Adversarial-skew probe (dev evidence, not part of the driver
  * contract): the corpus-family scale claims say a planted hot token /
  * hot bigram / hot window-hash lands on a REDUCER key — collapsed
  * map-side by partial aggregation, or spread as a high-cardinality
  * secondary key — so no single task ends up holding the hot group's
  * token stream. This probe MEASURES that instead of asserting it:
  * it builds an 8× corpus where EVERY EVEN TOKEN POSITION of every
  * document is one hot token (50% of the whole token stream is a single
  * value — far beyond any natural Zipf head), runs the corpus family,
  * and reports per-query wall time plus the worst per-stage task skew
  * (max/median task duration, max task shuffle-read) from a
  * TaskEnd listener.
  *
  * Reading: skew(dur) ≈ 1 means the hot key was never one task's
  * problem; max-shuffle-read per task bounds reducer-side concentration.
  * Compare wall time with the unskewed 8× ScaleProbe numbers — the
  * corpus has the same token count, so a blowup is pure hot-key cost.
  */
object SkewProbe {

  private val SmallStride = 10000000L
  val HotToken = "zqhotzq"

  def build(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    if (Files.exists(Paths.get(s"$out/_DONE"))) return
    (0 until factor).map { i =>
      Tables.documents(spark, base)
        .withColumn("doc_id", col("doc_id") + lit(i * SmallStride))
        // even positions → the hot token; odd keep per-copy-suffixed text
        // (copy suffix keeps cross-copy shingles disjoint, as ScaleProbe)
        .withColumn("text", array_join(
          transform(split(col("text"), "\\s+"), (t, j) =>
            when(pmod(j, lit(2)) === 0, lit(HotToken))
              .otherwise(if (i == 0) t
                else concat(t, lit(ScaleProbe.copySuffix(i))))), " "))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // the corpus family reads events too (anomaly/transitions excluded —
    // token skew does not apply); copy events through for table resolution
    Tables.events(spark, base).write.mode("overwrite").parquet(s"$out/events.parquet")
    Files.createFile(Paths.get(s"$out/_DONE"))
  }

  /** (stageId → (durationsMs, shuffleReadBytes)) for tasks since clear(). */
  private class SkewListener extends SparkListener {
    val stages = mutable.Map.empty[Int, (mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Long])]
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val (d, s) = stages.getOrElseUpdate(t.stageId,
        (mutable.ArrayBuffer.empty[Long], mutable.ArrayBuffer.empty[Long]))
      d += t.taskInfo.duration
      s += (if (t.taskMetrics != null) t.taskMetrics.shuffleReadMetrics.totalBytesRead else 0L)
    }
    def clear(): Unit = synchronized(stages.clear())
    /** worst stage by max task duration → (maxMs, max/median, maxShuffleMB);
      * only stages with enough tasks for skew to mean anything.
      */
    def worst(): (Long, Double, Double) = synchronized {
      val cand = stages.values.filter(_._1.size >= 4)
      if (cand.isEmpty) (0L, 1.0, 0.0)
      else {
        val (durs, shuf) = cand.maxBy(_._1.max)
        val sorted = durs.sorted
        val med = math.max(sorted(sorted.size / 2), 1L)
        (sorted.last, sorted.last.toDouble / med, shuf.max / 1e6)
      }
    }
  }

  private val probeQueries = Seq(
    "zipf_token_freq", "ngram_top_bigrams", "lm_bigram_score",
    "dup_span_ratio", "dup_span_strip", "text_tfidf_top_terms", "text_rarity",
    "boilerplate_ngrams", "quantile_bucket_tokens", "text_bm25_hot")

  /** text_bm25_hot is a probe-only spelling: BM25 where the QUERY
    * CONTAINS the hot token (50% of the whole token stream) — the
    * stop-word-in-the-query worst case. Claims under test: the (doc,
    * term) tf aggregation partial-combines map-side (doc keys are
    * distinct even for the hot term), and df is a groupBy aggregate,
    * not a per-term window that would put the hot term's whole posting
    * list on one task.
    */
  private def probeQuery(spark: SparkSession, q: String,
      dir: String): org.apache.spark.sql.DataFrame =
    if (q == "text_bm25_hot")
      graft.ext.Retrieval.bm25TopK(Tables.documents(spark, dir),
        Seq(HotToken, "spark", "dup"), 10)
    else graft.SparkEntry.queries(q)(spark, dir)

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    val only = args.drop(1).toSet
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_skew_x$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus.toInt, "graft-skew-probe")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(cpus.toInt, cpus.toInt * factor / 4).toLong)
    spark.sparkContext.setLogLevel("WARN")
    val listener = new SkewListener
    spark.sparkContext.addSparkListener(listener)

    build(spark, base, out, factor)

    val selected = if (only.isEmpty) probeQueries else probeQueries.filter(only)
    for (q <- selected) // JIT/codegen warm-up off the small fixture
      try probeQuery(spark, q, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }

    println(f"${"query"}%-24s ${"sec"}%7s ${"maxTask"}%8s ${"skew"}%6s ${"maxShufMB"}%10s")
    for (q <- selected) {
      listener.clear()
      val t0 = System.nanoTime()
      // toRdd.count(), not df.count(): count() lets Catalyst prune payload
      // columns (the ScaleProbe lesson) — skew in the pruned-away work
      // (e.g. dup_span_strip's reassembly agg) would go unmeasured.
      probeQuery(spark, q, out).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let the listener bus drain (public API only)
      val (maxMs, skew, maxShufMb) = listener.worst()
      println(f"$q%-24s $sec%7.2f ${maxMs / 1000.0}%7.2fs $skew%6.1f $maxShufMb%9.1f")
    }
    spark.stop()
  }
}
