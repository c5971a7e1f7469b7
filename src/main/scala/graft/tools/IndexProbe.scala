package graft.tools

import graft.ext.Retrieval

/** Read-amplification measurement for the segmented inverted index (dev
  * tool): serve the SAME BM25 query from the sf0.1 corpus indexed as 1,
  * 4, and 16 segments, min-of-3 wall each, then compact the 16-segment
  * index and re-serve. Turns the "s segments cost s pruned scans per
  * query" design claim — and compaction's payoff — into numbers.
  */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus.toInt, "graft-index-probe")
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.documents(spark, d)
    val terms = Seq("spark", "vector", "dup")
    val root = java.nio.file.Files
      .createTempDirectory("graft_index_probe").toString

    def timeServe(path: String): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Retrieval.bm25TopKSegmented(spark, path, terms, 10)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min

    def buildSegmented(n: Int): String = {
      val path = s"$root/seg$n"
      for (i <- 0 until n)
        Retrieval.writeIndexSegment(
          docs.where(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.lit(n.toLong)) === i),
          path, f"s$i%03d")
      path
    }

    val expected = Retrieval.bm25TopK(docs, terms, 10).count()
    for (n <- Seq(1, 4, 16)) {
      val path = buildSegmented(n)
      val rows = Retrieval.bm25TopKSegmented(spark, path, terms, 10).count()
      require(rows == expected, s"seg$n: $rows rows != $expected")
      println(f"segments=$n%3d  serve=${timeServe(path)}%.3f s")
    }
    val p16 = s"$root/seg16"
    val t0 = System.nanoTime()
    Retrieval.compactSegments(spark, p16)
    println(f"compact(16)  wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
    println(f"segments=  1 (post-compaction)  serve=${timeServe(p16)}%.3f s")
  }
}
