package graft.tools

/** Dev evidence for the incremental cluster store's scale claim: ingest
  * cost per batch must track the BATCH, not the accumulated corpus —
  * non-compacting commits write only batch-sized deltas, the base
  * rewrite amortizes over `maxDeltas` batches, and the history band
  * probe is a keyed join on band keys. Synthetic batches keep per-batch
  * structure constant (fixed doc count, fixed intra-batch dup families,
  * a fixed slice of exact copies of batch-0 docs so every batch does
  * real cross-history merging); prints per-batch seconds — flat with
  * periodic compaction spikes is the pass shape.
  *
  * Usage: runMain graft.tools.ClusterProbe [nBatches] [docsPerBatch]
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(16)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(2000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.Sessions.local(cpus.toInt, "graft-cluster-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Deterministic batch content: per-batch token suffix qB keeps
    // batches near-dup-disjoint, except docs j<50 replay batch 0's
    // generator exactly (cross-history merge work every batch);
    // j%40==0 docs duplicate their j-1 neighbor (intra-batch pairs).
    def text(b: Int, j: Int): String = {
      val bb = if (j < 50) 0 else b
      val jj = if (j % 40 == 0 && j > 0) j - 1 else j
      (0 until 12).map(t => s"w${(jj * 7 + t * 13) % 500}q$bb").mkString(" ")
    }
    val dir = java.nio.file.Files.createTempDirectory("cluster_probe")
      .toFile.getAbsolutePath
    println(s"[probe] store=$dir batches=$nBatches docs/batch=$perBatch")
    for (b <- 0 until nBatches) {
      val docs = (0 until perBatch)
        .map(j => (b.toLong * 1000000L + j, text(b, j))).toDF("doc_id", "text")
      val t0 = System.nanoTime()
      graft.ext.Dedup.ingestClusterBatch(spark, dir, docs, "doc_id", "text",
        b.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] batch $b%2d  corpus ${(b + 1) * perBatch}%7d docs  ${sec}%6.2f s")
    }
    val labels = graft.ext.Dedup.readClusterLabels(spark, dir).get
    val nClusters = labels.select("label").distinct().count()
    println(s"[probe] final: ${labels.count()} docs, $nClusters clusters")
    spark.stop()
  }
}
