package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Incremental near-dup cluster maintenance (`Dedup.ingestClusterBatch`):
  * after any sequence of batches the persisted labels must equal the
  * BATCH pipeline (minhash pairs → connectedComponents + singletons)
  * over the union corpus — including the hard case where a new doc
  * merges two clusters born in different earlier batches. Plus replay
  * idempotence and vacuum.
  */
class ClusterIngestSpec extends SparkSpec {
  import spark.implicits._

  // Three distinct content families, far apart in shingle space; exact
  // copies guarantee banding collisions and Jaccard 1.0 regardless of
  // LSH luck, so the batch-equality property is exercised on real
  // merges, not vacuous empty pair sets.
  private val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val tB = "one two three four five six seven eight nine ten eleven"
  private val tC = "red orange yellow green blue indigo violet white black gray"
  private val tD = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"

  private def df(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  /** Batch-pipeline reference: LSH candidates over the union, exact
    * Jaccard >= 0.5, connectedComponents, singletons labeled self.
    */
  private def batchReference(union: DataFrame): Map[Long, Long] = {
    val sets = Dedup.shingleSetsOf(union, "doc_id", "text")
    val sigs = sets.select(col("doc_id") +: Dedup.signaturesFromHashes(col("toks")): _*)
    val b = Dedup.minhashBands(sigs, "doc_id")
    val cand = b.as("l").join(b.as("r"),
        col("l.band_ix") === col("r.band_ix") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b")).distinct()
    val pairs = cand
      .join(sets.select(col("doc_id").as("id_a"), col("toks").as("_ta")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("toks").as("_tb")), Seq("id_b"))
      .where(Dedup.jaccardHashed(col("_ta"), col("_tb")) >= 0.5)
      .select(col("id_a"), col("id_b"))
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val all = union.select("doc_id").as[Long].collect()
    all.map(id => id -> cc.getOrElse(id, id)).toMap
  }

  private def storeLabels(path: String): Map[Long, Long] =
    Dedup.readClusterLabels(spark, path).get.as[(Long, Long)].collect().toMap

  test("incremental labels equal the batch pipeline, incl. cross-batch merge") {
    val dir = graft.TempStores.newStorePath("clusterstore").toFile.getAbsolutePath
    val b1 = df(1L -> tA, 2L -> tA, 10L -> tB)            // cluster {1,2}, singleton 10
    val b2 = df(20L -> tC, 3L -> tA)                       // 3 joins {1,2}; 20 singleton
    val b3 = df(11L -> tB, 21L -> tC, 30L -> tD)           // 11→10, 21→20, 30 singleton
    val batches = Seq(b1, b2, b3)
    batches.zipWithIndex.foreach { case (b, i) =>
      Dedup.ingestClusterBatch(spark, dir, b, "doc_id", "text", i.toLong)
      val union = batches.take(i + 1).reduce(_.unionByName(_))
      assert(storeLabels(dir) == batchReference(union), s"after batch $i")
    }
    // merge case proven non-vacuous: {1,2,3} spans batches 0 and 1
    val labels = storeLabels(dir)
    assert(labels(1L) == labels(2L) && labels(2L) == labels(3L))
    assert(labels(10L) == labels(11L) && labels(20L) == labels(21L))
    assert(labels(30L) == 30L)
    // time travel: each batch's committed view replays from its snapshot
    for (i <- batches.indices) {
      val union = batches.take(i + 1).reduce(_.unionByName(_))
      val at = Dedup.readClusterLabelsAt(spark, dir, i.toLong).get
        .as[(Long, Long)].collect().toMap
      assert(at == batchReference(union), s"as-of batch $i")
    }
  }

  test("clusters growing across three batches stay single components") {
    val dir = graft.TempStores.newStorePath("clusterstore").toFile.getAbsolutePath
    // Two content families interleaved across every batch: each arrival
    // must attach to its family's existing cluster via the banded
    // history (never to the other family), through three generations of
    // label rewrites.
    Dedup.ingestClusterBatch(spark, dir, df(1L -> tA, 2L -> tB), "doc_id", "text", 0L)
    Dedup.ingestClusterBatch(spark, dir, df(3L -> tA, 4L -> tB), "doc_id", "text", 1L)
    Dedup.ingestClusterBatch(spark, dir, df(5L -> tA, 6L -> tB), "doc_id", "text", 2L)
    val labels = storeLabels(dir)
    assert(labels(1L) == 1L && labels(3L) == 1L && labels(5L) == 1L)
    assert(labels(2L) == 2L && labels(4L) == 2L && labels(6L) == 2L)
    val union = df(1L -> tA, 2L -> tB, 3L -> tA, 4L -> tB, 5L -> tA, 6L -> tB)
    assert(labels == batchReference(union))
  }

  test("streaming clusterIngest equals the batch pipeline over the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = graft.TempStores.newStorePath("clusterstore").toFile.getAbsolutePath
    val ms = MemoryStream[(Long, String)](spark)
    val q = graft.stream.DedupStream
      .clusterIngest(ms.toDF().toDF("doc_id", "text"), dir)
      .option("checkpointLocation",
        graft.TempStores.newStorePath("cluster_ck").toString)
      .start()
    try {
      ms.addData(1L -> tA, 2L -> tA, 10L -> tB)
      q.processAllAvailable()
      ms.addData(3L -> tA, 11L -> tB, 30L -> tD)
      q.processAllAvailable()
      val union = df(1L -> tA, 2L -> tA, 10L -> tB,
        3L -> tA, 11L -> tB, 30L -> tD)
      assert(storeLabels(dir) == batchReference(union))
    } finally q.stop()
  }

  test("replayed batch ids are no-ops and vacuum keeps the live view") {
    val dir = graft.TempStores.newStorePath("clusterstore").toFile.getAbsolutePath
    Dedup.ingestClusterBatch(spark, dir, df(1L -> tA, 2L -> tA), "doc_id", "text", 0L)
    val before = storeLabels(dir)
    // replay batch 0 with DIFFERENT content — watermark must reject it
    Dedup.ingestClusterBatch(spark, dir, df(99L -> tD), "doc_id", "text", 0L)
    assert(storeLabels(dir) == before)
    Dedup.ingestClusterBatch(spark, dir, df(3L -> tA), "doc_id", "text", 1L)
    Dedup.vacuumClusterStore(dir)
    val after = storeLabels(dir)
    assert(after == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // batch 0 = compacting base commit; batch 1 = LSM delta commit
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("sets-b0", "bands-b0", "sets-b1", "bands-b1",
      "labels-g0", "lmap-b1", "ndocs-b1"))
  }

  test("label compaction folds the delta chain without changing the view") {
    val dir = graft.TempStores.newStorePath("clusterstore").toFile.getAbsolutePath
    // maxDeltas=2: batches 0 (base), 1, 2 (deltas), 3 (compacts), 4, 5
    val batches = Seq(
      df(1L -> tA, 2L -> tA), df(10L -> tB), df(3L -> tA),
      df(11L -> tB, 20L -> tC), df(4L -> tA), df(21L -> tC, 12L -> tB))
    batches.zipWithIndex.foreach { case (b, i) =>
      Dedup.ingestClusterBatch(spark, dir, b, "doc_id", "text", i.toLong,
        maxDeltas = 2)
      val union = batches.take(i + 1).reduce(_.unionByName(_))
      assert(storeLabels(dir) == batchReference(union), s"after batch $i")
    }
    // the chain compacted at least once: live base generation > g0,
    // and after vacuum no stale generations or folded deltas remain
    Dedup.vacuumClusterStore(dir)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    val gens = dirs.filter(_.startsWith("labels-g"))
    assert(gens.size == 1 && gens.head != "labels-g0", s"dirs=$dirs")
    // an empty batch advances the watermark without writing deltas
    Dedup.ingestClusterBatch(spark, dir, df(), "doc_id", "text", 6L)
    assert(new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet == dirs)
    Dedup.ingestClusterBatch(spark, dir, df(99L -> tD), "doc_id", "text", 6L)
    assert(!storeLabels(dir).contains(99L), "replayed batch id must no-op")
  }
}
