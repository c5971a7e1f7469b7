package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.stream.{DedupStream, QualityGate}

/** The streaming ingest path composed END-TO-END — the streaming twin of
  * `pipeline_training_corpus_v2`'s quality+dedup prefix:
  *
  *   MemoryStream → QualityGate admission (frozen gopher + bigram-LM
  *   thresholds) → DedupStream.byContent (exact content dedup, watermark
  *   state) → DedupStream.clusterIngest (near-dup cluster store) →
  *   per-cluster representative
  *
  * After EVERY micro-batch, the surviving corpus must equal the batch
  * pipeline over the same prefix of documents: batch admission (the
  * shared gopherMetrics/pplRanked helpers the v2 composite uses) →
  * batch exact dedup (min doc_id per normalized-content md5) → batch
  * LSH pipeline (candidates → exact Jaccard ≥ 0.5 →
  * connectedComponents) → min doc_id per cluster. The fixture is the
  * real sf0.001 corpus plus a planted cross-batch EXACT dup and a
  * planted cross-batch NEAR dup (batch 3 copies of a batch 1 doc), so
  * all three stateful stages are exercised across batch boundaries.
  *
  * The remaining v2 gates are per-row projections (mojibake regexes)
  * or the same frozen-constant percolation pattern (hot URL domains,
  * holdout shingles) with no cross-batch state — composing them adds
  * no new streaming semantics, which is why the stateful prefix is the
  * composition that needs the proof.
  *
  * v2's per-cluster representative rule is quality-ranked; min-doc_id
  * is used HERE on both sides because the property under test is that
  * the composed streaming state (admission × content state × cluster
  * store) reproduces the batch survivor SET — the representative
  * function is a pure post-pass over identical (cluster → members)
  * maps, so any deterministic choice proves the same composition.
  */
class ComposedStreamSpec extends SparkSpec {
  import spark.implicits._

  private val DupId = 900001L
  private val NearId = 900002L
  private val B1End = 167L
  private val B2End = 334L

  /** sf0.001 corpus + planted batch-3 copies of an admitted batch-1 doc:
    * an exact dup (same text) and a near dup (last word dropped).
    */
  private lazy val fixture: (String, Long) = {
    val base = Tables.documents(spark, sf0001)
    // pick the batch-1 doc with the LOWEST admitted NLL on the original
    // corpus: planting two more docs shifts the per-lang 80% rank cut
    // only at the margin, so the far-from-the-cut winner stays admitted
    val admitted = graft.queries.CorpusQueries.pplRanked(spark, sf0001)
      .where(col("keep") && col("doc_id") < B1End)
      .join(graft.queries.CorpusQueries.gopherMetrics(spark, sf0001)
        .where(col("keep")).select(col("doc_id")), Seq("doc_id"))
    val srcId = admitted.orderBy(col("nll"), col("doc_id"))
      .select(col("doc_id")).as[Long].head()
    val src = base.where(col("doc_id") === srcId)
    val planted = src.select(lit(DupId).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .unionByName(src.select(lit(NearId).as("doc_id"),
        // near dup = src text + one sentinel token. Editing the tail of
        // an existing doc does NOT work on this corpus: the generator
        // emits prefix-family documents (src-minus-last-word normalizes
        // to another doc's exact content — doc 360 for src 12 — so the
        // "near dup" became that doc's EXACT dup and byContent rightly
        // ate it). The appended token is unique corpus-wide, keeping
        // the content key fresh while the shingle Jaccard stays ~1.
        concat(trim(col("text")), lit(" qzvxnear")).as("text"),
        col("lang"), col("source"), col("n_chars")))
      .withColumn("n_chars", length(col("text")).cast(base.schema("n_chars").dataType))
    val dir = TempStores.newStorePath("composed_corpus").toFile.getAbsolutePath
    base.unionByName(planted).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (dir, srcId)
  }

  private def norm(textCol: org.apache.spark.sql.Column) =
    md5(graft.functions.TextExpressions.normalize_text(textCol))

  /** Batch reference over a prefix of the arrival order: admission →
    * exact dedup (min id per content) → LSH clusters → min id per
    * cluster.
    */
  private def batchSurvivors(corpusDir: String, prefix: DataFrame): Set[Long] = {
    val adm = prefix
      .join(graft.queries.CorpusQueries.gopherMetrics(spark, corpusDir)
        .where(col("keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(graft.queries.CorpusQueries.pplRanked(spark, corpusDir)
        .where(col("keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val exactKept = adm.withColumn("_k", norm(col("text")))
      .withColumn("_minid", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("_k"))))
      .where(col("doc_id") === col("_minid"))
      .select(col("doc_id"), col("text"))
    val sets = Dedup.shingleSetsOf(exactKept, "doc_id", "text")
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
    val ids = exactKept.select(col("doc_id")).as[Long].collect()
    ids.groupBy(id => cc.getOrElse(id, id)).map(_._2.min).toSet
  }

  test("stream gate -> exact dedup -> cluster ingest == batch survivors after every batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (dir, srcId) = fixture
    val docs = Tables.documents(spark, dir)
    val lm = QualityGate.freeze(spark, dir)
    val thr = QualityGate.freezeThresholds(spark, dir)

    // preconditions that keep the dedup stages non-vacuous: the source
    // doc and both planted copies must clear admission, and the batch
    // cut must have no at-tie rejects (where stream >= -at-tie admission
    // would diverge by documented design)
    val admBatch = graft.queries.CorpusQueries.pplRanked(spark, dir)
      .select(col("doc_id"), col("lang"), col("nll"), col("keep"))
      .as[(Long, String, Double, Boolean)].collect()
    val admSet = admBatch.filter(_._4).map(_._1).toSet
    assert(Seq(srcId, DupId, NearId).forall(admSet.contains),
      s"planted docs must be admitted (src=$srcId): " +
        admBatch.filter(r => Seq(srcId, DupId, NearId).contains(r._1)).mkString(", "))
    admBatch.foreach { case (id, lang, nll, kept) =>
      if (!kept) assert(nll != thr.getOrElse(lang, Double.NaN),
        s"fixture has an at-tie reject (doc $id) — prefix equality would not be exact")
    }
    val gopherSet = graft.queries.CorpusQueries.gopherMetrics(spark, dir)
      .where(col("keep")).select(col("doc_id")).as[Long].collect().toSet
    assert(Seq(srcId, DupId, NearId).forall(gopherSet.contains),
      "planted docs must clear the gopher gate")
    // the near-dup's content key must be unique CORPUS-WIDE (a key
    // shared with ANY doc — not just src — turns the near-dup into an
    // exact dup and the cluster stage is never exercised)
    val nearKeyCount = docs.withColumn("_k", norm(col("text")))
      .withColumn("_nk", max(when(col("doc_id") === NearId, col("_k")))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .where(col("_k") === col("_nk")).count()
    assert(nearKeyCount == 1L,
      s"planted near-dup content collides with $nearKeyCount corpus docs")

    // arrival order: ascending doc_id in three batches; the planted
    // copies arrive LAST so their state lookups cross two batch
    // boundaries
    val rows = docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().sortBy(_._1)
      .zipWithIndex
      .map { case ((id, lang, text), i) => (id, lang, text, 1000L + i) }
    val batches = Seq(
      rows.filter(_._1 < B1End),
      rows.filter(r => r._1 >= B1End && r._1 < B2End),
      rows.filter(_._1 >= B2End))
    assert(batches.forall(_.nonEmpty))

    val store = TempStores.newStorePath("composed_store").toFile.getAbsolutePath
    val input = MemoryStream[(Long, String, String, Long)](spark)
    val src = input.toDF().toDF("doc_id", "lang", "text", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val admitted = QualityGate.gate(src, lm, thr,
        passthrough = Seq("text", "ts"))
      .where(col("keep")).select(col("doc_id"), col("text"), col("ts"))
    val deduped = DedupStream.byContent(admitted, "text", "ts", "1 hour")
    val q = DedupStream.clusterIngest(deduped.drop("ts"), store)
      .option("checkpointLocation", TempStores.newStorePath("composed_ck").toString)
      .start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        input.addData(b.toSeq)
        q.processAllAvailable()
        val labels = Dedup.readClusterLabels(spark, store).get
          .as[(Long, Long)].collect()
        val streamSurv = labels.groupBy(_._2).map(_._2.map(_._1).min).toSet
        val prefixIds = batches.take(i + 1).flatten.map(_._1)
        val prefix = docs.where(col("doc_id").isin(prefixIds: _*))
        val expected = batchSurvivors(dir, prefix)
        assert(streamSurv == expected,
          s"after batch $i: stream=${streamSurv.size} batch=${expected.size} " +
            s"diff=${(streamSurv diff expected) ++ (expected diff streamSurv)}")
      }
      // the planted copies were consumed by the right stages: the exact
      // dup never reached the cluster store (content state dropped it in
      // batch 3), the near dup reached it and merged with its source
      val labels = Dedup.readClusterLabels(spark, store).get
        .as[(Long, Long)].collect().toMap
      assert(!labels.contains(DupId), "exact dup must be dropped by byContent")
      assert(labels.contains(NearId) && labels(NearId) == labels(srcId),
        "cross-batch near-dup must merge with its batch-1 source")
    } finally q.stop()
  }
}
