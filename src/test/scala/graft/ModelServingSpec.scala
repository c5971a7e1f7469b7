package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ext.{Drift, QualityModel}
import graft.stream.ModelServing

/** Batch-train → stream-serve edge (`stream/ModelServing`): the trained
  * quality model scoring a document stream, and the streaming drift
  * monitor (per-window feature bins vs a frozen training baseline).
  */
class ModelServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001)
  private lazy val model = QualityModel.train(docs)

  test("trained quality model scores a stream identically to batch") {
    val sample = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().take(40)
    val input = MemoryStream[(Long, String)](spark)
    val q = ModelServing.scoreStream(
        input.toDF().toDF("doc_id", "text"), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("scored_stream").start()
    try {
      input.addData(sample.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("scored_stream")
      .as[(Long, Double, Boolean)].collect().toMap2
    val batch = QualityModel.score(docs, model)
      .as[(Long, Double, Boolean)].collect().toMap2
    assert(streamed.nonEmpty && streamed.size == sample.length)
    streamed.foreach { case (id, sk) => assert(batch(id) == sk, s"doc $id") }
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("online mini-batch refinement == sequential batch gradient steps") {
    val sample = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().take(40)
    val (b1, b2) = sample.splitAt(20)
    val trainer = new ModelServing.OnlineQualityTrainer(model)
    val input = MemoryStream[(Long, String)](spark)
    val q = trainer.start(input.toDF().toDF("doc_id", "text"))
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // driver-side replay: the same two gradient steps on static frames
    def fs(rows: Array[(Long, String)]) =
      QualityModel.standardize(
        QualityModel.features(rows.toSeq.toDF("doc_id", "text")),
        model.mu, model.sd)
    val w1 = QualityModel.gradientStep(fs(b1), model.w, QualityModel.Lr)
    val w2 = QualityModel.gradientStep(fs(b2), w1, QualityModel.Lr)
    assert(trainer.model.w.toSeq == w2.toSeq)
    // scaler frozen from the initial model
    assert(trainer.model.mu.toSeq == model.mu.toSeq)
    assert(trainer.model.sd.toSeq == model.sd.toSeq)
  }

  test("trained greedy tokenizer serves a stream identically to the batch plan") {
    import graft.ext.Bpe
    val merges = Bpe.trainMerges(docs, "text", steps = 4)
    val gv = Bpe.greedyVocab(docs, "text", merges)
    val batch = Bpe.greedyTokenize(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val sample = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().take(25)
    val input = MemoryStream[(Long, String)](spark)
    val q = ModelServing.tokenizeStream(
        input.toDF().toDF("doc_id", "text"), gv)
      .writeStream.outputMode("append")
      .format("memory").queryName("tok_stream").start()
    try {
      input.addData(sample.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("tok_stream")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(streamed.size == sample.length)
    streamed.foreach { case (id, t) => assert(batch(id) == t, s"doc $id") }
  }

  test("windowed feature bins == batch bins per window; PSI vs baseline matches") {
    val sample = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().take(30)
    // two 1m windows: first 15 docs at t=1s, next 15 at t=61s, plus a
    // watermark-advancing straggler
    val timed = sample.zipWithIndex.map { case ((id, t), i) =>
      (id, t, if (i < 15) 1000L else 61000L)
    }
    val input = MemoryStream[(Long, String, Long)](spark)
    val stream = input.toDF().toDF("doc_id", "text", "ts")
      .withColumn("event_time", timestamp_millis($"ts"))
    val q = ModelServing.windowedFeatureBins(stream, "event_time")
      .writeStream.outputMode("append")
      .format("memory").queryName("drift_bins").start()
    try {
      input.addData(timed.toSeq)
      input.addData((0L, "watermark advancer text", 1000000L))
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("drift_bins")
      .select(unix_millis($"window.start").as("w"), $"feature", $"bin", $"cnt")
      .as[(Long, String, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3) -> r._4).toMap).toMap
    // batch twin per window
    def batchBins(ids: Set[Long]): Map[(String, Long), Long] =
      Drift.featureBins(docs.where($"doc_id".isin(ids.toSeq: _*)))
        .as[(String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val w0Ids = timed.filter(_._3 == 1000L).map(_._1).toSet
    val w1Ids = timed.filter(_._3 == 61000L).map(_._1).toSet
    assert(emitted(0L) == batchBins(w0Ids), "window 0 bins")
    assert(emitted(60000L) == batchBins(w1Ids), "window 1 bins")
    // PSI of the full training corpus against itself is exactly 0
    val base = Drift.featureBins(docs)
    val self = Drift.psiVsBaseline(base, base)
      .agg(sum(abs($"psi"))).head().getDouble(0)
    assert(self == 0.0, s"self-PSI $self")
    // PSI of window-0's emitted bins vs baseline == the same computation
    // from the batch twin (streamed counts are the same counts)
    val w0df = emitted(0L).toSeq.map { case ((f, b), c) => (f, b, c) }
      .toDF("feature", "bin", "cnt")
    val viaStream = Drift.psiVsBaseline(w0df, base)
      .orderBy("feature", "bin").collect().toSeq
    val viaBatch = Drift.psiVsBaseline(
        batchBins(w0Ids).toSeq.map { case ((f, b), c) => (f, b, c) }
          .toDF("feature", "bin", "cnt"), base)
      .orderBy("feature", "bin").collect().toSeq
    assert(viaStream == viaBatch)
  }
}
