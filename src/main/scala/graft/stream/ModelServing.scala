package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.QualityModel

/** Trained-model SERVING on streams — the batch-train → stream-serve
  * edge for the round-8 trained operators, mirroring the streaming PQ
  * serving proof (StreamingSpec): models train as batch aggregations
  * over the corpus, then serve inside a Structured Streaming query as
  * broadcast-constant projections (stateless — no state store, no
  * watermark required for the scoring itself).
  *
  * Also the streaming half of the `drift_psi` monitor: per-window
  * feature-histogram aggregation whose emitted rows are re-comparable
  * against a FROZEN training-time baseline histogram — online drift
  * detection over an unbounded ingest stream with constant per-window
  * state (feature × bin counters).
  */
object ModelServing {

  /** Score a DOC STREAM with a trained quality model: identical
    * expressions to the batch `QualityModel.score`, running as a
    * stateless streaming projection (the plan has no aggregation — the
    * trained scaler/weights are plan constants).
    */
  def scoreStream(docs: DataFrame, m: QualityModel.Model): DataFrame =
    QualityModel.score(docs, m)

  /** ONLINE refinement of a trained quality model: mini-batch gradient
    * descent where every micro-batch applies one `gradientStep` (the
    * same corpus aggregation the batch trainer runs — 4 micro-unit
    * longs + a count of driver traffic per trigger). The scaler (μ/σ)
    * stays FROZEN from training — a deployment refines weights online
    * but re-standardizing against a moving scaler would silently change
    * what every historical weight means. Weights live driver-side
    * (foreachBatch runs on the driver), so serving reads [[model]]
    * between triggers; determinism is per-batch exact (micro-unit
    * sums), proven against a driver-side replay in ModelServingSpec.
    */
  final class OnlineQualityTrainer(init: QualityModel.Model,
      lr: Double = QualityModel.Lr) extends Serializable {
    @volatile private var w: Array[Double] = init.w.clone()
    def model: QualityModel.Model = QualityModel.Model(w.clone(), init.mu, init.sd)
    /** foreachBatch body: one mini-batch gradient step. */
    def processBatch(batch: DataFrame): Unit = {
      if (!batch.isEmpty) {
        val fs = QualityModel.standardize(
          QualityModel.features(batch), init.mu, init.sd)
        w = QualityModel.gradientStep(fs, w, lr)
      }
    }
    def start(docs: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
      docs.writeStream.outputMode("append")
        .foreachBatch((b: DataFrame, _: Long) => processBatch(b))
        .start()
  }

  /** Viterbi-tokenize a DOC STREAM with the trained unigram vocab —
    * the unigram twin of [[tokenizeStream]]: one stateless projection
    * (native DP kernel per word inside per-doc array HOFs), values
    * identical to the batch `Unigram.encodeWith` plan per document.
    */
  def unigramStream(docs: DataFrame,
      v: graft.functions.UnigramVocab): DataFrame =
    docs.select(col("doc_id"),
        graft.ext.Unigram.unigramPiecesPerDoc(col("text"), v).as("_t"))
      .select(col("doc_id"), col("_t.n_pieces").as("n_pieces"),
        col("_t.n_unk_words").as("n_unk_words"), col("_t.pieces").as("pieces"))
      .where(col("n_pieces") > 0L)

  /** Tokenize a DOC STREAM with the trained greedy (WordPiece) vocab —
    * stateless per-row serving: the whole tokenization is one projection
    * (native greedy kernel per word inside per-doc array HOFs), values
    * identical to the batch `Bpe.greedyTokenize` plan per document.
    */
  def tokenizeStream(docs: DataFrame,
      gv: graft.functions.GreedyVocab): DataFrame =
    docs.select(col("doc_id"),
        graft.ext.Bpe.greedyPiecesPerDoc(col("text"), gv).as("_t"))
      .select(col("doc_id"), col("_t.n_pieces").as("n_pieces"),
        col("_t.n_unk_words").as("n_unk_words"), col("_t.pieces").as("pieces"))
      // wordless docs produce no row in the batch plan (its word filter
      // precedes the groupBy); keep the stream==batch row set identical
      .where(col("n_pieces") > 0L)

  /** Per-window (feature, bin) histogram counts of the quality features
    * — the ingest side of online drift monitoring. State per window is
    * the constant feature × bin counter set; append mode emits a
    * window's bins once the watermark closes it. Downstream, any
    * window's emitted bins compare against the frozen baseline via
    * `ext/Drift.psiVsBaseline` (a batch computation over KB-sized
    * frames); `Drift.featureBins` is the batch twin of these bins.
    */
  def windowedFeatureBins(docs: DataFrame, timeCol: String,
      windowDur: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    graft.ext.Drift.binned(docs, timeCol)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur), col("feature"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
}
