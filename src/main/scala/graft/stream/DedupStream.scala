package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming deduplication — the ingest-time twin of `ext/Dedup.exact`
  * (SURVEY §2.6 superset surface): drop repeated records as they arrive,
  * before they ever reach storage, instead of as a batch pass afterwards.
  *
  * Both flavors are Spark's native stateful dedup operators, so state
  * lives in the configured state store (RocksDB at scale) keyed by the
  * dedup key — per-key O(1), the same shape `tools/StateProbe` measures.
  *
  *  - [[withinWatermark]] (`dropDuplicatesWithinWatermark`) keeps a key's
  *    state only until the watermark passes its event time + delay:
  *    BOUNDED state, the only shape that survives an unbounded 100 TB/day
  *    stream. Semantics: duplicates arriving within the watermark delay of
  *    the first sighting are dropped; a re-arrival after eviction is
  *    treated as new (exactly the contract for replay/retry dedup, where
  *    duplicates cluster within the delivery window).
  *  - Spark's own `dropDuplicates` keeps every key seen — exact across
  *    the whole stream but state grows with distinct keys; only for
  *    bounded key universes (parity with batch-exact semantics, the
  *    correct tool behind a compacted key space).
  */
object DedupStream {

  /** Watermark-bounded streaming dedup on explicit key columns.
    * `tsCol` must be a timestamp column; `delay` e.g. "10 minutes".
    */
  def withinWatermark(events: DataFrame, keyCols: Seq[String], tsCol: String,
      delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Content dedup for a document stream: key = md5 of the canonicalized
    * text (the native `normalize_text`, same canonical form as the batch
    * `dedup_normalized` catalog query), so trivially-reformatted copies
    * dedupe too. The 16-byte digest — not the document — is the state key.
    */
  def byContent(docs: DataFrame, textCol: String, tsCol: String,
      delay: String): DataFrame =
    docs.withColumn("_content_md5",
        md5(graft.functions.TextExpressions.normalize_text(col(textCol))))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_content_md5")
      .drop("_content_md5")

  /** Streaming NEAR-dup cluster maintenance: every micro-batch folds
    * into the persisted cluster store through
    * `ext/Dedup.ingestClusterBatch` — LSH probe against the banded
    * history, exact-Jaccard verify, label merge, one atomic manifest
    * commit. The store watermark makes a failure-replayed epoch a
    * no-op, so the sink is effectively exactly-once; after any prefix
    * of batches the labels equal the batch pipeline over the union
    * corpus (`ClusterIngestSpec` equality proof — the streaming query
    * is the same code path with Spark supplying `batchId`).
    */
  def clusterIngest(docs: DataFrame, storePath: String,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.ext.Dedup.ingestClusterBatch(batch.sparkSession, storePath,
          batch, idCol, textCol, batchId)
    }
}
