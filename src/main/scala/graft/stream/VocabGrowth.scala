package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.TextOps

/** Streaming vocabulary-growth monitor — the ingest-time twin of the
  * batch `corpus_heaps_law` curve: as documents arrive, emit each token
  * type's FIRST GLOBAL SIGHTING, so the running count of emitted rows
  * IS the cumulative distinct-type count and the per-batch emitted
  * count is the curve's increment. The answer to "are my
  * vocabulary-sized tables (LM counts, BPE merges, postings) still
  * growing, and how fast?" while the corpus is still streaming in —
  * the batch query can only say so after the fact.
  *
  * Shape: explode tokens → stateful streaming distinct on the type
  * (`dropDuplicates`, the unbounded-key state shape `DedupStream` warns
  * about: one state row per DISTINCT TYPE, which under a Heaps'-law corpus
  * grows sublinearly in the stream — the rare case where
  * unbounded-key state is the CORRECT tool, because the key universe
  * is the vocabulary, not the event stream). Downstream, a
  * `foreachBatch` count or windowed aggregation turns first sightings
  * into the cumulative curve; `VocabGrowthSpec` proves the stream's
  * cumulative counts equal the batch `corpus_heaps_law` accounting
  * over every arrival prefix.
  */
object VocabGrowth {

  /** First global sighting of each token type in a document stream:
    * one output row (tk) per never-seen-before type, in arrival order.
    */
  def firstSightings(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("tk"))
      .dropDuplicates("tk")
}
