package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Suffix-array text operators (round 8, wave 7): repeated-span discovery
  * by sorted-suffix adjacency — the Lee et al. 2022 ("Deduplicating
  * Training Data Makes Language Models Better") suffix-array shape, with
  * a bounded span radius so the suffix frame stays linear in the corpus.
  *
  * Core facts used:
  *  - all suffixes sharing a prefix form a contiguous block in suffix
  *    order, so every repeated span is realized as the common prefix of
  *    some ORDER-ADJACENT suffix pair (block of size ≥2 ⇒ an adjacent
  *    pair inside it), and the longest repeat is exactly the max
  *    adjacent LCP;
  *  - any adjacent pair with LCP ≥ 2 shares its first two tokens, so
  *    partitioning the sort by the 2-token prefix preserves adjacency
  *    and loses no pair at thresholds ≥ 2 — a GLOBAL suffix sort becomes
  *    a keyed window (the w3_lag_gap banding idea applied to suffix
  *    arrays).
  *
  * Suffixes are capped at [[SuffixW]] tokens: O(W·tokens) rows/bytes
  * instead of O(L²), at the cost that no repeat longer than W is
  * distinguished (it reports as exactly W). Tokens are the whitespace
  * tokenizer the rest of the text family uses ([[TextOps.tokens]]).
  */
object SuffixOps {

  /** Span-radius cap, in tokens. */
  val SuffixW = 16

  /** One row per token position: (doc_id, s = W-capped suffix array).
    * The full token array rides through posexplode only inside one
    * codegen stage — nothing O(L²) is materialized or shuffled; whatever
    * shuffle follows carries the W-capped slice.
    */
  def suffixFrame(docs: DataFrame, idCol: String, textCol: String,
      w: Int = SuffixW): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_toks"),
        posexplode(col("_toks")).as(Seq("pos", "_t")))
      .select(col("doc_id"), slice(col("_toks"), col("pos") + 1, lit(w)).as("s"))

  /** Longest common prefix of two token arrays — the native codegen
    * `token_lcp` walk (r13; one pass, stops at the first mismatch).
    * Replaces the r12 declarative aggregate-over-slices spelling,
    * which ran as an INTERPRETED higher-order function doing O(W²)
    * slice allocations + compares per pair — measured as the dominant
    * task time of the suffix family. Equal for every input because
    * prefix-j equality is monotone in j (SuffixOpsSpec pins it).
    */
  def lcp(a: Column, b: Column): Column =
    graft.functions.SuffixExpressions.token_lcp(a, b)

  /** Longest repeated token span WITHIN each document: sort each doc's
    * suffixes (one doc-keyed window), take the max adjacent LCP; ties
    * break to the lexicographically-smallest span. Emits one row per doc:
    * (doc_id, max_repeat_len, repeat_str) — len 0 / empty string when
    * every adjacent pair is prefix-disjoint. Per-doc work is O(L·W),
    * never pairwise; the only shuffles are the two doc-keyed windows
    * (same exchange).
    */
  def longestRepeatedSpan(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("s")
    val pick = Window.partitionBy("doc_id")
      .orderBy(col("lcp").desc, col("r").asc)
    suffixFrame(docs, idCol, textCol)
      .withColumn("p", lag(col("s"), 1).over(byDoc))
      .withColumn("lcp",
        when(col("p").isNull, lit(0)).otherwise(lcp(col("s"), col("p"))))
      .withColumn("r", when(col("lcp") === 0, lit(""))
        .otherwise(array_join(slice(col("s"), lit(1), col("lcp")), " ")))
      .withColumn("rn", row_number().over(pick))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lcp").cast("long").as("max_repeat_len"),
        col("r").as("repeat_str"))
  }

  /** Corpus-level top-K repeated token spans (cross-document): span
    * discovery via prefix-2-banded suffix adjacency (exact at
    * minLen ≥ 2 — see the object doc), then exact occurrence counts for
    * the K winners via a broadcast prefix-compare against the suffix
    * frame (K·tokens compares, K constant; the join is pre-filtered by
    * prefix-2 equality so most rows never reach the slice compare).
    * Deterministic cut: DISTINCT spans ranked (len DESC, span ASC).
    * Skew = the hottest 2-token prefix; the 100-TB knob is widening the
    * prefix band together with minLen. Text is scanned twice (discovery
    * + counting) — checkpointing the W·token suffix frame would pin
    * corpus-sized state, which the §8 checkpoint rule forbids.
    */
  def topRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, topK: Int): DataFrame = {
    val g = suffixFrame(docs, idCol, textCol)
      .where(size(col("s")) >= 2)
      .withColumn("p2", array_join(slice(col("s"), lit(1), lit(2)), " "))
    val byP2 = Window.partitionBy("p2").orderBy("s")
    val spans = g
      .withColumn("p", lag(col("s"), 1).over(byP2))
      .where(col("p").isNotNull)
      .withColumn("lcp", lcp(col("s"), col("p")))
      .where(col("lcp") >= minLen)
      .select(array_join(slice(col("s"), lit(1), col("lcp")), " ").as("span"),
        col("lcp").as("span_len"), col("p2"))
      .distinct()
    val topk = spans.orderBy(col("span_len").desc, col("span").asc).limit(topK)
    g.join(broadcast(topk), Seq("p2"))
      .where(size(col("s")) >= col("span_len") &&
        array_join(slice(col("s"), lit(1), col("span_len")), " ")
          === col("span"))
      .groupBy("span", "span_len")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(col("span"), col("span_len").cast("long").as("span_len"),
        col("n_occurrences"), col("n_docs"))
  }
}
