package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * All expression-only (whole-stage-codegen-friendly, no UDFs) and built on
  * a PORTABLE 32-bit hash — the first 8 hex chars of md5 — so every
  * operator has an exact DuckDB oracle. At 100 TB each operator is a pure
  * per-row projection: no shuffle, trivially parallel over file splits.
  */
object TextOps {

  /** Portable unsigned-32-bit token hash: both Spark and DuckDB
    * (`('0x'||substr(md5,1,8))::BIGINT`) produce the same value, unlike
    * engine-native hashes (xxhash64 vs DuckDB hash). Implemented as the
    * native [[graft.functions.Md5Hash32]] — bit-identical to the composed
    * `conv(substr(md5(c),1,8),16,10)` (proven in `VectorExpressionsSpec`)
    * without its per-call hex-string/substr/parse allocations.
    */
  def hash32(c: Column): Column = graft.functions.HashExpressions.md5_hash32(c)

  /** Element-wise [[hash32]] over an array<string> column as ONE native
    * expression. Use this instead of `transform(arr, hash32(_))` on hot
    * paths: `transform` is CodegenFallback, so the lambda dispatch is
    * interpreted per token and the stage loses whole-stage codegen.
    */
  def hashAll(arr: Column): Column = graft.functions.HashExpressions.md5_hash32_array(arr)

  /** Whitespace tokenization, lowercased. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Adjacent token pairs as array<struct<0,1>> via arrays_zip(slice,
    * slice) — fully codegen'd. Join the pair into a shingle string AFTER
    * the explode (per-row concat, codegen) rather than inside a
    * `transform` lambda: higher-order functions are CodegenFallback, and
    * the interpreted per-element dispatch profiled 11x slower on the
    * exploded bigram stream. Single-token docs yield an empty array
    * (slice length 0), so they drop out of the explode cleanly.
    */
  def bigramPairs(toks: Column): Column = {
    val n1 = size(toks) - 1
    arrays_zip(slice(toks, lit(1), n1), slice(toks, lit(2), n1))
  }

  /** Canonical text normalization for normalized-exact dedup: lowercase,
    * strip non-alphanumerics, collapse runs of whitespace, trim. Catches
    * trivial near-dups (case/punctuation/spacing variants) before any
    * sketching.
    */
  def normalize(text: Column): Column =
    graft.functions.TextExpressions.normalize_text(text)

  /** Quality features: token/char counts, mean token length, punctuation
    * ratio, stopword ratio — the classic cheap quality-score inputs.
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for",
    "with", "as", "at", "by", "this", "that", "be", "are")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenization (the GPT-2 pre-tokenizer shape, simplified
    * to an engine-portable character-class regex): letter runs, digit
    * runs, and punctuation runs are separate tokens. The resulting count
    * approximates LLM token counts far better than whitespace splitting
    * on punctuation-heavy or code-like text.
    */
  val bpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  def punctCount(text: Column): Column =
    graft.functions.TextExpressions.punct_count(text)

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))

  /** Language-ID heuristic: count distinct-token overlap with a per-language
    * stopword list; argmax with a fixed preference order on ties. The lists
    * are tiny and broadcast as literals — no join, pure projection.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "with", "for"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "es", "en", "un", "por"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une", "dans", "pour"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai", "you", "he", "ta", "men"))

  def langScores(toks: Column): Seq[(String, Column)] =
    langStopwords.map { case (lang, words) =>
      lang -> size(array_intersect(array_distinct(toks), array(words.map(lit): _*)))
    }

  /** Predicted language = lexicographically-first language with the maximal
    * score (deterministic, matches a SQL CASE cascade).
    */
  def langId(toks: Column): Column = {
    val scores = langScores(toks)
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((lang, s), els) =>
      when(s === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  /** Order-sensitive document fingerprint: polynomial rolling hash over the
    * token-hash sequence, mod 2^31-1. acc stays < 2^31 so acc*31 + h32
    * (< 2^36 + 2^32) never overflows a long. Routed through the native
    * one-pass [[graft.functions.RollingHash]]; equal to the `aggregate`
    * HOF spelling the oracle mirrors (VectorExpressionsSpec proves it).
    */
  def fingerprint(toks: Column): Column =
    graft.functions.HashExpressions.rolling_hash(hashAll(toks), 31L, 2147483647L)
}
