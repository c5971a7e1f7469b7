package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding VOCABULARY TRAINING (Sennrich et al. 2016) as keyed
  * Spark aggregation — the one standard LLM-tokenizer-pipeline operator
  * the engine was missing (the GPT-2-shape PRE-tokenizer and word-level
  * vocab builders live in [[TextOps]] / `vocab_encode`).
  *
  * The scale design is the textbook one: training never iterates over the
  * corpus. One corpus-sized shuffle builds the WORD-FREQUENCY vocabulary
  * (distinct word → count); every merge iteration then runs over that
  * vocab-sized frame — pair counting is a keyed aggregate whose key space
  * is the symbol-pair set, the argmax is ONE row to the driver, and the
  * re-chunk is a per-row projection. Per-iteration state is the vocab
  * frame plus the merge list: both tiny relative to any corpus.
  *
  * Segmentations are carried as DELIMITED STRINGS, not arrays: symbols
  * joined by a two-space separator and wrapped in single spaces
  * (`" l  o  w "`). Merging pair (a, b) is then exactly
  * `replace(seg, " a  b ", " ab ")` — both Spark's and DuckDB's `replace`
  * scan left-to-right non-overlapping and continue AFTER each
  * replacement, which IS greedy BPE merge order, and the double-space
  * separator makes a symbol boundary unambiguous (tokens contain no
  * spaces), so the oracle replays training exactly, merge for merge.
  * Adjacent same-pair runs stay canonical: `" a  a  a  a "` →
  * `" aa  aa "`, the greedy pairing. Determinism: exact integer counts,
  * ties broken lexicographically on (left, right) — binary string order
  * in both engines.
  */
object Bpe {

  /** One trained merge rule: at `step`, (l_sym, r_sym) → merged, chosen
    * with `pair_count` weighted occurrences.
    */
  case class Merge(step: Int, l_sym: String, r_sym: String, merged: String,
      pair_count: Long)

  /** Lowercased whitespace words (the engine's portable tokenization),
    * empties dropped.
    */
  private def words(docs: DataFrame, textCol: String): Column =
    explode(split(lower(col(textCol)), "\\s+"))

  /** Initial character segmentation of a word in the delimited-string
    * carrier form: `"low"` → `" l  o  w "`.
    */
  private def charSeg(word: Column): Column =
    concat(lit(" "),
      array_join(transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))), "  "),
      lit(" "))

  /** The word-frequency vocabulary with initial character segmentations —
    * the ONLY corpus-sized pass in training. (word, freq, seg).
    */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(words(docs, textCol).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seg", charSeg(col("word")))

  /** Train `steps` merges. Each iteration over the VOCAB-sized frame:
    * adjacent symbol pairs (arrays_zip(slice, slice) — codegen, no HOF
    * lambda) weighted by word frequency → keyed sum → top-1 by
    * (count DESC, pair ASC) collected to the driver (one constant row) →
    * one `replace` projection re-chunks every segmentation. The frame is
    * localCheckpointed per iteration (vocab-sized — inside the engine's
    * checkpoint rule) so lineage stays flat across iterations.
    *
    * Fails loudly if the corpus runs out of pairs before `steps` (a
    * degenerate corpus — the oracle replays a FIXED-length chain).
    */
  def trainMerges(docs: DataFrame, textCol: String, steps: Int): Seq[Merge] =
    trainMergesWithVocab(docs, textCol, steps)._1

  /** [[trainMerges]] that ALSO returns training's final vocab frame
    * (word, freq, seg with the trained segmentations, checkpointed) —
    * the artifact the vocabulary/tokenizer builders consume. Passing it
    * on saves them re-running the corpus pass and the merge fold that
    * training already performed.
    */
  /** Steps between eager re-checkpoints of the vocab frame during
    * training (r13). Between checkpoints the per-step re-chunk rides as
    * a LAZY `replace` projection, so each argmax job replays at most
    * CkptEvery cheap vocab-sized projections instead of paying a full
    * materialization job per step — training's job count halves (the
    * argmax is the only per-step action). A linear projection chain has
    * none of the quadratic broadcast-subplan blowup that forced
    * per-iteration checkpoints in the graph family; the periodic
    * checkpoint just bounds replay depth for large step counts.
    */
  val CkptEvery = 16

  def trainMergesWithVocab(docs: DataFrame, textCol: String,
      steps: Int): (Seq[Merge], DataFrame) = {
    var vocab = wordVocab(docs, textCol).localCheckpoint(true)
    val out = Seq.newBuilder[Merge]
    for (step <- 1 to steps) {
      val syms = split(trim(col("seg")), "  ")
      val n1 = size(syms) - 1
      val top = vocab
        .select(col("freq"),
          explode(arrays_zip(slice(syms, lit(1), n1), slice(syms, lit(2), n1)))
            .as("pr"))
        .select(col("pr")("0").as("s1"), col("pr")("1").as("s2"), col("freq"))
        .groupBy(col("s1"), col("s2")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"BPE training ran out of symbol pairs at step $step of $steps")
      val r = top.head
      val (s1, s2) = (r.getString(0), r.getString(1))
      out += Merge(step, s1, s2, s1 + s2, r.getLong(2))
      vocab = vocab.withColumn("seg",
        call_function("replace", col("seg"),
          lit(s" $s1  $s2 "), lit(s" $s1$s2 ")))
      if (step % CkptEvery == 0) vocab = vocab.localCheckpoint(true)
    }
    (out.result(), vocab)
  }

  /** The trained SUBWORD VOCABULARY — the artifact a tokenizer ships:
    * every symbol surviving after the merges (single characters plus the
    * merged tokens), with corpus-weighted occurrence counts and dense
    * token ids assigned by (count DESC, symbol ASC). Computed over the
    * word-frequency vocab (corpus weight = word freq), so the corpus is
    * never re-scanned after [[wordVocab]]'s one pass.
    */
  def vocab(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val segFinal = merges.foldLeft(col("seg")) { (acc, mg) =>
      call_function("replace", acc,
        lit(s" ${mg.l_sym}  ${mg.r_sym} "), lit(s" ${mg.merged} "))
    }
    // folding the merge list over a fresh wordVocab reproduces
    // training's final state exactly; prefer [[vocabFromSegments]] on
    // [[trainMergesWithVocab]]'s frame to skip this second corpus pass
    vocabFromSegments(
      wordVocab(docs, textCol).withColumn("seg", segFinal))
  }

  /** The subword vocabulary straight from a (word, freq, seg) frame
    * whose segmentations are already trained — zero corpus passes.
    */
  def vocabFromSegments(wv: DataFrame): DataFrame =
    wv.select(col("freq"), explode(split(trim(col("seg")), "  ")).as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("freq")).as("n_occurrences"))
      .withColumn("token_id",
        (org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_occurrences").desc, col("symbol"))) - 1)
          .cast("int"))
      .select(col("token_id"), col("symbol"), col("n_occurrences"))

  /** Tokenize the corpus to ordered TOKEN-ID sequences — the artifact a
    * training pipeline actually consumes: per document, every word's
    * final segmentation mapped through the [[vocab]] ids, in document
    * order. Plan: words and symbols carry their positions through the
    * explodes, the KB-sized vocab broadcast-joins on symbol, and the
    * per-doc sequence reassembles with an `array_sort` over
    * (word_pos, sym_pos, id) structs — deterministic order without a
    * global sort (ids ride as comma-joined strings for cross-engine
    * comparison; a production sink would keep `array<int>`). `v` is the
    * already-built vocab frame, so a caller that holds training's final
    * vocabulary saves a second corpus pass.
    */
  def tokenizeWith(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge], v: DataFrame): DataFrame = {
    val segFinal = merges.foldLeft(charSeg(col("word"))) { (acc, mg) =>
      call_function("replace", acc,
        lit(s" ${mg.l_sym}  ${mg.r_sym} "), lit(s" ${mg.merged} "))
    }
    docs
      .select(col(idCol),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("wpos", "word")))
      .where(col("word") =!= "")
      .select(col(idCol), col("wpos"),
        posexplode(split(trim(segFinal), "  ")).as(Seq("spos", "symbol")))
      .join(broadcast(v.select(col("symbol"), col("token_id"))), Seq("symbol"))
      .groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("wpos"), col("spos"),
            col("token_id")))),
          s => s("token_id").cast("string")), ",").as("token_ids"))
  }

  /** GREEDY longest-match tokenization (the WordPiece/MaxMatch rule)
    * against the TRAINED subword vocabulary — the serving-time fast path
    * real tokenizers use: segmentation ignores merge order and just
    * takes the longest vocab symbol at each position (whole word →
    * `<unk>` when stuck, BERT behavior).
    *
    * Scale plan: the per-word kernel is the native codegen
    * [[graft.functions.GreedyPieces]] expression against the
    * KB-sized vocabulary constant, and it runs ONCE PER DISTINCT WORD —
    * the distinct-word frame is corpus-vocabulary-sized, and the piece
    * table broadcast-joins back onto the positional word stream, so
    * per-corpus work is one scan + one keyed dedup + a broadcast join
    * (the bpe_tokenize plan shape). Output per doc: piece count, count
    * of `<unk>` words, and the ordered piece string (array_sort over
    * word positions — no global sort).
    */
  /** The trained subword vocabulary as the serving-side constant the
    * native greedy kernel consumes.
    */
  def greedyVocab(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): graft.functions.GreedyVocab =
    greedyVocabOf(vocab(docs, textCol, merges))

  /** The serving-side constant from an already-built vocab frame. */
  def greedyVocabOf(vocabDf: DataFrame): graft.functions.GreedyVocab =
    new graft.functions.GreedyVocab(
      vocabDf.select(col("symbol")).collect().map(_.getString(0)))

  /** Per-ROW greedy tokenization of one document — the serving/streaming
    * spelling ([[greedyTokenize]] is the batch plan that dedups distinct
    * words first; this one is a pure projection, so it runs stateless
    * inside a streaming query). Returns a struct
    * (n_pieces, n_unk_words, pieces) with values identical to the batch
    * plan's per-doc output. Per-doc word arrays are the §8-sanctioned
    * small-array HOF case; the per-word kernel is the same native
    * greedy_pieces expression.
    */
  def greedyPiecesPerDoc(textCol: Column,
      gv: graft.functions.GreedyVocab): Column = {
    val words = filter(split(lower(textCol), "\\s+"), w => w =!= "")
    // The kernel runs ONCE per word: greedy_piece_stats emits the
    // per-word facts as one struct (interpreted HOF lambdas have no
    // CSE, so any spelling that references the segmentation more than
    // once per word would re-run it that many times), and one struct
    // fold accumulates the per-doc totals.
    val perWord = transform(words,
      w => graft.functions.TextExpressions.greedy_piece_stats(w, gv))
    val zero = struct(lit(0L).as("n_pieces"), lit(0L).as("n_unk_words"),
      lit("").as("pieces"))
    aggregate(perWord, zero, (acc, s) => struct(
      (acc("n_pieces") + s("n_pieces")).as("n_pieces"),
      (acc("n_unk_words")
        + when(s("is_unk"), 1L).otherwise(0L)).as("n_unk_words"),
      when(acc("pieces") === "", s("pieces"))
        .otherwise(concat(acc("pieces"), lit(" "), s("pieces"))).as("pieces")))
  }

  def greedyTokenize(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame =
    greedyTokenizeWith(docs, idCol, textCol,
      greedyVocab(docs, textCol, merges))

  /** [[greedyTokenize]] with an already-built vocabulary constant. */
  def greedyTokenizeWith(docs: DataFrame, idCol: String, textCol: String,
      gv: graft.functions.GreedyVocab): DataFrame = {
    val dw = docs
      .select(col(idCol),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("wpos", "word")))
      .where(col("word") =!= "")
    val encoded = dw.select(col("word")).distinct()
      .select(col("word"),
        graft.functions.TextExpressions.greedy_pieces(col("word"), gv).as("_p"))
      .select(col("word"),
        array_join(col("_p"), " ").as("wp"),
        size(col("_p")).cast("long").as("np"),
        (col("_p") === array(lit("<unk>"))).as("isunk"))
    dw.join(broadcast(encoded), Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("np")).as("n_pieces"),
        sum(when(col("isunk"), 1L).otherwise(0L)).as("n_unk_words"),
        array_join(
          transform(array_sort(collect_list(struct(col("wpos"), col("wp")))),
            s => s("wp")), " ").as("pieces"))
  }

  /** Apply a trained merge list to a corpus: per (doc, word) the merges
    * replay IN ORDER as chained `replace` projections (pure codegen
    * string ops — no shuffle until the per-doc count aggregation).
    * Output: (idCol, n_bpe_tokens) — the corpus tokenized by the trained
    * vocabulary. A real encoder would emit the symbol stream itself; the
    * count form keeps the oracle comparable at any document size.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val wordRows = docs.select(col(idCol), words(docs, textCol).as("word"))
      .where(col("word") =!= "")
    val segFinal = merges.foldLeft(charSeg(col("word"))) { (acc, mg) =>
      call_function("replace", acc,
        lit(s" ${mg.l_sym}  ${mg.r_sym} "), lit(s" ${mg.merged} "))
    }
    wordRows
      .select(col(idCol), size(split(trim(segFinal), "  ")).as("n"))
      .groupBy(col(idCol)).agg(sum(col("n")).as("n_bpe_tokens"))
  }
}
