package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{UnigramExpressions, UnigramVocab}

/** Unigram-LM (SentencePiece-style) subword tokenizer: candidate pieces
  * from corpus substrings, one EM-style re-estimation round (Viterbi
  * segmentation → piece-usage recount → prune), and Viterbi encoding
  * under the final scored vocabulary. Completes the tokenizer family
  * next to BPE merge training ([[Bpe.trainMerges]]) and greedy
  * WordPiece serving ([[Bpe.greedyTokenizeWith]]).
  *
  * Deviations from the SentencePiece reference, both deliberate:
  * integer piece-count/weight objective instead of float log-prob EM
  * (exact cross-engine portability — see [[UnigramVocab]]), and hard
  * top-K pruning instead of loss-ranked pruning (keyed aggregation, no
  * per-piece leave-one-out pass).
  *
  * Scale shape: ONE corpus pass builds the word-frequency table; every
  * later stage (substring candidates, segmentation, usage recount,
  * pruning) runs on the VOCAB-sized distinct-word frame — the
  * Bpe.trainMerges discipline. Candidate/vocab tables are KB-sized
  * constants collected to the driver (the broadcast-constant pattern);
  * segmentation is the native codegen `unigram_pieces` kernel.
  */
object Unigram {

  /** Max candidate piece length, in characters. */
  val MaxPieceLen = 6

  /** Candidate pool size before EM; final vocabulary size after the
    * usage recount. Both deterministic top-K by (weight DESC, piece).
    */
  val CandK = 512
  val TopV = 256

  /** Lowercased whitespace words with corpus frequencies — the only
    * corpus-sized pass in training. Checkpointed: every later stage
    * re-reads it.
    */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)

  /** Candidate pieces: every substring of length 1..[[MaxPieceLen]] of
    * every word, occurrence-weighted by word frequency; the top
    * [[CandK]] by (weight DESC, piece) UNION all single characters
    * (coverage guarantee — every ≤[[UnigramVocab.MaxWordLen]] training
    * word stays segmentable in round 1).
    */
  def candidates(wf: DataFrame): DataFrame = {
    val subs = wf
      .select(col("freq"), col("word"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("freq"), col("word"), col("i"),
        explode(sequence(lit(1), lit(MaxPieceLen))).as("l"))
      .where(col("i") + col("l") - 1 <= length(col("word")))
      .select(col("word").substr(col("i"), col("l")).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("w"))
    val top = subs.orderBy(col("w").desc, col("piece")).limit(CandK)
    val chars = subs.where(length(col("piece")) === 1)
    top.unionByName(chars).groupBy(col("piece")).agg(max(col("w")).as("w"))
  }

  /** Collect a (piece, w) frame into the serving constant, ordered by
    * (w DESC, piece) — KB-sized, the broadcast-constant pattern.
    */
  def vocabConst(vdf: DataFrame): UnigramVocab = {
    val rows = vdf.select(col("piece"), col("w"))
      .orderBy(col("w").desc, col("piece")).collect()
    new UnigramVocab(rows.map(_.getString(0)), rows.map(_.getLong(1)))
  }

  private val UnkArray = array(lit("<unk>"))

  /** Piece-usage recount: Viterbi-segment every distinct word under `v`,
    * weight each emitted piece by the word's corpus frequency.
    * `<unk>`-degraded words drop out (their pieces are not real vocab
    * usage).
    */
  def usage(wf: DataFrame, v: UnigramVocab): DataFrame =
    wf.select(col("freq"),
        UnigramExpressions.unigram_pieces(col("word"), v).as("ps"))
      .where(not(col("ps") === UnkArray))
      .select(col("freq"), explode(col("ps")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("usage"))

  /** Train the final vocabulary: candidates → segment → usage recount →
    * top-[[TopV]] prune, with dense token ids by (usage DESC, piece).
    * Returns (token_id, piece, usage).
    */
  def trainVocab(docs: DataFrame, textCol: String): DataFrame = {
    val wf = wordFreqs(docs, textCol)
    val used = usage(wf, vocabConst(candidates(wf)))
    used.orderBy(col("usage").desc, col("piece")).limit(TopV)
      .withColumn("token_id",
        (row_number().over(Window.orderBy(col("usage").desc, col("piece"))) - 1)
          .cast("int"))
      .select(col("token_id"), col("piece"), col("usage"))
  }

  /** The trained serving constant (final vocab scored by usage). */
  def trainedVocab(docs: DataFrame, textCol: String): UnigramVocab =
    vocabConst(trainVocab(docs, textCol)
      .select(col("piece"), col("usage").as("w")))

  /** Encode a corpus under a trained vocabulary: per doc, every word's
    * Viterbi segmentation in document order. The kernel runs once per
    * DISTINCT word; the piece table broadcast-joins back to the
    * positional word stream (the greedyTokenizeWith plan). Output:
    * (idCol, n_pieces, n_unk_words, pieces).
    */
  def encodeWith(docs: DataFrame, idCol: String, textCol: String,
      v: UnigramVocab): DataFrame = {
    val dw = docs
      .select(col(idCol),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("wpos", "word")))
      .where(col("word") =!= "")
    val encoded = dw.select(col("word")).distinct()
      .select(col("word"),
        UnigramExpressions.unigram_pieces(col("word"), v).as("_p"))
      .select(col("word"),
        array_join(col("_p"), " ").as("wp"),
        size(col("_p")).cast("long").as("np"),
        (col("_p") === UnkArray).as("isunk"))
    dw.join(broadcast(encoded), Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("np")).as("n_pieces"),
        sum(when(col("isunk"), 1L).otherwise(0L)).as("n_unk_words"),
        array_join(
          transform(array_sort(collect_list(struct(col("wpos"), col("wp")))),
            s => s("wp")), " ").as("pieces"))
  }

  /** Per-ROW Viterbi encoding of one document — the serving/streaming
    * spelling of [[encodeWith]] (which dedups distinct words first):
    * a pure projection, so it runs stateless inside a streaming query.
    * The kernel runs once per word inside the `transform`; the fold
    * only reads the materialized piece arrays. Values identical to the
    * batch plan's per-doc row.
    */
  def unigramPiecesPerDoc(textCol: org.apache.spark.sql.Column,
      v: graft.functions.UnigramVocab): org.apache.spark.sql.Column = {
    val words = filter(split(lower(textCol), "\\s+"), w => w =!= "")
    val perWord = transform(words,
      w => UnigramExpressions.unigram_pieces(w, v))
    val zero = struct(lit(0L).as("n_pieces"), lit(0L).as("n_unk_words"),
      lit("").as("pieces"))
    aggregate(perWord, zero, (acc, a) => struct(
      (acc("n_pieces") + size(a).cast("long")).as("n_pieces"),
      (acc("n_unk_words") +
        when(a === UnkArray, 1L).otherwise(0L)).as("n_unk_words"),
      when(acc("pieces") === "", array_join(a, " "))
        .otherwise(concat(acc("pieces"), lit(" "), array_join(a, " ")))
        .as("pieces")))
  }

  /** Encode the corpus to ordered TOKEN-ID sequences under the trained
    * vocabulary — the artifact a training pipeline consumes (the
    * bpe_tokenize shape): per doc, every word's Viterbi pieces mapped
    * through the dense (usage DESC, piece) ids, in document order;
    * `<unk>` words emit id -1. Ids ride comma-joined for cross-engine
    * comparison. Reassembly is an `array_sort` over (wpos, ppos)
    * structs — deterministic order, no global sort.
    */
  def tokenIds(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val vdf = trainVocab(docs, textCol).localCheckpoint(true)
    val v = vocabConst(vdf.select(col("piece"), col("usage").as("w")))
    val dw = docs
      .select(col(idCol),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("wpos", "word")))
      .where(col("word") =!= "")
    val encoded = dw.select(col("word")).distinct()
      .select(col("word"),
        UnigramExpressions.unigram_pieces(col("word"), v).as("_p"))
    dw.join(broadcast(encoded), Seq("word"))
      .select(col(idCol), col("wpos"),
        posexplode(col("_p")).as(Seq("ppos", "piece")))
      .join(broadcast(vdf.select(col("piece"), col("token_id"))),
        Seq("piece"), "left")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("wpos"), col("ppos"),
          coalesce(col("token_id"), lit(-1)).as("tid")))),
        s => s("tid").cast("string")), ",").as("token_ids"))
  }
}
