package graft.tools

import org.apache.spark.sql.functions._

/** Tokenizer quality comparison across the three trained families (BPE
  * merge-replay, greedy WordPiece over the BPE vocab, unigram Viterbi):
  * fertility (pieces per word), compression (chars per piece), and unk
  * rate on the fixture corpus. Not a correctness gate — the catalog
  * oracles pin exact outputs — but the measurement that says whether
  * the tokenizers behave like tokenizers (fertility a bit above 1,
  * compression a few chars/piece, Viterbi ≤ greedy piece count under
  * the same vocab is the theory; this prints the observed numbers).
  */
object TokenizerProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.Sessions.local(cpus.toInt, "graft-tokenizer-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.documents(spark, dir)
    val base = docs.select(
        sum(size(filter(split(lower(col("text")), "\\s+"), w => w =!= "")))
          .as("words"),
        sum(length(regexp_replace(lower(col("text")), "\\s+", "")))
          .as("chars"))
      .collect().head
    val (nWords, nChars) = (base.getLong(0), base.getLong(1))
    println(f"[tok] corpus: $nWords%d words, $nChars%d word chars")

    def report(name: String, pieces: Long, unkWords: Long): Unit =
      println(f"[tok] $name%-10s pieces $pieces%8d  fertility ${pieces.toDouble / nWords}%5.2f" +
        f"  chars/piece ${nChars.toDouble / pieces}%5.2f  unk_words $unkWords%d")

    import graft.ext.{Bpe, Unigram}
    val merges = Bpe.trainMerges(docs, "text", steps = 12)
    val bpe = Bpe.encode(docs, "doc_id", "text", merges)
      .agg(sum(col("n_bpe_tokens"))).collect().head.getLong(0)
    report("bpe", bpe, 0L)
    val greedy = Bpe.greedyTokenize(docs, "doc_id", "text", merges)
      .agg(sum(col("n_pieces")), sum(col("n_unk_words"))).collect().head
    report("wordpiece", greedy.getLong(0), greedy.getLong(1))
    val uni = Unigram.encodeWith(docs, "doc_id", "text",
        Unigram.trainedVocab(docs, "text"))
      .agg(sum(col("n_pieces")), sum(col("n_unk_words"))).collect().head
    report("unigram", uni.getLong(0), uni.getLong(1))
    spark.stop()
  }
}
