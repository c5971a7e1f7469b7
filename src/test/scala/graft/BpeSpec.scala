package graft

import graft.ext.Bpe

/** BPE merge training: pinned against the hand-computed greedy merges of
  * the classic Sennrich-style corpus, plus the overlap edge cases the
  * string-replace re-chunk must get right.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("classic corpus: merge order matches hand-computed greedy BPE") {
    // word freqs: low×5, lower×2, newest×6, widest×3
    val d = docs(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest")
    val merges = Bpe.trainMerges(d, "text", steps = 3)
    // step 1: (e,s) and (s,t) tie at 9 → lexicographic picks (e,s)
    // step 2: es+t = 9 after re-chunk
    // step 3: (l,o) and (o,w) tie at 7 → (l,o)
    assert(merges.map(m => (m.step, m.l_sym, m.r_sym, m.merged, m.pair_count)) ==
      Seq((1, "e", "s", "es", 9L), (2, "es", "t", "est", 9L),
        (3, "l", "o", "lo", 7L)))
  }

  test("re-chunk is greedy left-to-right: same-symbol runs pair from the left") {
    // "aaaa": (a,a) counts 3; after merging (a,a) the greedy chunking is
    // [aa, aa] (not [a, aa, a]); step 2 then merges (aa, aa).
    val merges = Bpe.trainMerges(docs("aaaa"), "text", steps = 2)
    assert(merges.map(m => (m.l_sym, m.r_sym, m.pair_count)) ==
      Seq(("a", "a", 3L), ("aa", "aa", 1L)))
    // odd run: "aaa" chunks to [aa, a] — 3 symbols total across the doc
    val enc = Bpe.encode(docs("aaa aaaa"), "doc_id", "text",
      Bpe.trainMerges(docs("aaa aaaa"), "text", steps = 1))
    assert(enc.as[(Long, Long)].collect().toSeq == Seq((0L, 4L))) // [aa,a]+[aa,aa]
  }

  test("multi-char symbols never merge across word or symbol boundaries") {
    // after (a,b)→ab, words "ba ab" must NOT let the 'a b' characters
    // inside "ba|ab" match: encode counts stay per-word exact
    val d = docs("ab ab ab ba", "ab ba")
    val merges = Bpe.trainMerges(d, "text", steps = 1)
    assert(merges.head.merged == "ab")
    val enc = Bpe.encode(d, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    // doc0: ab(1) ab(1) ab(1) ba(2) = 5; doc1: ab(1) ba(2) = 3
    assert(enc == Map(0L -> 5L, 1L -> 3L))
  }

  test("tokenize emits the ordered token-id sequence under the trained vocab") {
    // corpus "low lower", 1 merge: pairs (l,o)=2,(o,w)=2,(w,e)=1,(e,r)=1
    // → merge (l,o)→lo. vocab counts: lo:2, w:2, e:1, r:1 → ids by
    // (count DESC, symbol ASC): lo=0, w=1, e=2, r=3.
    // "low"=[lo,w]=[0,1]; "lower"=[lo,w,e,r]=[0,1,2,3].
    val d = docs("low lower")
    val merges = Bpe.trainMerges(d, "text", steps = 1)
    assert(merges.map(m => (m.l_sym, m.r_sym)) == Seq(("l", "o")))
    val vocab = Bpe.vocab(d, "text", merges)
    val v = vocab
      .as[(Int, String, Long)].collect().map(r => r._2 -> (r._1, r._3)).toMap
    assert(v == Map("lo" -> (0, 2L), "w" -> (1, 2L), "e" -> (2, 1L), "r" -> (3, 1L)))
    val ids = Bpe.tokenizeWith(d, "doc_id", "text", merges, vocab)
      .as[(Long, String)].collect().toMap
    assert(ids == Map(0L -> "0,1,0,1,2,3"))
  }

  test("encode with zero merges counts characters; merges only reduce counts") {
    val d = Tables.documents(spark, sf0001).limit(50)
    val none = Bpe.encode(d, "doc_id", "text", Seq.empty)
      .as[(Long, Long)].collect().toMap
    val merges = Bpe.trainMerges(d, "text", steps = 4)
    assert(merges.map(_.step) == Seq(1, 2, 3, 4))
    // counts strictly positive, monotone over training depth per doc
    val four = Bpe.encode(d, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    assert(four.keySet == none.keySet)
    assert(four.forall { case (id, n) => n > 0 && n <= none(id) })
    // at least one document actually compressed
    assert(four.exists { case (id, n) => n < none(id) })
  }

  test("greedy pieces: longest-match rule, lossless reassembly, whole-word unk") {
    import graft.functions.GreedyVocab
    val gv = new GreedyVocab(Array("a", "b", "c", "ab", "abc", "bc"))
    def enc(w: String): Seq[String] = {
      val arr = GreedyVocab.pieces(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), gv)
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    assert(enc("abcab") == Seq("abc", "ab"))   // longest match first
    assert(enc("babc") == Seq("b", "abc"))     // restart greediness per position
    assert(enc("abd") == Seq("<unk>"))         // 'd' unreachable -> whole word unk
    assert(enc("ab") == Seq("ab"))
  }

  test("greedyTokenize matches a driver-side greedy reference over fixture words") {
    val d = Tables.documents(spark, sf0001)
    val merges = Bpe.trainMerges(d, "text", steps = 4)
    val syms = Bpe.vocab(d, "text", merges)
      .select($"symbol").as[String].collect().toSet
    val maxLen = syms.map(_.length).max
    def greedy(w: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      while (pos < w.length) {
        val L = (math.min(maxLen, w.length - pos) to 1 by -1)
          .find(l => syms.contains(w.substring(pos, pos + l)))
        L match {
          case Some(l) => out += w.substring(pos, pos + l); pos += l
          case None => return Seq("<unk>")
        }
      }
      out.toSeq
    }
    val got = Bpe.greedyTokenize(d, "doc_id", "text", merges)
      .select($"doc_id", $"n_pieces", $"n_unk_words", $"pieces")
      .as[(Long, Long, Long, String)].collect()
    val docs = d.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    got.foreach { case (id, nPieces, nUnk, pieces) =>
      val words = docs(id).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val ref = words.map(greedy)
      assert(pieces == ref.map(_.mkString(" ")).mkString(" "), s"doc $id pieces")
      assert(nPieces == ref.map(_.size).sum.toLong, s"doc $id count")
      assert(nUnk == ref.count(_ == Seq("<unk>")).toLong, s"doc $id unk")
    }
    // non-unk segmentations must reassemble to the original word
    val vocabWords = docs.values.flatMap(_.toLowerCase.split("\\s+")).toSet.filter(_.nonEmpty)
    vocabWords.foreach { w =>
      val p = greedy(w)
      if (p != Seq("<unk>")) assert(p.mkString == w)
    }
  }
}
