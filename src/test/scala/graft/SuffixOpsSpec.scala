package graft

import org.apache.spark.sql.functions._
import graft.ext.{Multimodal, SuffixOps}

/** Wave-7 operators: suffix-array repeated spans (SuffixOps) and the
  * declarative stub aHash (Multimodal.stubAHash) with its brightness-
  * invariance property.
  */
class SuffixOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("longestRepeatedSpan finds the planted span, smallest-span tie-break") {
    val d = docs(
      1L -> "a b c d x a b c d y",   // "a b c d" repeats (len 4)
      2L -> "q w e r t",             // all distinct -> 0 / ""
      3L -> "z z z",                 // "z z" repeats (suffixes z z z / z z)
      4L -> "m n m k n k")           // only single tokens repeat; tie m<n (< k)
    val r = SuffixOps.longestRepeatedSpan(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq ===
      Seq((1L, 4L, "a b c d"), (2L, 0L, ""), (3L, 2L, "z z"),
        (4L, 1L, "k")))
  }

  test("longestRepeatedSpan caps at SuffixW") {
    val span = (1 to 20).map(i => s"t$i").mkString(" ")
    val d = docs(1L -> s"$span x $span")
    val r = SuffixOps.longestRepeatedSpan(d, "doc_id", "text").collect()
    assert(r.head.getLong(1) === SuffixOps.SuffixW.toLong)
    assert(r.head.getString(2) ===
      (1 to SuffixOps.SuffixW).map(i => s"t$i").mkString(" "))
  }

  test("topRepeatedSpans: cross-doc span, exact occurrence counts") {
    val d = docs(
      1L -> "the quick brown fox jumps over it",
      2L -> "pad pad the quick brown fox jumps away",
      3L -> "the quick brown fox jumps over it again",
      4L -> "nothing shared here at all")
    val r = SuffixOps.topRepeatedSpans(d, "doc_id", "text",
        minLen = 4, topK = 5)
      .orderBy(col("span_len").desc, col("span").asc).collect()
    // Longest cross-doc span: "the quick brown fox jumps over it" is in
    // docs 1 and 3 (7 tokens); "the quick brown fox jumps" in all of 1,2,3.
    val top = r.head
    assert(top.getString(0) === "the quick brown fox jumps over it")
    assert(top.getLong(1) === 7L)
    assert(top.getLong(2) === 2L) // two positions
    assert(top.getLong(3) === 2L) // two docs
    val five = r.find(_.getString(0) == "the quick brown fox jumps")
    // Subsumed prefixes only appear when some adjacent pair's LCP is
    // exactly that length: here doc 2's suffix meets doc 1/3's at LCP 5.
    assert(five.nonEmpty)
    assert(five.get.getLong(2) === 3L && five.get.getLong(3) === 3L)
  }

  test("stubAHash is exactly invariant under uniform brightness shift") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val shifted = base.select(col("doc_id"),
      Multimodal.brightnessShift(col("text")).as("text"))
    val a = Multimodal.stubAHash(base, "doc_id", "text")
      .orderBy("doc_id").collect()
    val b = Multimodal.stubAHash(shifted, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a.length === 50)
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("stubDHash is exactly invariant under uniform brightness shift") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val shifted = base.select(col("doc_id"),
      Multimodal.brightnessShift(col("text")).as("text"))
    val a = Multimodal.stubDHash(base, "doc_id", "text")
      .orderBy("doc_id").collect()
    val b = Multimodal.stubDHash(shifted, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a.length === 50)
    // gradient compare cross-multiplies: (s1+c1)c2 > (s2+c2)c1 <=> s1c2 > s2c1
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // dHash sees structure aHash's global threshold can miss: at least
    // some documents produce distinct (ahash, dhash) bit patterns
    val ah = Multimodal.stubAHash(base, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a.map(r => (r.getLong(1), r.getLong(2))).toSet !=
      ah.map(r => (r.getLong(1), r.getLong(2))).toSet)
  }

  test("stubAHash separates content and halves stay in 32-bit range") {
    // aHash is structure-driven (cells vs the doc's own mean), so the
    // "different" doc must differ in LAYOUT, not just glyphs — same
    // space positions with shifted letters is exactly what the hash is
    // built to ignore (the brightness-invariance property).
    val d = docs(
      1L -> ("aaaa bbbb " * 20).trim,
      2L -> ("z zzzzzzzz " * 18).trim,
      3L -> ("aaaa bbbb " * 20).trim) // exact dup of 1
    val r = Multimodal.stubAHash(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r(0)._2 === r(2)._2 && r(0)._3 === r(2)._3)
    assert(r(0) != r(1).copy(_1 = 1L))
    r.foreach { case (_, lo, hi) =>
      assert(lo >= 0L && lo < (1L << 32))
      assert(hi >= 0L && hi < (1L << 32))
    }
  }

  /** r13: the native one-pass kernels (stub_ahash_bits / stub_dhash_bits)
    * must reproduce the declarative explode+aggregate+window spelling
    * bit for bit — including non-ASCII code points (split(text, "") and
    * length() both count code points; ascii() yields the code point) and
    * docs shorter than the cell grid.
    */
  private val kernelFixtures = docs(
    1L -> "a",
    2L -> "ab",
    3L -> ("the quick brown fox " * 12).trim,
    4L -> "café naïve résumé 你好世界",
    5L -> ("x" * 63),
    6L -> ("mixed éèê ascii and '�' repl " * 7).trim,
    7L -> (32 to 125).map(_.toChar).mkString,
    8L -> ("short doc"))

  test("native token_lcp equals the declarative aggregate-over-slices lcp") {
    val pairs = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b", "c"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq("x", "y"), Seq("x", "z", "w")),
      (Seq("t1"), Seq("t1")),
      ((1 to 16).map(i => s"t$i"), (1 to 16).map(i => s"t$i")),
      ((1 to 16).map(i => s"t$i"), (1 to 15).map(i => s"t$i") :+ "zz"))
      .toDF("a", "b")
    val r = pairs.select(
      graft.ext.SuffixOps.lcp(col("a"), col("b")).as("fast"),
      DeclarativeTwins.lcpDeclarative(col("a"), col("b")).as("slow"))
      .collect()
    r.foreach(row => assert(row.getInt(0) === row.getInt(1)))
  }

  test("native stub_ahash_bits equals the declarative stubAHash") {
    val fast = Multimodal.stubAHash(kernelFixtures, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val slow = DeclarativeTwins.stubAHashDeclarative(kernelFixtures, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(fast.map(_.toSeq) === slow.map(_.toSeq))
    // fixture corpus too
    val d = graft.Tables.documents(spark, sf0001)
    val f2 = Multimodal.stubAHash(d, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val s2 = DeclarativeTwins.stubAHashDeclarative(d, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(f2.map(_.toSeq) === s2.map(_.toSeq))
  }

  test("native stub_dhash_bits equals the declarative stubDHash") {
    val fast = Multimodal.stubDHash(kernelFixtures, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val slow = DeclarativeTwins.stubDHashDeclarative(kernelFixtures, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(fast.map(_.toSeq) === slow.map(_.toSeq))
  }

  test("native frame kernel equals the declarative stubFrameAHash") {
    val frames = kernelFixtures
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), lit(2L))).as("frame_ix"))
      .select(col("doc_id"), col("frame_ix"),
        substring_index(col("text"), " ", 3).as("text"))
    val fast = Multimodal.stubFrameAHash(frames)
      .orderBy("doc_id", "frame_ix").collect().toSeq
    val slow = DeclarativeTwins.stubFrameAHashDeclarative(frames)
      .orderBy("doc_id", "frame_ix").collect().toSeq
    assert(fast.map(_.toSeq) === slow.map(_.toSeq))
  }
}
