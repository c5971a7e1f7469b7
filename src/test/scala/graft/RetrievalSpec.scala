package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Retrieval}

/** BM25 retrieval (ext/Retrieval) and content-defined chunking
  * (Dedup.cdcChunks): index-vs-in-plan equality, bucket pruning, BM25
  * hand-check, CDC chunk invariants and the shift-resistance property
  * that motivates CDC over fixed-width windows.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("bm25 hand-check on a three-document corpus") {
    // doc 1 matches 'cat' twice, doc 2 once + is longer, doc 3 no match.
    val docs = docsDf(
      (1L, "cat cat runs"),
      (2L, "cat dog dog dog dog dog"),
      (3L, "bird bird bird"))
    val got = Retrieval.bm25Scores(docs, Seq("cat"))
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()

    // N=3, df=2, avgdl=(3+6+3)/3=4; idf = ln(1 + (3-2+0.5)/(2+0.5))
    val idf = math.log(1.0 + 1.5 / 2.5)
    def contrib(tf: Double, dlen: Double): Double = {
      val c = idf * tf * 2.2 /
        (tf + 1.2 * (0.25 + 0.75 * dlen / 4.0))
      math.round(c * 1e6) / 1e6
    }
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got(0) == ((1L, 1L, contrib(2, 3))))
    assert(got(1) == ((2L, 1L, contrib(1, 6))))
  }

  test("conjunctive retrieval keeps exactly the all-terms documents") {
    val docs = docsDf(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta"),
      (3L, "alpha alpha gamma beta extra"),
      (4L, "gamma beta"))
    val got = Retrieval.conjunctive(docs, Seq("alpha", "beta", "gamma"))
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (3L, 4L)))
  }

  test("bm25 served from the materialized index == in-plan, and the scan is bucket-pruned") {
    val docs = Tables.documents(spark, sf0001)
    val path = graft.TempStores.newStorePath("graft_bm25").toString + "/index"
    Retrieval.writeInvertedIndex(docs, path)

    val terms = Seq("spark", "vector", "dup")
    val served = Retrieval.bm25TopKFromIndex(spark, path, terms, 10)
    val inPlan = Retrieval.bm25TopK(docs, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(served.as[(Long, Long, Double)].collect().toSeq == inPlan)

    // bucket pruning: the postings scan carries a PartitionFilter on
    // bucket, and the index has many more bucket directories than the
    // query touches — unmatched directories are never opened.
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters", 2)(1).take(200).contains("bucket"),
      s"expected a bucket partition filter in:\n$plan")
    val bucketDirs = new java.io.File(path + "/postings").listFiles()
      .count(_.getName.startsWith("bucket="))
    val queryBuckets =
      terms.map(Retrieval.termBucket(_, Retrieval.IndexBuckets)).distinct
    assert(bucketDirs > queryBuckets.size,
      s"expected more bucket dirs ($bucketDirs) than query buckets (${queryBuckets.size})")
  }

  test("segmented index: split-ingest serving is bit-equal to single-segment and in-plan") {
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("spark", "vector", "dup")
    val inPlan = Retrieval.bm25TopK(docs, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq

    // two ingest batches -> two immutable segments
    val path = graft.TempStores.newStorePath("graft_bm25_seg").toString + "/index"
    Retrieval.writeIndexSegment(docs.where($"doc_id" % 2 === 0), path, "s0")
    Retrieval.writeIndexSegment(docs.where($"doc_id" % 2 === 1), path, "s1")
    val served = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
    assert(served.as[(Long, Long, Double)].collect().toSeq == inPlan)

    // appending a THIRD segment == rebuilding over the union corpus:
    // df/N/avgdl recombine exactly, so incremental ingest loses nothing
    val extra = docsDf(
      (100000L, "spark vector dup dup spark"),
      (100001L, "unrelated words only here"))
      .withColumn("text", $"text") // schema: (doc_id, text)
    Retrieval.writeIndexSegment(extra, path, "s2")
    val union = docs.select($"doc_id", $"text")
      .unionByName(extra.select($"doc_id", $"text"))
    val rebuilt = Retrieval.bm25TopK(union, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    val appended = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
    assert(appended.as[(Long, Long, Double)].collect().toSeq == rebuilt)

    // per-segment scans stay bucket-pruned
    val plan = appended.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters", 2)(1).take(200).contains("bucket"))
  }

  test("segment compaction: serving is unchanged, and ingest continues after") {
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("spark", "vector", "dup")
    val path = graft.TempStores.newStorePath("graft_bm25_cmp").toString + "/index"
    Retrieval.writeIndexSegment(docs.where($"doc_id" % 2 === 0), path, "s0")
    Retrieval.writeIndexSegment(docs.where($"doc_id" % 2 === 1), path, "s1")
    val before = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq

    Retrieval.compactSegments(spark, path)
    assert(new java.io.File(s"$path/segments").listFiles()
      .map(_.getName).toSeq == Seq("compacted"))
    val after = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(after == before)

    // the lifecycle continues: a post-compaction ingest batch still
    // recombines exactly against the compacted segment
    val extra = docsDf((200000L, "spark dup vector spark dup"))
    Retrieval.writeIndexSegment(extra, path, "s2")
    val appended = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    val rebuilt = Retrieval.bm25TopK(
        docs.select($"doc_id", $"text")
          .unionByName(extra.select($"doc_id", $"text")), terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(appended == rebuilt)
  }

  test("termBucket (driver) == pmod(md5_hash32(term), buckets) (plan)") {
    val terms = Seq("spark", "vector", "dup", "", "Ünïcode ✓")
    val planned = terms.toDF("t")
      .select(pmod(graft.ext.TextOps.hash32($"t"),
        lit(Retrieval.IndexBuckets.toLong)))
      .as[Long].collect().toSeq
    assert(planned == terms.map(Retrieval.termBucket(_, Retrieval.IndexBuckets)))
  }

  test("phrase matching: overlapping, repeated-word, and multi-word phrases") {
    val docs = docsDf(
      (1L, "a b a b a"),   // (a,b) at 1,3; (a,b,a) at 1,3
      (2L, "a a a"),       // (a,a) overlapping at 1,2
      (3L, "b a b"),       // (a,b) at 2
      (4L, "c c c"))       // nothing
    def m(phrase: Seq[String]) =
      Retrieval.phraseMatches(docs, phrase)
        .as[(Long, Long)].collect().toMap
    assert(m(Seq("a", "b")) == Map(1L -> 2L, 3L -> 1L))
    assert(m(Seq("a", "a")) == Map(2L -> 2L))
    assert(m(Seq("a", "b", "a")) == Map(1L -> 2L))
    assert(m(Seq("a", "b", "a", "b", "a")) == Map(1L -> 1L))
    assert(m(Seq("z")).isEmpty)
  }

  test("phrase retrieval from the positional index == in-plan, across segments") {
    val docs = Tables.documents(spark, sf0001)
    val path = graft.TempStores.newStorePath("graft_phrase_idx").toString + "/index"
    Retrieval.writeIndexSegment(docs.where($"doc_id" % 2 === 0), path, "s0")
    Retrieval.writeIndexSegment(docs.where($"doc_id" % 2 === 1), path, "s1")
    val phrase = Seq("spark", "vector")
    val inPlan = Retrieval.phraseMatches(docs, phrase)
      .as[(Long, Long)].collect().toMap
    val served = Retrieval.phraseMatchesFromIndex(spark, path, phrase)
      .as[(Long, Long)].collect().toMap
    assert(inPlan.nonEmpty, "fixture should contain the phrase")
    assert(served == inPlan)
    // the BM25 scoring path over the SAME positional segments is
    // untouched by the positions column (pruned from its scan)
    val scores = Retrieval.bm25TopKSegmented(spark, path, phrase, 5)
    assert(scores.count() == 5)
    val scan = scores.queryExecution.executedPlan.toString
    assert(!scan.contains("positions"),
      "scoring scan must prune the positions column")
  }

  test("streaming standing phrase query: per-row phraseCount == positional intersection") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf0001)
    val phrase = Seq("spark", "vector")
    val batch = Retrieval.phraseMatches(docs, phrase)
      .as[(Long, Long)].collect().toMap

    // per-row spelling agrees on the whole corpus (incl. docs shorter
    // than the phrase and zero-match docs)
    val perRow = docs.select($"doc_id",
        Retrieval.phraseCount($"text", phrase).cast("long").as("n"))
      .where($"n" > 0).as[(Long, Long)].collect().toMap
    assert(perRow == batch)
    // repeated-word + overlap edge cases per row
    val edge = docsDf((1L, "a b a b a"), (2L, "a a a"), (3L, "b"), (4L, "a"))
    val e = edge.select($"doc_id",
        Retrieval.phraseCount($"text", Seq("a", "b", "a")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(e == Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    val single = edge.select($"doc_id",
        Retrieval.phraseCount($"text", Seq("a")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(single == Map(1L -> 3L, 2L -> 3L, 3L -> 0L, 4L -> 1L))

    // and it streams: stateless projection over a MemoryStream
    val sample = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().take(40)
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text")
      .select($"doc_id",
        Retrieval.phraseCount($"text", phrase).cast("long").as("n"))
      .where($"n" > 0)
      .writeStream.outputMode("append")
      .format("memory").queryName("phrase_stream").start()
    try {
      input.addData(sample.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("phrase_stream")
      .as[(Long, Long)].collect().toMap
    assert(streamed == sample.map(_._1).filter(batch.contains)
      .map(id => id -> batch(id)).toMap)
  }

  test("term_tfs kernel == declarative per-term filter counts (nulls, unicode, duplicates)") {
    val terms = Seq("spark", "dup", "ünï ✓")
    val rows: Seq[Seq[String]] = Seq(
      Seq("spark", "dup", "spark", "x"),
      Seq("ünï ✓", null, "spark", "ünï ✓", "dup"),
      Seq(null, null),
      Seq.empty[String],
      Seq("sparkx", "Spark", "DUP"))
    val df = rows.zipWithIndex.map { case (r, i) => (i.toLong, r) }
      .toDF("id", "toks")
    val kernel = df.select($"id", graft.functions.TextExpressions
        .term_tfs($"toks", terms).as("k"))
      .as[(Long, Seq[Long])].collect().toMap
    val declarative = df.select($"id",
        array((terms.map(t =>
          size(filter($"toks", x => x === lit(t))).cast("long")) :+
          size($"toks").cast("long")): _*).as("d"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(kernel == declarative)
    // null array -> null out
    val nullRow = Seq((9L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
      .select(graft.functions.TextExpressions.term_tfs($"toks", terms))
      .collect().head
    assert(nullRow.isNullAt(0))
  }

  test("percolation: a streamed document scores bit-identically to the batch pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("spark", "vector", "dup")

    // freeze stats from a segmented index over the SAME corpus, so the
    // batch bm25Scores over that corpus is the executable expectation
    val path = graft.TempStores.newStorePath("graft_perc").toString + "/index"
    graft.ext.Retrieval.writeIndexSegment(docs, path, "s0")
    val (dfMap, n, avgdl) = Retrieval.frozenStats(spark, path, terms)

    val sample = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().take(60)
    val input = MemoryStream[(Long, String)](spark)
    val q = Retrieval.percolate(
        input.toDF().toDF("doc_id", "text"), terms, dfMap, n, avgdl)
      .writeStream.outputMode("append")
      .format("memory").queryName("percolated").start()
    try {
      input.addData(sample.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("percolated")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = Retrieval.bm25Scores(docs, terms)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val expectedIds = sample.map(_._1).filter(batch.contains)
    assert(streamed.keySet == expectedIds.toSet)
    streamed.foreach { case (id, v) => assert(batch(id) == v, s"doc $id") }
    assert(streamed.nonEmpty)
  }

  test("cdc chunks: per-doc token coverage, ordinal ids, single-token hash identity") {
    val docs = Tables.documents(spark, sf0001).limit(50)
    val ch = Dedup.cdcChunks(docs, "doc_id", "text")
    val perDoc = ch.groupBy($"doc_id")
      .agg(sum($"n_toks").as("n"), count(lit(1)).as("k"),
        max($"chunk_id").as("maxid"))
    val tokCounts = docs.select($"doc_id",
      size(split(lower($"text"), "\\s+")).cast("long").as("expected"))
    // every token lands in exactly one chunk; ids are 0..k-1
    val bad = perDoc.join(tokCounts, "doc_id")
      .where($"n" =!= $"expected" || $"maxid" =!= $"k" - 1)
    assert(bad.isEmpty)

    // a single-token chunk's hash is the raw token hash (list_reduce
    // seeding: no spurious mod of the first element)
    val single = docsDf((1L, "z")).select($"doc_id", $"text")
    val h = Dedup.cdcChunks(single, "doc_id", "text")
      .select($"chunk_hash").as[Long].head()
    val raw = single.select(graft.ext.TextOps.hash32(lit("z"))).as[Long].head()
    assert(h == raw)
  }

  test("cdc chunking is shift-resistant: a prepended token leaves downstream chunks intact") {
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "walks back home across the wide cold river before night falls on everyone"
    val docs = docsDf((1L, base), (2L, s"inserted $base"))
    val ch = Dedup.cdcChunks(docs, "doc_id", "text")
      .select($"doc_id", $"chunk_id", $"chunk_hash")
      .as[(Long, Long, Long)].collect()
    val orig = ch.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    val edited = ch.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    // all original chunks except (possibly) the first survive verbatim —
    // the edit can only perturb the chunk it lands in; boundaries
    // re-synchronize at the next content-defined cut. A fixed-width
    // window scheme would shift EVERY downstream window hash.
    assert(orig.tail.forall(edited.contains),
      s"downstream chunks changed: orig=$orig edited=$edited")
    // sanity: the corpus actually chunks (not one chunk per doc)
    assert(orig.size > 1)
  }

  test("compaction crash-safety: uncommitted staged data is invisible and vacuumable") {
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("spark", "vector", "dup")
    val path = graft.TempStores.newStorePath("graft_bm25_crash").toString + "/index"
    Retrieval.writeIndexSegment(docs.where($"doc_id" % 2 === 0), path, "s0")
    Retrieval.writeIndexSegment(docs.where($"doc_id" % 2 === 1), path, "s1")
    val before = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq

    // Simulate a compaction (or ingest) that CRASHED after fully writing
    // its segment data but BEFORE the manifest commit: a complete
    // segment directory appears under segments/ that the manifest does
    // not reference. The live view must be unchanged — a
    // directory-listing authority would double-count every document.
    val other = graft.TempStores.newStorePath("graft_bm25_crash2").toString + "/index"
    Retrieval.writeIndexSegment(docs, other, "halfdone")
    assert(new java.io.File(s"$other/segments/halfdone")
      .renameTo(new java.io.File(s"$path/segments/halfdone")))
    val withOrphan = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(withOrphan == before, "orphan segment leaked into serving")

    // vacuum garbage-collects exactly the unreferenced directory
    Retrieval.vacuumSegments(path)
    assert(new java.io.File(s"$path/segments").listFiles()
      .map(_.getName).sorted.toSeq == Seq("s0", "s1"))

    // and a real compaction over the recovered index serves identically
    Retrieval.compactSegments(spark, path)
    val after = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(after == before)
  }

  test("mixed bucket counts fail loudly on every segmented read path") {
    val docs = docsDf((1L, "alpha beta"), (2L, "beta gamma"))
    val path = graft.TempStores.newStorePath("graft_bm25_mix").toString + "/index"
    Retrieval.writeIndexSegment(docs.where($"doc_id" === 1), path, "s0",
      buckets0 = 64)
    Retrieval.writeIndexSegment(docs.where($"doc_id" === 2), path, "s1",
      buckets0 = 32)
    // pruning mod the wrong base would silently drop s1's postings —
    // the engine refuses instead, on every path that prunes by bucket
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKSegmented(spark, path, Seq("beta"), 5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.phraseMatchesFromIndex(spark, path, Seq("beta"))
    }
    intercept[IllegalArgumentException] {
      Retrieval.frozenStats(spark, path, Seq("beta"))
    }
    intercept[IllegalArgumentException] {
      Retrieval.compactSegments(spark, path)
    }
  }

  test("duplicate query terms collapse identically across batch, percolate, conjunctive") {
    val docs = docsDf(
      (1L, "cat cat runs"),
      (2L, "cat dog"),
      (3L, "bird"))
    val dup = Seq("cat", "cat", "dog")
    val base = Retrieval.bm25Scores(docs, dup).orderBy($"doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    val uniq = Retrieval.bm25Scores(docs, Seq("cat", "dog"))
      .orderBy($"doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(base == uniq, "bm25Scores treats a repeated term differently")

    // percolate under frozen stats equal to the corpus stats must stay
    // bit-identical to the batch scorer even with the repeated term
    // (N=3, avgdl=(3+2+1)/3=2, df: cat=2, dog=1)
    val perc = Retrieval.percolate(docs, dup,
        Map("cat" -> 2L, "dog" -> 1L), 3L, 2.0)
      .orderBy($"doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(perc == base, "percolate double-counts a repeated query term")

    // AND semantics over the distinct vocabulary: doc 2 has both terms
    assert(Retrieval.conjunctive(docs, dup)
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq ==
      Seq((2L, 2L)))
  }

  test("streaming index ingest: per-batch segments serve bit-equal to a batch rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val (firstHalf, secondHalf) = docs.splitAt(docs.length / 2)
    val terms = Seq("spark", "vector", "dup")
    val path = graft.TempStores.newStorePath("graft_bm25_stream").toString + "/index"

    val input = MemoryStream[(Long, String)](spark)
    val q = Retrieval.ingestStream(
      input.toDF().toDF("doc_id", "text"), path).start()
    try {
      input.addData(firstHalf.toSeq); q.processAllAvailable()
      // the index is QUERYABLE mid-stream, with exact stats over what
      // has arrived so far
      val mid = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
        .as[(Long, Long, Double)].collect().toSeq
      val midExpected = Retrieval.bm25TopK(
          firstHalf.toSeq.toDF("doc_id", "text"), terms, 10)
        .as[(Long, Long, Double)].collect().toSeq
      assert(mid == midExpected)

      input.addData(secondHalf.toSeq); q.processAllAvailable()
    } finally q.stop()

    // two batches became two committed segments (past the `#maxBatch=`
    // replay-watermark header)
    val segNames = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$path/segments.manifest"))
      .toArray.map(_.toString).filterNot(_.startsWith("#")).toSeq
    assert(segNames.size == 2, s"expected 2 segments, got $segNames")

    val streamed = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    val rebuilt = Retrieval.bm25TopK(
        Tables.documents(spark, sf0001), terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(streamed == rebuilt)

    // a foreachBatch RETRY re-writes the same segment name: serving is
    // unchanged (effectively-once ingest through the manifest)
    Retrieval.writeIndexSegment(
      secondHalf.toSeq.toDF("doc_id", "text"), path, segNames.last)
    val afterRetry = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(afterRetry == rebuilt)
  }

  test("auto-compaction bounds segments; a replayed batch is a no-op even after compaction") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val slices = docs.grouped(math.max(1, docs.length / 4)).toSeq.take(4)
    val terms = Seq("spark", "vector", "dup")
    val path = graft.TempStores.newStorePath("graft_bm25_auto").toString + "/index"
    def segNames = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$path/segments.manifest"))
      .toArray.map(_.toString).filterNot(_.startsWith("#")).sorted.toSeq
    def serve = Retrieval.bm25TopKSegmented(spark, path, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    def rebuilt(n: Int) = Retrieval.bm25TopK(
        slices.take(n).flatten.toSeq.toDF("doc_id", "text"), terms, 10)
      .as[(Long, Long, Double)].collect().toSeq

    Retrieval.ingestBatch(slices(0).toSeq.toDF("doc_id", "text"), 0, path,
      maxSegments = 2)
    Retrieval.ingestBatch(slices(1).toSeq.toDF("doc_id", "text"), 1, path,
      maxSegments = 2)
    assert(segNames == Seq("b000000000", "b000000001"))
    // third batch pushes past the bound -> compaction folds all three
    Retrieval.ingestBatch(slices(2).toSeq.toDF("doc_id", "text"), 2, path,
      maxSegments = 2)
    assert(segNames == Seq("c000000002"))
    assert(serve == rebuilt(3))

    // REPLAY of batch 2 after its segment was folded away: the batch
    // watermark (not segment-name existence) must make it a no-op —
    // re-ingesting would double-count every document of the batch
    Retrieval.ingestBatch(slices(2).toSeq.toDF("doc_id", "text"), 2, path,
      maxSegments = 2)
    assert(segNames == Seq("c000000002"))
    assert(serve == rebuilt(3))

    // and ingest continues normally past the compaction
    Retrieval.ingestBatch(slices(3).toSeq.toDF("doc_id", "text"), 3, path,
      maxSegments = 2)
    assert(segNames == Seq("b000000003", "c000000002"))
    assert(serve == rebuilt(4))

    // CRASH between a batch's segment commit and its triggered
    // compaction: simulate by committing a segment directly (what
    // ingestBatch does first), leaving the index over the bound with
    // the watermark already advanced — the REPLAYED batch must still
    // run the pending compaction even though its ingest no-ops
    Retrieval.writeIndexSegment(
      slices(0).toSeq.toDF("doc_id", "text")
        .withColumn("doc_id", col("doc_id") + 1000000L),
      path, "b000000004", watermark = Some(4L))
    assert(segNames.size == 3) // over the bound, compaction pending
    Retrieval.ingestBatch(slices(0).toSeq.toDF("doc_id", "text"), 4, path,
      maxSegments = 2)
    assert(segNames == Seq("c000000004"), s"pending compaction not retried: $segNames")
  }

  test("a crashed first segment on a fresh index is never adopted") {
    // state a crash leaves: the (empty) manifest was adopted eagerly,
    // segment data only half-written — here a bare directory
    val path = graft.TempStores.newStorePath("graft_bm25_fresh").toString + "/index"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$path/segments/s0"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/segments.manifest"),
      Array.emptyByteArray)
    // the next successful ingest must NOT promote the partial s0
    Retrieval.writeIndexSegment(docsDf((1L, "alpha beta")), path, "s1")
    val got = Retrieval.bm25TopKSegmented(spark, path, Seq("alpha"), 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L))
    Retrieval.vacuumSegments(path)
    assert(new java.io.File(s"$path/segments").listFiles()
      .map(_.getName).toSeq == Seq("s1"))
  }

  test("hybrid RRF fusion == driver recomputation over the two candidate lists") {
    import graft.queries.RetrievalQueries._
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    val text = Retrieval.bm25TopK(docs, QueryTerms, HybridCand)
      .as[(Long, Long, Double)].collect().toSeq
    val vec = graft.ext.Similarity.ivfTopK(emb, "vec_id", "embedding",
        queryId = HybridQueryId, numCells = 16, nprobe = 4, k = HybridCand)
      .as[(Long, Double)].collect().toSeq

    // independent RRF spelling: micro-unit 1e6/(60+rank) per branch, sum
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    def add(ids: Seq[Long]): Unit = ids.zipWithIndex.foreach { case (id, i) =>
      val c = math.round(1e6 / (graft.ext.Fusion.K0 + i + 1.0))
      val (n, s) = acc.getOrElse(id, (0L, 0L))
      acc(id) = (n + 1, s + c)
    }
    add(text.sortBy(t => (-t._3, t._1)).map(_._1))
    add(vec.sortBy(v => (-v._2, v._1)).map(_._1))
    val expected = acc.toSeq
      .map { case (id, (n, s)) => (id, n, s / 1e6) }
      .sortBy { case (id, _, r) => (-r, id) }.take(10)

    val got = graft.queries.RetrievalQueries
      .queries("hybrid_rrf_topk")(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == expected)
    // both branches genuinely contribute: someone in the fused top-10
    // was ranked by the text branch and someone by the vector branch
    assert(got.exists(g => text.exists(_._1 == g._1)))
    assert(got.exists(g => vec.exists(_._1 == g._1)))
  }
}
