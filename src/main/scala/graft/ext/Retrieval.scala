package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.{Layout, Manifest}

/** Full-text ranked retrieval: BM25 scoring and a materialized inverted
  * index — the text-side analog of the IVF-PQ vector index (the two
  * together are the retrieval layer a training-data platform serves
  * "find documents like/about X" from).
  *
  * Scale shapes:
  *  - Scoring is posting-list work: ONE tokenize+explode pass with the
  *    query-term filter applied BEFORE the (doc, term) aggregation, so
  *    the shuffle carries only rows matching the query vocabulary —
  *    never the corpus token stream. Per-term df and per-doc length are
  *    keyed aggregates; corpus stats are a 1-row broadcast.
  *  - The materialized index partitions posting rows by a stable hash
  *    bucket of the term; a query touches only `len(query)` buckets
  *    (parquet PartitionFilters — unmatched bucket directories are never
  *    opened). Posting rows are DENORMALIZED (tf, df, dlen in one row, the
  *    Lucene doc-values pattern): serving is scan → projection →
  *    per-doc sum → TakeOrdered, ZERO joins at query time.
  *  - Exactness: per-(doc, term) BM25 contributions round to integer
  *    micro-units before the per-doc sum, so the reduction is
  *    order-independent (partition-count-invariant and identical in
  *    DuckDB); ln() ulps sit behind the same rounding.
  *
  * BM25 constants are the standard Robertson/Lucene defaults; idf is the
  * non-negative Lucene variant ln(1 + (N - df + 0.5)/(df + 0.5)).
  */
object Retrieval {
  val K1 = 1.2
  val B = 0.75

  /** Number of term-hash partitions for the materialized index. Buckets,
    * not raw terms, bound the partition count (a raw-term layout would
    * create vocabulary-many directories — millions of tiny files at
    * corpus scale); a query still prunes to exactly its own terms'
    * buckets. 64 keeps directories ≈ vocabulary/64 terms wide.
    */
  val IndexBuckets = 64

  /** r13 (guide §6, file layout): SCALE-ADAPTIVE bucket count — callers
    * passing `buckets = 0` to the writers get
    * clamp(8, 1024, nDocs/1000). A fixed 64 made a 5k-doc corpus write
    * 64 near-empty directories per table (the small-files anti-pattern:
    * listing + open cost on every later read and a directory-commit tax
    * per write), while a 100 TB corpus would cram a giant vocabulary
    * into 64 dirs; the clamp keeps both ends sensible. The bucket count
    * is a pure LAYOUT knob: serving reads it back from the index meta
    * and every statistic recombines identically at any value, so
    * results are bucket-count-invariant (the segmented recombination
    * proof). Segment writers adopt the EXISTING index's count when one
    * is live — segMetas requires cross-segment agreement.
    */
  def adaptiveBuckets(nDocs: Long): Int =
    math.max(8L, math.min(1024L, nDocs / 1000L)).toInt

  /** (doc_id, term, tf) posting rows, filtered to `terms` BEFORE the
    * aggregation when a query vocabulary is given (the filter runs
    * map-side on the exploded stream, so the shuffle sees only matches).
    */
  def postings(docs: DataFrame, terms: Option[Seq[String]]): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("term"))
    val hit = terms.fold(tok)(ts => tok.where(col("term").isin(ts: _*)))
    hit.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
  }

  /** Per-document token length — the BM25 length norm. */
  def docLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("dlen"))

  /** Per-(doc, term) BM25 contribution in integer micro-units, given
    * `tf`, `df`, `dlen` columns and broadcast `n_docs`/`avgdl`.
    * Micro-unit rounding here (not after the per-doc sum) makes the sum
    * order-independent.
    */
  private def contribMicros(): org.apache.spark.sql.Column = {
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfD = col("tf").cast("double")
    val norm = lit(K1) * (lit(1.0 - B) + lit(B) * col("dlen") / col("avgdl"))
    val c = idf * tfD * lit(K1 + 1.0) / (tfD + norm)
    round(c * lit(1e6), 0).cast("long")
  }

  /** BM25 scores of every document matching ≥1 query term:
    * (doc_id, n_matched, score) with score = Σ_t idf·tf-saturation,
    * micro-unit exact. df is a groupBy aggregate broadcast back onto
    * the postings — NOT a `Window.partitionBy(term)` count: a window
    * materializes each term's whole posting list on ONE task, so a
    * stop-word query term would concentrate corpus-sized rows there,
    * while the aggregate partial-combines map-side and its result is a
    * |query|-row broadcast.
    */
  def bm25Scores(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val p = postings(docs, Some(terms))
    val dfs = p.groupBy("term").agg(count(lit(1)).as("df"))
    // ONE tokenCount pass serves BOTH the per-doc length join and the
    // corpus stats: dlens is a doc-count-sized (id, long) frame — inside
    // the §8 localCheckpoint allowance — so the text column is scanned
    // twice per query (tokenize+filter for postings, tokenCount here),
    // not three times as separate docLengths/corpusStats subplans would.
    val dlens = docLengths(docs).localCheckpoint(false)
    val stats = dlens.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dlen")).cast("double") / count(lit(1))).as("avgdl"))
    bm25FromPostings(
      p.join(broadcast(dfs), Seq("term"))
        .join(dlens, Seq("doc_id"))
        .crossJoin(broadcast(stats)))
  }

  /** Final per-doc reduction over denormalized posting rows carrying
    * (doc_id, tf, df, dlen, n_docs, avgdl).
    */
  def bm25FromPostings(p: DataFrame): DataFrame =
    p.select(col("doc_id"), contribMicros().as("_c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"),
        (sum(col("_c")).cast("double") / lit(1e6)).as("score"))

  /** Global top-k by score: TakeOrderedAndProject (per-partition heaps),
    * never a global sort. Ties break on doc_id for determinism.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    bm25Scores(docs, terms)
      .orderBy(col("score").desc, col("doc_id")).limit(k)

  /** Stable bucket of a term — the index partition key. Driver-side twin
    * of the `md5_hash32` expression (bit-identical by construction).
    */
  def termBucket(term: String, buckets: Int): Long =
    graft.functions.Md5Hash32Util.hash(UTF8String.fromString(term)) % buckets

  /** Materialize the inverted index: posting rows denormalized with df,
    * dlen and partitioned by term-hash bucket; corpus stats in a 1-row
    * `meta` side table. Within a bucket, rows sort by (term, doc_id) so
    * parquet page stats prune intra-bucket term ranges too.
    */
  def writeInvertedIndex(docs: DataFrame, path: String,
      buckets0: Int = IndexBuckets): Unit = {
    val p = postings(docs, None)
    // df via groupBy + keyed join-back, not a per-term window: the
    // window form puts each term's whole posting list on one task — a
    // corpus-scale stop word becomes a single-task straggler. The
    // aggregate partial-combines map-side; the vocabulary-sized df
    // table joins back on term (AQE skew-splittable for hot terms).
    val dfs = p.groupBy("term").agg(count(lit(1)).as("df"))
    // One tokenCount pass feeds both the dlen join and the meta stats
    // (doc-count-sized checkpoint, §8 rule); p's aggregate exchange is
    // referenced twice (rows + dfs) and reuses, so the postings write is
    // ONE tokenize pass, and meta costs no corpus scan at all.
    val dlens = docLengths(docs).localCheckpoint(false)
    // buckets = 0 opts into the scale-adaptive count (the doc count is
    // one cheap action on the pinned dlens frame, which the write below
    // re-reads from cache)
    val buckets =
      if (buckets0 > 0) buckets0 else adaptiveBuckets(dlens.count())
    val rows = p
      .join(dfs, Seq("term"))
      .join(dlens, Seq("doc_id"))
      .withColumn("bucket",
        pmod(graft.ext.TextOps.hash32(col("term")), lit(buckets.toLong)))
      .select("bucket", "term", "doc_id", "tf", "df", "dlen")
    Layout.writePartitioned(rows, s"$path/postings", Seq("bucket"),
      sortCols = Seq("term", "doc_id"))
    dlens.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dlen")).cast("double") / count(lit(1))).as("avgdl"))
      .withColumn("buckets", lit(buckets))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Serve a BM25 top-k query from the materialized index: the postings
    * scan carries `bucket IN (buckets-of-query-terms)` — a partition
    * filter, so unmatched bucket directories are never opened — plus the
    * term filter for parquet row-group pruning inside matched buckets.
    * Scoring is a pure projection + per-doc sum + TakeOrdered: the df,
    * dlen, and corpus stats were frozen into the index at build time.
    */
  def bm25TopKFromIndex(spark: SparkSession, path: String,
      terms: Seq[String], k: Int): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val nDocs = meta.getAs[Long]("n_docs")
    val avgdl = meta.getAs[Double]("avgdl")
    val buckets = meta.getAs[Int]("buckets")
    val bs = terms.map(termBucket(_, buckets)).distinct
    bm25FromPostings(
      spark.read.parquet(s"$path/postings")
        .where(col("bucket").isin(bs: _*) && col("term").isin(terms: _*))
        .withColumn("n_docs", lit(nDocs))
        .withColumn("avgdl", lit(avgdl)))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Conjunctive (AND) boolean retrieval: documents containing EVERY query
    * term — posting-list intersection as one keyed aggregate (match-count
    * == |query|), never a |query|-way self-join. Emits total matched-term
    * occurrences for inspection.
    */
  def conjunctive(docs: DataFrame, terms: Seq[String]): DataFrame =
    postings(docs, Some(terms))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
      // n_terms counts DISTINCT matched terms (postings aggregate per
      // (doc, term)), so the AND width is the distinct query vocabulary —
      // comparing against terms.length would make any query with a
      // repeated word unsatisfiable.
      .where(col("n_terms") === terms.distinct.length)
      .select("doc_id", "total_tf")

  // ---------------------------------------------------------------------
  // Segmented index — incremental maintenance (the Lucene segment model).
  //
  // The denormalized single-segment index above freezes df/dlen/stats
  // into each posting row: fastest possible serving, but an append would
  // invalidate every stored df. Segments solve it the way real search
  // engines do: each ingest batch becomes an IMMUTABLE segment holding
  //   postings/ (bucket=…): (term, doc_id, tf, dlen)   — no df
  //   df/       (bucket=…): (term, df)                  — per-segment df
  //   meta/     : (n_docs, sum_dlen, buckets)           — 1 row
  // and serving recombines: N and avgdl from summed metas (exact integer
  // sums), df(t) = Σ segments df_s(t) read from the PROBED buckets only.
  // Because every statistic recombines exactly, append+serve is
  // BIT-EQUAL to rebuild+serve on the union corpus (spec-proved) — no
  // staleness approximation at all, unlike frozen-stat designs.
  // ---------------------------------------------------------------------

  /** Write one immutable index segment for `docs` under
    * `path/segments/<name>` and commit it through the index manifest
    * ([[Manifest.ingest]]): with a `watermark` the segment is that
    * streaming batch's commit (a replayed batch id writes nothing), and
    * empty `docs` commit no segment — a zero-row postings dir would break
    * the df read-back's schema inference and add a useless per-query
    * segment scan.
    */
  def writeIndexSegment(docs: DataFrame, path: String, name: String,
      buckets0: Int = IndexBuckets, watermark: Option[Long] = None): Unit = {
    val spark = docs.sparkSession
    val seg = s"$path/segments/$name"
    // One tokenCount pass shared by the emptiness check, the dlen join
    // and the meta write (doc-count-sized checkpoint, §8 rule).
    val dlens = docLengths(docs).localCheckpoint(false)
    Manifest.ingest(manifestFile(path), watermark, dlens.isEmpty) { live =>
      // buckets = 0 opts into the scale-adaptive count; an index with
      // LIVE segments pins the count they already agreed on (segMetas
      // fails loudly on disagreement), a fresh index derives it from
      // this batch's doc count.
      val buckets =
        if (buckets0 > 0) buckets0
        else if (live.nonEmpty) segMetas(spark, path, live)._1
        else adaptiveBuckets(dlens.count())
      // POSITIONAL postings: token positions ride per (term, doc) row so
      // the same segment serves phrase queries (positions intersect) —
      // scoring reads never pay for them (parquet column pruning drops
      // the positions column from BM25 scans). tf = positions length.
      val posed = docs.select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term")))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
      val withBucket = posed
        .join(dlens, Seq("doc_id"))
        .withColumn("bucket",
          pmod(graft.ext.TextOps.hash32(col("term")), lit(buckets.toLong)))
      Layout.writePartitioned(
        withBucket.select("bucket", "term", "doc_id", "tf", "dlen", "positions"),
        s"$seg/postings", Seq("bucket"), sortCols = Seq("term", "doc_id"))
      // df = posting rows per term (one row per (doc, term)); bucket is a
      // function of term, so grouping by both is the per-term count. It
      // derives from the postings JUST WRITTEN (a 2-column pruned parquet
      // read), not from `withBucket`: each write is its own action, and a
      // second action over withBucket would re-run the whole
      // tokenize+explode+aggregate on the corpus.
      Layout.writePartitioned(
        spark.read.parquet(s"$seg/postings")
          .groupBy("bucket", "term").agg(count(lit(1)).as("df")),
        s"$seg/df", Seq("bucket"), sortCols = Seq("term"))
      dlens
        .agg(count(lit(1)).as("n_docs"), sum(col("dlen")).as("sum_dlen"))
        .withColumn("buckets", lit(buckets))
        .write.mode("overwrite").parquet(s"$seg/meta")
      live :+ name
    }
  }

  /** STREAMING ingest into the segmented index: each micro-batch becomes
    * one immutable segment named by its BATCH ID, committed through the
    * manifest. A foreachBatch retry of batch b therefore overwrites and
    * re-commits the SAME segment name — effectively-once index ingest —
    * and a crash between data-write and manifest-commit leaves the
    * previously-committed view serving while the restarted batch
    * rewrites the orphan in place. Serving (bm25TopKSegmented /
    * phraseMatchesFromIndex / frozenStats) stays bit-equal to a batch
    * rebuild over the union of every ingested row: the segment
    * recombination proof carries over unchanged, so an index can be
    * QUERIED mid-stream with exact statistics at every trigger.
    * Compaction bounds the read amplification as segments accumulate.
    */
  def ingestStream(docs: DataFrame, path: String,
      buckets: Int = IndexBuckets, maxSegments: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, path, buckets, maxSegments)
      }

  /** One streaming ingest step (the [[ingestStream]] foreachBatch body,
    * exposed for direct testing and for callers with their own batch
    * loop): the batch becomes segment `b<batchId>` through the index's
    * commit step ([[Manifest.ingest]]), so a replayed batch id is a
    * NO-OP — including after a compaction has folded the batch's segment
    * name away (name-existence alone cannot detect that replay, and
    * re-ingesting would double-count every document of the batch) — and
    * a crash between data-write and commit leaves the previous manifest
    * serving while the replayed batch rewrites the orphan.
    *
    * With `maxSegments` > 0, any commit that leaves more than that many
    * live segments triggers a compaction (named after the triggering
    * batch) — an LSM-style bound on read amplification: serving cost
    * stays ≤ maxSegments+1 pruned scans no matter how many batches ever
    * arrived. Single maintainer (the stream) assumed, and batch replays
    * must carry the same rows (the Structured Streaming replayable-
    * source contract).
    */
  def ingestBatch(batch: DataFrame, batchId: Long, path: String,
      buckets: Int = IndexBuckets, maxSegments: Int = 0): Unit = {
    writeIndexSegment(batch, path, f"b$batchId%09d", buckets,
      watermark = Some(batchId))
    // The compaction check runs on the REPLAY path too: a crash between
    // a batch's segment commit and its triggered compaction would
    // otherwise never be retried (the replayed batch no-ops at the
    // watermark), leaving the index over the bound until the next
    // non-empty batch — indefinitely on a paused stream. Re-running
    // compaction for the same batch overwrites its own staged name.
    if (maxSegments > 0 && liveSegments(path).size > maxSegments)
      compactSegments(batch.sparkSession, path, f"c$batchId%09d")
  }

  // -------------------------------------------------------------------
  // Segment manifest — the index's COMMIT POINT ([[Manifest]], the
  // Lucene segments_N model). The LIVE segment set is what the manifest
  // file says, never what the directory happens to contain, and an index
  // with no manifest has no segments: every mutation (ingest,
  // compaction) prepares its data under segments/ first and then
  // atomically replaces the manifest, so a crash at ANY point leaves the
  // previously-committed view serving — at worst with orphan
  // directories that [[vacuumSegments]] garbage-collects.
  // -------------------------------------------------------------------

  private def manifestFile(path: String): java.io.File =
    new java.io.File(s"$path/segments.manifest")

  private def liveSegments(path: String): Seq[String] =
    Manifest.read(manifestFile(path)).fold(Seq.empty[String])(_.entries)

  /** Delete segment directories the manifest does not reference — the
    * garbage a crash between data-write and manifest-commit (or between
    * commit and cleanup) leaves behind.
    */
  def vacuumSegments(path: String): Unit =
    Manifest.vacuum(manifestFile(path), new java.io.File(s"$path/segments"))

  /** The LIVE segments to serve: the manifest's list, each entry
    * required to exist.
    */
  private def listSegments(path: String): Seq[String] = {
    val segs = liveSegments(path)
    require(segs.nonEmpty, s"no committed index segments under $path")
    segs.foreach(s => require(
      new java.io.File(s"$path/segments/$s").isDirectory,
      s"manifest lists segment '$s' but $path/segments/$s is missing"))
    segs.sorted
  }

  /** Per-segment meta rows plus the agreed bucket count; FAILS LOUDLY if
    * segments were built with different bucket counts — a mixed index
    * would prune mod the wrong base and silently drop postings.
    */
  private def segMetas(spark: SparkSession, path: String,
      segs: Seq[String]): (Int, Seq[org.apache.spark.sql.Row]) = {
    // r13: ONE multi-path read instead of a head() job per segment —
    // the consumers only fold the metas (sums / distinct buckets), so
    // per-segment association and order don't matter.
    val metas = spark.read
      .parquet(segs.map(s => s"$path/segments/$s/meta"): _*)
      .collect().toSeq
    require(metas.size == segs.size,
      s"expected ${segs.size} segment meta rows under $path, got ${metas.size}")
    val bs = metas.map(_.getAs[Int]("buckets")).distinct
    require(bs.size == 1,
      s"segments disagree on bucket count under $path: $bs")
    (bs.head, metas)
  }

  /** Serve BM25 top-k across every segment of a segmented index. Per
    * segment the postings/df scans carry the bucket partition filter
    * (unprobed directories never opened); corpus stats and per-term df
    * recombine exactly; the df map for the |query| terms is a collected
    * CONSTANT (query-sized, the broadcast-constant pattern), so scoring
    * stays a zero-join projection over the unioned posting scans.
    */
  def bm25TopKSegmented(spark: SparkSession, path: String,
      terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    val segs = listSegments(path)
    val (buckets, metas) = segMetas(spark, path, segs)
    val nDocs = metas.map(_.getAs[Long]("n_docs")).sum
    val avgdl = metas.map(_.getAs[Long]("sum_dlen")).sum.toDouble / nDocs
    val bs = terms.map(termBucket(_, buckets)).distinct
    def pruned(sub: String) = segs.map { s =>
      spark.read.parquet(s"$path/segments/$s/$sub")
        .where(col("bucket").isin(bs: _*) && col("term").isin(terms: _*))
    }.reduce(_ unionByName _)
    val dfMap = pruned("df").groupBy("term").agg(sum(col("df")).as("df"))
      .collect().map { case Row(t: String, df: Long) => t -> df }.toMap
    val dfCol = coalesce(
      element_at(typedLit(dfMap), col("term")), lit(0L))
    bm25FromPostings(
      pruned("postings")
        .withColumn("df", dfCol)
        .withColumn("n_docs", lit(nDocs))
        .withColumn("avgdl", lit(avgdl)))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Exact PHRASE retrieval over positional postings: documents where
    * `phrase` occurs as consecutive tokens, with the occurrence count.
    * Positional posting rows (doc_id, term, pos) are built with the
    * phrase-vocabulary filter applied map-side (same pushdown shape as
    * BM25 scoring); an occurrence is an anchor position p of the first
    * word such that word j sits at p+j for every j — checked as j−1
    * keyed self-joins on (doc_id, pos), the standard positional
    * intersection (shuffle keys are doc-position pairs, never document
    * text; a phrase of length m costs m−1 equi-joins each bounded by
    * the rarest word's posting list).
    */
  def phraseMatches(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    phraseFold(
      docs.select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term")))
        .where(col("term").isin(phrase: _*)),
      phrase)
  }

  /** Phrase retrieval served from a SEGMENTED index's positional
    * postings: reads only the phrase words' bucket directories, explodes
    * the stored position lists, and runs the same positional
    * intersection as [[phraseMatches]] — spec-proved equal to the
    * in-plan spelling on the same corpus. Documents never re-tokenize
    * at query time; the arriving rows are already (term, doc) grouped.
    */
  def phraseMatchesFromIndex(spark: SparkSession, path: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val segs = listSegments(path)
    // bucket count must agree ACROSS segments (segMetas fails loudly) —
    // pruning a segment mod the wrong base would silently drop its
    // phrase occurrences.
    val (buckets, _) = segMetas(spark, path, segs)
    val bs = phrase.map(termBucket(_, buckets)).distinct
    val tok = segs.map { s =>
      spark.read.parquet(s"$path/segments/$s/postings")
        .where(col("bucket").isin(bs: _*) && col("term").isin(phrase: _*))
        .select(col("doc_id"), col("term"),
          explode(col("positions")).as("pos"))
    }.reduce(_ unionByName _)
    phraseFold(tok, phrase)
  }

  /** PER-ROW phrase occurrence count — the streaming/percolation
    * spelling of [[phraseMatches]]: the document's own token array is
    * zipped against itself at offsets 1..m−1 (`arrays_zip(slice, slice)`
    * — fully codegen, the lm_bigram lesson: never an interpreted
    * per-element lambda on a token stream) and consecutive windows
    * equal to the phrase are counted. A pure projection, so a standing
    * phrase query runs on an unbounded stream with no state — and
    * spec-proved to agree with the distributed positional-intersection
    * spelling row for row.
    */
  def phraseCount(textCol: org.apache.spark.sql.Column,
      phrase: Seq[String]): org.apache.spark.sql.Column = {
    require(phrase.nonEmpty, "empty phrase")
    val toks = TextOps.tokens(textCol)
    val m = phrase.length
    if (m == 1) size(filter(toks, x => x === lit(phrase.head)))
    else {
      val n1 = size(toks) - (m - 1)
      val zipped = arrays_zip(
        (0 until m).map(j => slice(toks, lit(j + 1), n1)): _*)
      val hit = filter(zipped, w =>
        (0 until m).map(j => w.getField(j.toString) === lit(phrase(j)))
          .reduce(_ && _))
      when(size(toks) >= m, size(hit)).otherwise(lit(0))
    }
  }

  /** Positional intersection over (doc_id, term, pos) rows: anchors at
    * the first word's positions, one left-semi equi-join per further
    * word at offset j.
    */
  private def phraseFold(tok: DataFrame, phrase: Seq[String]): DataFrame = {
    val anchors = tok.where(col("term") === phrase.head)
      .select(col("doc_id"), col("pos").as("p0"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(anchors) {
      case (acc, (w, j)) =>
        acc.join(
          tok.where(col("term") === w)
            .select(col("doc_id"), (col("pos") - j).as("p0")),
          Seq("doc_id", "p0"), "left_semi")
    }
    matched.groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
  }

  /** Compact a segmented index: merge every segment into one. Postings
    * and dlen rows concatenate unchanged (documents are disjoint across
    * segments); per-term df rows re-sum; metas add. The result serves
    * bit-identically to the multi-segment index (same recombination
    * arithmetic, now with one term, one row in df) — compaction is the
    * read-amplification knob: s segments cost s pruned scans per query,
    * one segment costs one.
    *
    * Crash safety is the manifest commit point: the compacted data is
    * fully written to an UNREFERENCED directory first, then ONE atomic
    * manifest replace swaps the live set from the old segments to the
    * compacted one. A crash before the swap leaves the old index
    * serving (staged dir = unreferenced garbage); a crash after leaves
    * the compacted index serving (old dirs = garbage); no interleaving
    * ever serves a partial view — unlike a delete-then-rename swap,
    * whose mid-delete crash silently serves a subset of the corpus.
    */
  def compactSegments(spark: SparkSession, path: String,
      compactedName: String = "compacted"): Unit = {
    val segs = listSegments(path)
    require(!segs.contains(compactedName),
      s"segment name '$compactedName' already exists under $path")
    val (buckets, _) = segMetas(spark, path, segs)
    def union(sub: String) = segs.map(s =>
      spark.read.parquet(s"$path/segments/$s/$sub")).reduce(_ unionByName _)
    val staged = s"$path/segments/$compactedName"
    // COMMIT POINT — a maintenance commit: the batch watermark survives
    // compaction (it is the only remaining record that the folded
    // segments' batches happened)
    Manifest.ingest(manifestFile(path), batchId = None) { _ =>
      Layout.writePartitioned(union("postings"), s"$staged/postings",
        Seq("bucket"), sortCols = Seq("term", "doc_id"))
      Layout.writePartitioned(
        union("df").groupBy("bucket", "term").agg(sum(col("df")).as("df")),
        s"$staged/df", Seq("bucket"), sortCols = Seq("term"))
      union("meta")
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dlen")).as("sum_dlen"))
        .withColumn("buckets", lit(buckets))
        .write.mode("overwrite").parquet(s"$staged/meta")
      Seq(compactedName)
    }
    // pure cleanup — re-runnable, crash leaves only unreferenced dirs
    vacuumSegments(path)
  }

  /** Frozen corpus statistics of a segmented index, restricted to a
    * query vocabulary: (per-term df, n_docs, avgdl). This is the
    * constant a standing query ships into [[percolate]].
    */
  def frozenStats(spark: SparkSession, path: String,
      terms: Seq[String]): (Map[String, Long], Long, Double) = {
    import org.apache.spark.sql.Row
    val segs = listSegments(path)
    val (buckets, metas) = segMetas(spark, path, segs)
    val nDocs = metas.map(_.getAs[Long]("n_docs")).sum
    val avgdl = metas.map(_.getAs[Long]("sum_dlen")).sum.toDouble / nDocs
    val bs = terms.map(termBucket(_, buckets)).distinct
    val dfMap = segs.map { s =>
      spark.read.parquet(s"$path/segments/$s/df")
        .where(col("bucket").isin(bs: _*) && col("term").isin(terms: _*))
    }.reduce(_ unionByName _)
      .groupBy("term").agg(sum(col("df")).as("df"))
      .collect().map { case Row(t: String, df: Long) => t -> df }.toMap
    (dfMap, nDocs, avgdl)
  }

  /** PERCOLATION — the standing-query direction of retrieval (the
    * Elasticsearch percolator model): score each INCOMING document
    * against a fixed query under FROZEN index statistics. Works
    * identically on a batch frame or an unbounded stream, because the
    * plan is a pure per-row projection: per-term tf is a filter over
    * the document's own token array (per-document small arrays — the
    * §8 HOF allowance), df/N/avgdl are plan constants, and each term's
    * contribution rounds to micro-units exactly like the batch scorer —
    * so a streamed document scores bit-identically to the batch
    * pipeline (spec-proved). No aggregation, no state store, no
    * watermark: percolation of a 100 TB/day firehose shards freely.
    *
    * Per-row cost is ONE tokenize + ONE array walk regardless of query
    * width: the per-term tfs (and dlen) come from the native `term_tfs`
    * kernel, whose multiple references CSE to a single evaluation under
    * whole-stage codegen — the interpreted filter-HOF spelling this
    * replaces re-tokenized per term reference (no CSE: the
    * greedy_piece_stats lesson, plan-proved in RetrievalSpec).
    */
  def percolate(docs: DataFrame, rawTerms: Seq[String],
      dfMap: Map[String, Long], nDocs: Long, avgdl: Double): DataFrame = {
    // Duplicate query terms collapse to one, matching the batch scorer's
    // (doc, term) aggregation — without this a repeated term would score
    // (and bump n_matched) once per repetition here but once total in
    // bm25Scores, breaking the bit-identity contract.
    val terms = rawTerms.distinct
    val k = terms.length
    val stats = graft.functions.TextExpressions.term_tfs(
      TextOps.tokens(col("text")), terms)
    val dlen = element_at(stats, k + 1)
    val contribs = terms.zipWithIndex.map { case (t, j) =>
      val tf = element_at(stats, j + 1).cast("double")
      val df = lit(dfMap.getOrElse(t, 0L))
      val idf = log(lit(1.0) + (lit(nDocs) - df + lit(0.5)) / (df + lit(0.5)))
      val norm = lit(K1) * (lit(1.0 - B) + lit(B) * dlen / lit(avgdl))
      val c = idf * tf * lit(K1 + 1.0) / (tf + norm)
      struct(when(tf > 0, lit(1L)).otherwise(lit(0L)).as("m"),
        when(tf > 0, round(c * lit(1e6), 0).cast("long")).otherwise(lit(0L))
          .as("c"))
    }
    docs
      .withColumn("_cs", array(contribs: _*))
      .withColumn("n_matched",
        aggregate(col("_cs"), lit(0L), (a, x) => a + x.getField("m")))
      .where(col("n_matched") > 0)
      .select(col("doc_id"), col("n_matched"),
        (aggregate(col("_cs"), lit(0L), (a, x) => a + x.getField("c"))
          .cast("double") / lit(1e6)).as("score"))
  }
}
