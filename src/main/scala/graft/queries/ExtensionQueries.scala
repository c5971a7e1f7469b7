package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ext.{Bpe, Dedup, Multimodal, Pca, QualityModel, Similarity, Sketches, TextOps}

/** North-star training-data-pipeline operators over `documents` /
  * `embeddings`: dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard),
  * similarity search (brute-force cosine + sign-LSH ANN), text analysis
  * (stats, language-ID, fingerprint), multimodal plumbing.
  *
  * Everything except the ANN pair generator and the multimodal stub has an
  * exact DuckDB oracle, made possible by the portable md5-derived 32-bit
  * hash (TextOps.hash32) on both engines.
  */
object ExtensionQueries extends QueryPack {

  private val JaccardThreshold = 0.5

  /** cluster_topics noise floor: a term must appear this often inside a
    * cell before it can label the cell (rare-token lift is unbounded).
    */
  private val ClusterTopicMinCount = 3

  /** budget_cut_per_source: keep until 60% of the source's token mass. */
  private val BudgetNum = 3
  private val BudgetDen = 5

  /** Cosine floor for the sign-LSH ANN pair query. The fixture embeddings
    * carry no planted near-duplicates (max pairwise cosine ≈ 0.51 at
    * sf0.01), so a "near-dup" threshold would make the query vacuously
    * empty; 0.3 exercises the bucket-join + verify path on real output.
    */
  val AnnMinCos = 0.3

  /** Lloyd iterations for the TRAINED PQ/IVF catalog queries — fixed so
    * the DuckDB oracle can replay the exact training chain (each
    * iteration is one generated CTE block; see duckPqTrainedChain).
    * The SSE ladder in SURVEY §8 ("ANN trained-vs-seed") was measured
    * deeper (to the plateau), where no cross-engine mirror is needed.
    */
  val PqTrainIters = 2

  /** Merge steps for the BPE-training catalog queries — fixed so the
    * DuckDB oracle can replay the exact merge chain (one CTE block per
    * step; see duckBpeChain). Real vocabularies train tens of thousands
    * of steps with the identical per-step plan.
    */
  val BpeSteps = 8

  /** Deflation-PCA iterations for the top-4 catalog queries — 2 power
    * steps per component keeps the k·iters sequential-job chain short
    * (each job is a full corpus pass; the oracle replays the exact
    * chain, so the constant is part of the query definition). Deeper
    * training belongs in tools, not the oracle catalog.
    */
  val PcaDeflateIters = 2

  /** One scratch directory per JVM for the materialized-index query —
    * reused (and overwritten) across invocations so min-of-3 bench runs
    * and probe sweeps don't accumulate orphaned index copies, under the
    * [[graft.TempStores]] session root so Bench/Verify exit hygiene
    * removes it.
    */
  private lazy val indexScratchDir: String =
    graft.TempStores.newStore("graft_ivfpq_q")

  /** ADC shortlist width for the two-stage rerank query: stage 1 keeps
    * the `RerankShortlist` best candidates by compressed-code distance,
    * stage 2 re-ranks exactly those with full-precision cosine.
    */
  val RerankShortlist = 50

  /** Sequence-packing token budget, shared by `pack_sequences`, the
    * provenance query, and the corpus-prep v2 composite's pack count.
    */
  val PackBudget = 2048L

  /** Corpus-prep v2 URL-hygiene rule: a domain mentioned by more than
    * `docs div this` DISTINCT documents is overrepresented (link farm /
    * boilerplate), and every document mentioning it drops. The threshold
    * derives from the corpus row count in-query (the adaptive-k
    * pattern) and is replayed in the oracle's scalar subquery.
    */
  val UrlDomainCapDiv = 128L

  /** Corpus-prep v2 decontamination: GRADED, not any-hit — a document
    * drops when MORE THAN 1/this of its distinct shingles appear in the
    * holdout (`n_shared · div > n_total`, exact integer cross-multiply —
    * 12.5%: materially active on the fixture at every SF without
    * saturating; the survivor ratio distribution tops out ~0.23).
    * The v1 composite's any-shared-shingle rule saturates on the fixture
    * (51 holdout docs contaminate ~94% of sf0.1, and the survivors are
    * exactly the short docs the Gopher gate rejects — the two gates'
    * intersection collapses); the graded rule is also what production
    * decontamination runs (a single common phrase must not nuke a
    * document).
    */
  val ContamFracDiv = 8L

  // Shared DuckDB SQL fragments (mirror TextOps exactly).
  private val duckToks = """string_split_regex(lower(text), '\s+')"""
  private def duckH32(x: String) = s"('0x' || substr(md5($x), 1, 8))::BIGINT"

  /** Quality-score CTE chain ending in `quality` (mirrors
    * [[qualityScored]]) — shared by the score/survivor oracles here and
    * the preference/rating oracles in [[EvalQueries]].
    */
  private[queries] lazy val duckQualityCtes: String =
    s"""tq AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
       |fq AS (SELECT doc_id,
       |  CAST(len(toks) AS DOUBLE) AS nt, CAST(len(text) AS DOUBLE) AS nc,
       |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS np,
       |  CAST(len(list_filter(toks, x -> list_contains(${TextOps.stopwords.map(w => s"'$w'").mkString("[", ",", "]")}, x))) AS DOUBLE) AS ns
       |FROM tq),
       |quality AS (SELECT doc_id,
       |  round(least(nt / 100.0, 1.0) * 0.3 + (1.0 - np / nc) * 0.4 + (ns / nt) * 0.3, 6) AS quality
       |FROM fq)""".stripMargin

  /** MinHash-LSH candidates verified by exact (hashed-shingle-set) Jaccard
    * — shared by the pair query and the clustering query. One
    * materialization of the sorted shingle-hash sets serves both join
    * sides; verification is the native sorted-merge Jaccard.
    */
  /** (doc_id, toks) — sorted distinct shingle-hash set per document, ONE
    * md5 pass per token, consumed by several plan branches (signatures,
    * both Jaccard-verification join sides, the decontamination/
    * boilerplate explodes). Deliberately NOT materialized in ANY form —
    * each consumer recomputes the codegen'd tokenize+hash chain from the
    * parquet scan:
    *  - localCheckpoint pins stream-sized blocks that are never
    *    unpersisted; accumulated storage thrashes at probe scale (the
    *    r4 dup_span_ratio lesson, ratio 32 at 16×).
    *  - persist() is WORSE here, measured at 16× (r5 A/B): the columnar
    *    SQL cache stores `toks` as array batches whose scan is slower
    *    than the whole-stage-codegen recompute it replaces —
    *    dedup_clusters 2.2 s recompute vs 8.4-14.2 s cached (the first
    *    cached run is fine; every later reader of the fat-array cache
    *    pays 2-3×), and cache entries accumulate across the catalog.
    * Engine rule (SURVEY §8): token-stream-sized frames are recomputed,
    * never cached or checkpointed; only sketch-/vocab-sized frames pin.
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("_t"))
      .select(col("doc_id"), TextOps.hashAll(col("_t")).as("_th"))
      .select(col("doc_id"),
        sort_array(array_distinct(Dedup.shingleHashes(col("_th")))).as("toks"))

  private def minhashVerifiedPairs(s: SparkSession, d: String): DataFrame =
    minhashVerifiedPairsFrom(shingleSets(s, d))

  /** Pair generation over a pre-staged [[shingleSets]] frame: minhash
    * signatures (min over the distinct set == min over the raw multiset),
    * LSH banding, and native sorted-merge Jaccard verification.
    */
  private def minhashVerifiedPairsFrom(toks: DataFrame): DataFrame =
    minhashCandidatesWithSets(toks)
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccardHashed(col("toks_a"), col("toks_b")), 6).as("jac"))
      .where(col("jac") >= JaccardThreshold)

  /** LSH candidate pairs with both shingle sets attached — shared staging
    * for the Jaccard-verified pairs and the asymmetric containment
    * scoring (which reads the same overlap with different denominators).
    */
  private def minhashCandidatesWithSets(toks: DataFrame): DataFrame = {
    val sigs = toks.select(col("doc_id") +: Dedup.signaturesFromHashes(col("toks")): _*)
    val cand = {
      val b = Dedup.minhashBands(sigs, "doc_id")
      val l = b.select(col("band_ix"), col("band_key"), col("doc_id").as("id_a"))
      val r = b.select(col("band_ix"), col("band_key"), col("doc_id").as("id_b"))
      l.join(r, Seq("band_ix", "band_key"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    }
    cand
      .join(toks.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
      .join(toks.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
  }

  /** (doc_id, quality) — the composite quality score, shared by the score
    * query and the dedup survivor selection.
    */
  private[queries] def qualityScored(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        size(col("_toks")).cast("double").as("_nt"),
        length(col("text")).cast("double").as("_nc"),
        TextOps.punctCount(col("text")).cast("double").as("_np"),
        TextOps.stopwordCount(col("_toks")).cast("double").as("_ns"))
      .select(col("doc_id"),
        round(least(col("_nt") / 100.0, lit(1.0)) * 0.3 +
          (lit(1.0) - col("_np") / col("_nc")) * 0.4 +
          (col("_ns") / col("_nt")) * 0.3, 6).as("quality"))

  /** The `dedup_embed_pairs` plan over an explicit embedding frame
    * (vec_id, label, embedding): (label × derived two-level IVF cell)
    * blocking, exact cosine verify inside blocks.
    *
    * Two threshold modes. With `minCos = Some(t)` the cut is the fixed
    * production near-dup bar (ExtSpec plants ≈1.0-cosine copies and
    * measures blocking recall against exact all-pairs at 0.995). With
    * `minCos = None` (the catalog entry) the cut is DERIVED from the
    * fixture's own in-block similarity distribution — the exact 99th
    * percentile of in-block cosine, rounded to 6 — because the shipped
    * fixtures contain ZERO ≥0.995 pairs at any SF: a fixed bar made the
    * driver-gate row both engines' empty set, which hash-matches
    * trivially and proves nothing (r12 verdict #3). The quantile cut
    * keeps the row evidence-bearing at every SF (percentile ≤ max, so
    * at least the top pair always survives) and is replayed verbatim by
    * DuckDB's quantile_cont (exact percentile ↔ quantile_cont is the
    * repo's established parity pair). The threshold aggregate runs over
    * the in-block pair set the verify stage scores anyway — one extra
    * 1-row broadcast, no new corpus-sized pass.
    */
  private[graft] def embedNearDupPairs(emb: DataFrame,
      minCos: Option[Double] = None): DataFrame = {
    val cells = math.max(PipelineQueries.SemCellsMin,
      (emb.count() / PipelineQueries.SemCellPop).toInt)
    val assign = Similarity.ivfAssignTwoLevel(emb, "vec_id", "embedding", cells)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val l = assign.select(col("label"), col("cell"),
      col("vec_id").as("id_a"), col("vecd").as("_va"), col("nrm").as("_na"))
    val r = assign.select(col("label"), col("cell"),
      col("vec_id").as("id_b"), col("vecd").as("_vb"), col("nrm").as("_nb"))
    val pairs = l.join(r.hint("shuffle_hash"), Seq("label", "cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        round(Similarity.dot(col("_va"), col("_vb"))
          / (col("_na") * col("_nb")), 6).as("cos_sim"))
    val cut = minCos match {
      case Some(t) => pairs.where(col("cos_sim") >= t)
      case None =>
        val thr = broadcast(pairs.agg(
          round(expr("percentile(cos_sim, 0.99)"), 6).as("_thr")))
        pairs.crossJoin(thr).where(col("cos_sim") >= col("_thr")).drop("_thr")
    }
    cut.orderBy("id_a", "id_b")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup via md5 grouping — shuffles 16-byte keys, not documents.
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(documents(s, d), "doc_id", "text")
        .orderBy("keep_id")),

    // Normalized-exact dedup: canonicalize (case/punct/whitespace) first,
    // then group — catches trivial variants exact dedup misses.
    "dedup_normalized" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(TextOps.normalize(col("text"))).as("norm_md5"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
        .orderBy("keep_id")),

    // MinHash sketch per document (k=8 portable permutations).
    "dedup_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // LSH candidate pairs + exact-Jaccard verification in shingle space
    // (the space the signatures sketch).
    "dedup_minhash_pairs" -> ((s, d) =>
      minhashVerifiedPairs(s, d).orderBy("id_a", "id_b")),

    // ASYMMETRIC containment over the same LSH candidates: C(a→b) =
    // |A∩B| / |A| — the quote/subset-detection measure Jaccard can't
    // express (a short doc fully embedded in a long one has high
    // containment but low Jaccard). Same native sorted-merge overlap,
    // two denominators; kept pairs have ≥0.5 containment in SOME
    // direction. At corpus scale the candidate recall for extreme
    // length-skew pairs is bounded by the symmetric minhash banding —
    // the measure is exact on every candidate surfaced.
    "dedup_containment_pairs" -> ((s, d) =>
      minhashCandidatesWithSets(shingleSets(s, d))
        .select(col("id_a"), col("id_b"),
          graft.functions.VectorExpressions
            .sorted_overlap(col("toks_a"), col("toks_b")).as("_o"),
          size(col("toks_a")).as("_na"), size(col("toks_b")).as("_nb"))
        .select(col("id_a"), col("id_b"), col("_o").cast("long").as("overlap"),
          round(col("_o").cast("double") / col("_na"), 6).as("cont_a"),
          round(col("_o").cast("double") / col("_nb"), 6).as("cont_b"))
        .where(greatest(col("cont_a"), col("cont_b")) >= 0.5)
        .orderBy("id_a", "id_b")),

    // Pairs -> dedup clusters: connected components by min-label
    // propagation + pointer jumping (Dedup.connectedComponents).
    "dedup_clusters" -> ((s, d) =>
      Dedup.connectedComponents(minhashVerifiedPairs(s, d), "id_a", "id_b")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")),

    // Leakage-safe train/val/test split: the split key is the near-dup
    // CLUSTER id, not the doc id — corpus_split's content-stable md5
    // bucketing, applied after connected components, so a document and
    // its near-duplicates can never straddle train and eval (the
    // contamination path a doc-keyed split leaves open: Lee et al. 2022
    // measure val-set near-dups inflating perplexity wins). Singletons
    // label themselves. Same plan as dedup_clusters plus one zero-cost
    // projection; the oracle extends the clusters chain with the split
    // CASE; ExtSpec asserts no verified pair straddles splits.
    "corpus_split_leakage_safe" -> ((s, d) => {
      val cl = Dedup.connectedComponents(minhashVerifiedPairs(s, d),
          "id_a", "id_b")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val lab = documents(s, d).select(col("doc_id"))
        .join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val h2 = substring(md5(col("cluster_id").cast("string")), 1, 2)
      lab.select(col("doc_id"), col("cluster_id"),
          when(h2 < "cd", "train").when(h2 < "e6", "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL cluster maintenance (Dedup.ingestClusterBatch): the
    // corpus arrives as two batches folding into a persisted store (LSH
    // probe vs banded history + mini-graph label merge behind one atomic
    // manifest commit — the 100 TB crawl shape where re-pairing the
    // corpus per batch is impossible), and the final labels must equal
    // the batch pipeline over the union: the oracle is dedup_clusters'
    // SQL extended with self-labeled singletons.
    "dedup_clusters_incremental" -> ((s, d) => {
      val path = graft.TempStores.newStore("graft_clusters_q")
      val docs = documents(s, d)
      Dedup.ingestClusterBatch(s, path, docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", 0L)
      Dedup.ingestClusterBatch(s, path, docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", 1L)
      Dedup.readClusterLabels(s, path).get
        .select(col("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // SimHash sketch per document (tokens/hashes staged as attributes so
    // the 32-bit loop doesn't re-split/re-hash per bit).
    "dedup_simhash" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), TextOps.hashAll(col("_toks")).as("_hashes"))
        .select(col("doc_id"), Dedup.simhash32FromHashes(col("_hashes")).as("simhash"))
        .orderBy("doc_id")),

    // SimHash near-dup PAIRS via exact-recall banding (Dedup.simhashBands):
    // sketches within hamming distance 3 must share one of the 4 8-bit
    // bands (pigeonhole), so the candidate join is a key-equi shuffle on
    // band keys and the hamming verify (codegen bit_count of xor) runs
    // only on bucket collisions — never a pairwise pass over the corpus.
    // The 8-byte sketch rides through the band explode, so no join-back.
    "dedup_simhash_pairs" -> ((s, d) => {
      // The sketch frame IS sketch-sized — (doc_id, simhash) is 16 bytes
      // per document, independent of document length — so checkpointing it
      // obeys the engine's localCheckpoint rule (SURVEY §8): pinning 16 B/
      // doc beats re-tokenizing + re-hashing the full corpus per join
      // branch, and the pinned block stays O(doc count) at any scale.
      val sk = documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), TextOps.hashAll(col("_toks")).as("_hashes"))
        .select(col("doc_id"), Dedup.simhash32FromHashes(col("_hashes")).as("simhash"))
        .localCheckpoint(false)
      val b = Dedup.simhashBands(sk, "doc_id", "simhash")
      val l = b.select(col("band_ix"), col("band_key"),
        col("doc_id").as("id_a"), col("simhash").as("_sh_a"))
      val r = b.select(col("band_ix"), col("band_key"),
        col("doc_id").as("id_b"), col("simhash").as("_sh_b"))
      l.join(r, Seq("band_ix", "band_key"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.hammingDist(col("_sh_a"), col("_sh_b")).cast("long").as("hd"))
        .where(col("hd") <= 3)
        .distinct()
        .orderBy("id_a", "id_b")
    }),

    // Fuzzy near-dup verification by edit distance: candidates are the
    // minhash-LSH band collisions (the same candidate generator as
    // dedup_minhash_pairs, BEFORE the Jaccard cut), so the expensive
    // O(len²) levenshtein runs only on pairs an O(n)-cost banding
    // already surfaced — never a pairwise pass; candidate volume is the
    // LSH collision rate, flat per document at any corpus scale. The
    // r12 spelling keyed candidates on exact-normalized-text collisions,
    // which the fixtures don't contain at any SF — both engines returned
    // the empty set and the driver gate proved nothing (verdict #3);
    // LSH candidates make the entry evidence-bearing everywhere.
    "dedup_fuzzy_verify" -> ((s, d) => {
      val texts = documents(s, d).select(col("doc_id"), col("text"))
      minhashCandidatesWithSets(shingleSets(s, d))
        .select(col("id_a"), col("id_b"))
        .join(texts.select(col("doc_id").as("id_a"), col("text").as("ta")), Seq("id_a"))
        .join(texts.select(col("doc_id").as("id_b"), col("text").as("tb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"),
          (length(col("ta")) === length(col("tb"))).as("same_len"))
        .orderBy("id_a", "id_b")
    }),

    // Blocked n-gram (unigram-set) Jaccard near-dup pairs: block on
    // (lang, source) so the pairwise work is per-key, never global.
    "ngram_jaccard_pairs" -> ((s, d) => {
      val t = documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          TextOps.tokens(col("text")).as("_t"))
        .select(col("lang"), col("source"), col("doc_id"),
          Dedup.hashSet(col("_t")).as("toks"))
      val l = t.select(col("lang"), col("source"), col("doc_id").as("id_a"), col("toks").as("toks_a"))
      val r = t.select(col("lang"), col("source"), col("doc_id").as("id_b"), col("toks").as("toks_b"))
      l.join(r, Seq("lang", "source"))
        .where(col("id_a") < col("id_b"))
        .select(col("lang"), col("source"), col("id_a"), col("id_b"),
          round(Dedup.jaccardHashed(col("toks_a"), col("toks_b")), 6).as("jac"))
        .where(col("jac") >= JaccardThreshold)
        .orderBy("id_a", "id_b")
    }),

    // Brute-force cosine top-10 against the vec_id=0 embedding.
    "sim_topk_cosine" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.topKCosine(e, "vec_id", "embedding",
        e.where(col("vec_id") === 0), "embedding", 10)
    }),

    // L2 norms — array-math coverage.
    "sim_vector_norms" -> ((s, d) =>
      embeddings(s, d)
        .select(col("vec_id"),
          round(Similarity.norm(Similarity.asDouble(col("embedding"))), 6).as("l2_norm"))
        .orderBy("vec_id")),

    // Embedding-cosine near-duplicate pairs, blocked by
    // (label × derived IVF cell). Label blocks alone grow with the
    // corpus (fixed label cardinality → per-block pairwise is quadratic
    // in corpus: 11× at the r11 sf1 re-run), so the SemDeDup cell rule
    // composes in: cells = max(16, vecs div 32) derived from the
    // embedding count (the semdedup_pairs formula, replayed by the
    // oracle's scalar subquery) keeps per-(label, cell) population flat,
    // and the assignment is the two-level coarse-then-fine argmax
    // (cells ∝ n would make the flat n·cells assignment quadratic).
    // Near-dup pairs at high cosine are nearly identical vectors, which
    // co-assign to the argmax cell — the SemDeDup blocking argument;
    // the measured fixture recall vs exact all-pairs (at the fixed
    // production bar 0.995, on PLANTED near-dups) is pinned in ExtSpec
    // ("two-level blocking recall"). The catalog cut is the fixture-
    // derived 99th-percentile of in-block cosine (see embedNearDupPairs)
    // so the driver gate row carries evidence at every SF.
    "dedup_embed_pairs" -> ((s, d) => embedNearDupPairs(embeddings(s, d))),

    // IVF ANN: probe the 4 nearest of 16 Voronoi cells for the query.
    "sim_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, numCells = 16, nprobe = 4, k = 10)),

    // Corpus organization: the IVF Voronoi cells double as topic
    // clusters, and each cluster is described by its most DISTINCTIVE
    // terms — per-cell token share vs corpus token share (lift), the
    // tf-idf-style cluster labeling every embedding-clustered corpus
    // browser needs. Shapes: assignment is the broadcast-argmax
    // projection (zero shuffles), token counting is one (cell, token)
    // keyed aggregation, totals are a 16-row broadcast + a token-keyed
    // join + a 1-row broadcast — never an all-rows window. Lift is a
    // two-step integer floor-division in micro-units, identical op
    // order in both engines; top-3 per cell via bounded TakeOrdered.
    "cluster_topics" -> ((s, d) => {
      val assign = Similarity.ivfAssign(embeddings(s, d), "vec_id", "embedding",
          numCells = 16)
        .select(col("vec_id").as("doc_id"), col("cell"))
      val ct = documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .join(assign, Seq("doc_id"))
        .groupBy(col("cell"), col("token")).agg(count(lit(1)).as("cnt"))
      val cellTot = ct.groupBy(col("cell")).agg(sum(col("cnt")).as("cell_tot"))
      val tokTot = ct.groupBy(col("token")).agg(sum(col("cnt")).as("corp_cnt"))
      val tot = ct.agg(sum(col("cnt")).as("tot"))
      val scored = ct.where(col("cnt") >= ClusterTopicMinCount)
        .join(broadcast(cellTot), Seq("cell"))
        .join(tokTot, Seq("token"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("token"), col("cnt"),
          expr("(cnt * 1000000 div cell_tot) * 1000000 div (corp_cnt * 1000000 div tot)")
            .as("lift_micro"))
      graft.plans.TopK.perKey(scored, Seq("cell"),
          Seq(("lift_micro", true), ("token", false)), 3)
        .withColumn("rnk", row_number().over(Window.partitionBy(col("cell"))
          .orderBy(col("lift_micro").desc, col("token"))))
        .select(col("cell"), col("rnk"), col("token"), col("cnt"),
          col("lift_micro"))
        .orderBy("cell", "rnk")
    }),

    // Embedding QA gate: vectors whose distance to their assigned IVF
    // centroid exceeds the cell's own 95th percentile — the batch-drop
    // outlier screen an embedding ingest runs before indexing (bad
    // encodes, wrong-modality rows, truncation artifacts all land in
    // the far tail of their cell). Assignment is the broadcast-argmax
    // projection; thresholds are a 16-row exact-percentile broadcast
    // back; cdist = 1 − round(cos, 6) so both engines threshold the
    // identical double.
    "embed_outlier_flags" -> ((s, d) => {
      import Similarity.{asDouble, dot, norm}
      val e = embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", norm(col("v")))
      val cents = broadcast(e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cell"), col("v").as("cv"),
          col("nrm").as("cnrm")))
      val scored = e.crossJoin(cents)
        .select(col("vec_id"), col("cell"),
          (lit(1.0) - round(dot(col("v"), col("cv")) /
            (col("nrm") * col("cnrm")), 6)).as("cdist"))
      val best = graft.plans.TopK.perKey(scored, Seq("vec_id"),
        Seq(("cdist", false), ("cell", false)), 1)
      val thr = best.groupBy(col("cell"))
        .agg(round(expr("percentile(cdist, 0.95)"), 6).as("p95_cell"),
          count(lit(1)).as("n_cell"))
      best.join(broadcast(thr), Seq("cell"))
        .where(col("cdist") > col("p95_cell"))
        .select(col("vec_id"), col("cell"), col("cdist"), col("p95_cell"))
        .orderBy("vec_id")
    }),

    // One Lloyd iteration refining the IVF centroids — the iterative-ML
    // plan shape (broadcast assignment + one keyed shuffle).
    "sim_kmeans_centroids" -> ((s, d) =>
      Similarity.kmeansCentroids(embeddings(s, d), "vec_id", "embedding",
          numCells = 16)
        .orderBy("cell", "dim")),

    // ANN scale path: sign-LSH bucketed candidate pairs, verified by exact
    // cosine (oracle mirrors the md5-derived hyperplanes; recall vs brute
    // force additionally tested in ScalaTest).
    "sim_ann_pairs" -> ((s, d) =>
      Similarity.annPairs(embeddings(s, d), "vec_id", "embedding",
          dims = 64, planes = 8, minCos = AnnMinCos)
        .orderBy("id_a", "id_b")),

    // Product quantization: 64-dim float vectors compressed to 8 codeword
    // ids (8 subspaces × 16-entry codebooks) — the memory half of IVF-PQ,
    // the representation that holds 10^9+ vectors in RAM. Encoding is a
    // pure projection: one native codegen expression per row against the
    // constant codebook; zero shuffles, zero joins. Codes are emitted
    // comma-joined (the vocab_encode pattern) so the cross-engine
    // comparator sees a scalar string, not an array column.
    "sim_pq_codes" -> ((s, d) =>
      Similarity.pqEncode(embeddings(s, d), "vec_id", "embedding",
          m = 8, k = 16, dims = 64)
        .select(col("vec_id"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"))
        .orderBy("vec_id")),

    // PQ asymmetric-distance (ADC) top-k: the query's distance to every
    // database vector is re-assembled from 8 reads of a constant m×k LUT
    // over the codes alone (native kernel; integer micro-unit partials ⇒
    // bit-stable sums) — scan → encode → project → TakeOrdered, zero
    // shuffles: the serving plan that scans 10^9 codes flat.
    "sim_pq_adc_topk" -> ((s, d) =>
      Similarity.pqAdcTopK(embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, m = 8, k = 16, dims = 64, topK = 10)),

    // IVF-PQ top-k — the two ANN halves composed into the actual
    // billion-vector serving plan: IVF cell pruning bounds COMPUTE
    // (nprobe/numCells of the corpus), PQ codes + constant ADC LUT bound
    // MEMORY (m bytes/vector); broadcast-argmax assign → nprobe-cell
    // semi-filter → native encode+LUT-sum projection → TakeOrdered.
    "sim_ivfpq_topk" -> ((s, d) =>
      Similarity.ivfPqTopK(embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, numCells = 16, nprobe = 4, m = 8, k = 16, dims = 64,
        topK = 10)),

    // RESIDUAL IVF-PQ top-k (IVFADC, Jégou et al. 2011 §IV): codes are
    // trained on and encode r = v − centroid(cell), so the code bits
    // spend themselves on WITHIN-cell variance instead of re-describing
    // the between-cell structure the coarse quantizer already captured —
    // on clustered corpora the raw-vector book collapses to ties inside
    // a probed cell (SURVEY §8, "Clustered ANN fixture": recall 0.11
    // raw-trained vs 0.43 residual at k=256, same nprobe). Serving adds one
    // per-probed-cell LUT dispatch (nested CASE over nprobe branches,
    // all codegen) to the ivfpq plan: broadcast-argmax assign →
    // nprobe-cell semi-filter → native residual encode + per-cell
    // LUT-sum → TakeOrdered. Zero shuffles, zero joins at serve time.
    "sim_ivfpq_residual_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      val cents = Similarity.seedBook(e, "vec_id", "embedding", 16)
      // shifted-seed residual book: ids < 16 ARE the centroid seeds, so
      // their residuals are zero vectors — seedResidualBook takes ids
      // 16..31 instead (re-keyed 0..15), keeping the book non-degenerate
      val rbook = Similarity.seedResidualBook(e, "vec_id", "embedding",
        cents, 16)
      Similarity.ivfPqResidualTopKWith(e, "vec_id", "embedding", 0L,
        cents, 4, rbook, 8, 10)
    }),

    // PQ index health: per-cell average reconstruction error (quantization
    // SSE per Voronoi cell) — the monitoring metric that says WHEN to
    // re-train codebooks and WHICH regions the coarse quantizer serves
    // badly. One scan: assign + native encode + m-term per-row distance
    // fold (only the chosen codeword per subspace), integer micro-unit
    // partials, keyed per-cell average.
    "sim_pq_recon_error" -> ((s, d) =>
      Similarity.pqReconError(embeddings(s, d), "vec_id", "embedding",
        numCells = 16, m = 8, k = 16, dims = 64)),

    // PQ codebook TRAINING: one Lloyd refinement per subspace (new
    // codeword = mean of the subspace slices encoding to it) — native
    // encode projection + one keyed (subspace, code, dim) shuffle, the
    // per-subspace twin of sim_kmeans_centroids. Iterated, this is
    // k-means-per-subspace codebook training; one deterministic step is
    // the oracle representative.
    "sim_pq_train_centroids" -> ((s, d) =>
      Similarity.pqTrainCodebooks(embeddings(s, d), "vec_id", "embedding",
          m = 8, k = 16, dims = 64)
        .orderBy("j", "code", "dim")),

    // TRAINED PQ encode — the training→serving edge exercised end-to-end:
    // PqTrainIters Lloyd iterations per subspace refine the seed book
    // (constant driver traffic per iteration), then serving encodes
    // against the TRAINED constants with the identical zero-shuffle
    // native-kernel projection. The oracle replays the whole training
    // chain (one generated CTE block per iteration).
    "sim_pq_codes_trained" -> ((s, d) => {
      val e = embeddings(s, d)
      val book = Similarity.trainPqBook(e, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, iters = PqTrainIters)
      Similarity.pqEncodeWith(e, "vec_id", "embedding", book, m = 8)
        .select(col("vec_id"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"))
        .orderBy("vec_id")
    }),

    // TRAINED index health: reconstruction error under the TRAINED
    // centroids + codebooks. Comparing avg_err against sim_pq_recon_error
    // (the seed-book twin) is the SSE-drop proof that training improved
    // the quantizer — k-means SSE is non-increasing per iteration.
    "sim_pq_recon_error_trained" -> ((s, d) => {
      val e = embeddings(s, d)
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
        numCells = 16, iters = PqTrainIters)
      val book = Similarity.trainPqBook(e, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, iters = PqTrainIters)
      Similarity.pqReconErrorWith(e, "vec_id", "embedding", cents, book, m = 8)
    }),

    // TRAINED IVF-PQ serving — the composed billion-vector plan running
    // on trained coarse centroids AND trained codebooks (plan shape
    // unchanged: broadcast-argmax assign → nprobe semi-filter → native
    // encode+LUT projection → TakeOrdered; only the constants differ).
    "sim_ivfpq_topk_trained" -> ((s, d) => {
      val e = embeddings(s, d)
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
        numCells = 16, iters = PqTrainIters)
      val book = Similarity.trainPqBook(e, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, iters = PqTrainIters)
      Similarity.ivfPqTopKWith(e, "vec_id", "embedding", queryId = 0L,
        cents, nprobe = 4, book, m = 8, topK = 10)
    }),

    // MATERIALIZED-index serving in the oracle catalog: write the trained
    // IVF-PQ index to disk (cell-partitioned codes + constant side
    // tables), then serve the query BY VECTOR from the index — the scan
    // reads ONLY the probed cell partitions (PartitionFilters). For an
    // indexed query vector this is bit-equal to the in-plan trained
    // serving, so the oracle is the same SQL as sim_ivfpq_topk_trained.
    "sim_ivfpq_from_index" -> ((s, d) => {
      val e = embeddings(s, d)
      val path = indexScratchDir + "/index"
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", numCells = 16,
        m = 8, k = 16, dims = 64, path = path, trainIters = PqTrainIters)
      val qvec = e.where(col("vec_id") === 0L)
        .select(Similarity.asDouble(col("embedding"))).head()
        .getSeq[Double](0).toArray
      Similarity.ivfPqTopKFromIndex(s, path, qvec, nprobe = 4, topK = 10)
    }),

    // Residual shortlist + exact rerank — the best serving plan the
    // engine has on clustered corpora (SURVEY §8: rerank recall 0.40
    // with a raw-trained shortlist vs 0.82 with the k=256 residual
    // shortlist at the same nprobe/width; here the oracled k=16 seed
    // variant pins the arithmetic). Stage 1 = sim_ivfpq_residual_topk
    // widened to the shortlist; stage 2 broadcasts the shortlist ids
    // back onto the vector table for exact cosine — zero extra shuffles.
    "sim_ivfpq_residual_rerank" -> ((s, d) => {
      val e = embeddings(s, d)
      val cents = Similarity.seedBook(e, "vec_id", "embedding", 16)
      val rbook = Similarity.seedResidualBook(e, "vec_id", "embedding",
        cents, 16)
      Similarity.ivfPqResidualRerankWith(e, "vec_id", "embedding",
        queryId = 0L, cents, nprobe = 4, rbook, m = 8,
        shortlist = RerankShortlist, topK = 10)
    }),

    // RESIDUAL index lifecycle end-to-end: build a residual-encoded
    // (IVFADC) index on disk — codes of v − centroid(cell), encoding
    // recorded in the meta side table — then serve from it: the scan
    // reads ONLY the probed cell partitions, and ADC dispatches a
    // per-probed-cell LUT (from q − centroid_cell) on the partition
    // column. Must equal the direct sim_ivfpq_residual_topk plan
    // bit-for-bit, so they share the oracle.
    "sim_ivfpq_residual_from_index" -> ((s, d) => {
      val e = embeddings(s, d)
      val path = indexScratchDir + "/index_residual"
      val cents = Similarity.seedBook(e, "vec_id", "embedding", 16)
      // shifted-seed residual book: ids < 16 ARE the centroid seeds, so
      // their residuals are zero vectors — seedResidualBook takes ids
      // 16..31 instead (re-keyed 0..15), keeping the book non-degenerate
      val rbook = Similarity.seedResidualBook(e, "vec_id", "embedding",
        cents, 16)
      Similarity.writeIvfPqIndexWith(e, "vec_id", "embedding", cents,
        rbook, m = 8, path = path, encoding = "residual")
      val qvec = e.where(col("vec_id") === 0L)
        .select(Similarity.asDouble(col("embedding"))).head()
        .getSeq[Double](0).toArray
      Similarity.ivfPqTopKFromIndex(s, path, qvec, nprobe = 4, topK = 10)
    }),

    // TWO-STAGE retrieval: trained IVF-PQ ADC shortlist (RerankShortlist
    // candidates out of the probed cells) → EXACT cosine re-rank of just
    // those ids (broadcast join back to the vector table). The standard
    // production ANN serving plan: codes decide WHICH candidates, full
    // vectors decide their ORDER — per-query rerank work is
    // O(shortlist·dims) at any corpus size, zero added shuffles, and
    // recall becomes cell-pruning-bounded instead of code-precision-
    // bounded (recorded in SURVEY §8, "IVF-PQ two-stage rerank").
    "sim_ivfpq_rerank" -> ((s, d) => {
      val e = embeddings(s, d)
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
        numCells = 16, iters = PqTrainIters)
      val book = Similarity.trainPqBook(e, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, iters = PqTrainIters)
      Similarity.ivfPqRerankWith(e, "vec_id", "embedding", queryId = 0L,
        cents, nprobe = 4, book, m = 8, shortlist = RerankShortlist,
        topK = 10)
    }),

    // PCA by POWER ITERATION (`ext/Pca`): the dominant covariance
    // eigenvector computed WITHOUT materializing the covariance matrix —
    // each step is one corpus pass (per-row dot against the broadcast
    // direction + scaled copy) reduced to a dims-sized micro-unit sum;
    // driver traffic is one 64-vector per iteration. The standard
    // embedding pre-pass (reduction/whitening before PQ, drift monitoring
    // on projected coordinates). Oracle replays the chain (micro-unit
    // sums + identical ltr folds keep μ and every vₜ bit-identical).
    "embed_pca_component" -> ((s, d) => {
      import s.implicits._
      val c = Pca.firstComponent(embeddings(s, d), "embedding", dims = 64)
      (0 until 64).map(j =>
          (j.toLong, QualityModel.r6(c.mu(j)), QualityModel.r6(c.v(j))))
        .toDF("dim", "mu", "loading").orderBy("dim")
    }),

    // The trained component SERVED over the corpus (training→serving
    // edge): mean + direction as broadcast plan constants, projection is
    // zero-shuffle — per-vector pc1 coordinates for drift dashboards,
    // stratified sampling on the dominant axis, or 1-d visualization.
    "embed_pca_project" -> ((s, d) => {
      val e = embeddings(s, d)
      val c = Pca.firstComponent(e, "embedding", dims = 64)
      Pca.project(e, "vec_id", "embedding", c).orderBy("vec_id")
    }),

    // Top-4 PCA by DEFLATION: sequential power iteration, each
    // component followed by the residual projection x ← x − (x·v)v
    // chained into the plan (no residual is ever materialized). k·iters
    // corpus passes, one 64-vector of driver traffic per pass — the
    // dimensionality-reduction artifact (reduction/whitening before PQ,
    // the OPQ-family pre-rotation).
    "embed_pca_top4" -> ((s, d) => {
      import s.implicits._
      val (_, comps) = Pca.topComponents(embeddings(s, d), "embedding",
        dims = 64, k = 4, iters = PcaDeflateIters)
      comps.zipWithIndex.flatMap { case ((v, _), c) =>
        (0 until 64).map(j => (c, j.toLong, QualityModel.r6(v(j))))
      }.toDF("comp", "dim", "loading").orderBy("comp", "dim")
    }),

    // The 4-component reduction SERVED: per (vector, component) residual
    // coordinates — the long-form reduced representation a downstream
    // pipeline consumes (zero-shuffle chained projections against
    // broadcast constants).
    "embed_pca_reduce" -> ((s, d) => {
      val e = embeddings(s, d)
      val (mu, comps) = Pca.topComponents(e, "embedding", dims = 64, k = 4,
        iters = PcaDeflateIters)
      Pca.reduce(e, "vec_id", "embedding", mu, comps.map(_._1))
        .orderBy("vec_id", "comp")
    }),

    // BPE merge TRAINING (Sennrich et al. 2016) as keyed aggregation:
    // ONE corpus-sized shuffle builds the word-frequency vocab; each of
    // BpeSteps merge steps is then a vocab-sized pair-count aggregate, a
    // 1-row argmax to the driver, and a replace projection re-chunk —
    // vocab-sized state per iteration, never a second corpus pass. The
    // oracle replays the full merge chain step for step (deterministic:
    // exact counts, lexicographic tie-break).
    "bpe_train_merges" -> ((s, d) => {
      val merges = Bpe.trainMerges(documents(s, d), "text", steps = BpeSteps)
      s.createDataFrame(merges)
        .select(col("step"), col("l_sym"), col("r_sym"), col("merged"),
          col("pair_count"))
        .orderBy("step")
    }),

    // Encode the corpus with the trained BPE vocabulary: the merge list
    // replays in order as chained replace projections per (doc, word);
    // per-doc token totals are the oracle-comparable output.
    "bpe_encode" -> ((s, d) => {
      val merges = Bpe.trainMerges(documents(s, d), "text", steps = BpeSteps)
      Bpe.encode(documents(s, d), "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // Tokenizer-quality evaluation per language — the fertility /
    // compression numbers a pipeline tracks when it trains or swaps a
    // tokenizer (fertility = subword tokens per word: low-resource
    // languages fragment more under a vocab trained on the mixture;
    // chars-per-token = the compression the context window actually
    // buys). One encode pass (the bpe_encode chain) + one word-stat
    // projection + a lang-keyed aggregate of exact integer sums; only
    // the two final ratios are float, rounded identically.
    "bpe_fertility" -> ((s, d) => {
      val merges = Bpe.trainMerges(documents(s, d), "text", steps = BpeSteps)
      val enc = Bpe.encode(documents(s, d), "doc_id", "text", merges)
      val meta = documents(s, d).select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("_nw"),
        aggregate(TextOps.tokens(col("text")), lit(0L),
          (a, t) => a + length(t).cast("long")).as("_nc"))
      enc.join(meta, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("_nw")).as("n_words"),
          sum(col("_nc")).as("n_chars"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .select(col("lang"), col("n_words"), col("n_chars"),
          col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6)
            .as("chars_per_token"))
        .orderBy("lang")
    }),

    // End-to-end tokenization: per-doc ORDERED token-id sequences under
    // the trained merges + vocab — the artifact a training pipeline
    // consumes. Positions ride through the explodes so the sequence
    // reassembles per doc with an array_sort, no global sort; the
    // KB-sized vocab broadcast-joins on symbol.
    "bpe_tokenize" -> ((s, d) => {
      val (merges, wv) = Bpe.trainMergesWithVocab(documents(s, d), "text",
        steps = BpeSteps)
      Bpe.tokenizeWith(documents(s, d), "doc_id", "text", merges,
        Bpe.vocabFromSegments(wv))
        .orderBy("doc_id")
    }),

    // The trained subword VOCABULARY — the artifact a tokenizer ships:
    // surviving symbols with corpus-weighted counts and dense token ids
    // by (count DESC, symbol). Derived from the word-freq vocab, so no
    // second corpus pass; the window's global sort doubles as the
    // deterministic output order (one vocab-sized sort total).
    "bpe_vocab" -> ((s, d) => {
      val (_, wv) = Bpe.trainMergesWithVocab(documents(s, d), "text",
        steps = BpeSteps)
      Bpe.vocabFromSegments(wv)
        .orderBy(col("n_occurrences").desc, col("symbol"))
    }),

    // GREEDY (WordPiece/MaxMatch) tokenization against the trained BPE
    // vocabulary — the serving-time fast path real tokenizers run
    // (longest vocab symbol at each position; whole word → <unk> when
    // stuck). Kernel = the native codegen greedy_pieces expression over
    // the KB vocab constant, run once per DISTINCT word; the piece table
    // broadcast-joins back to the positional word stream. The oracle
    // replays the greedy rule with a recursive CTE over each distinct
    // word (tie-free: at a given length at most one symbol equals the
    // prefix).
    "wordpiece_encode" -> ((s, d) => {
      val (_, wv) = Bpe.trainMergesWithVocab(documents(s, d), "text",
        steps = BpeSteps)
      Bpe.greedyTokenizeWith(documents(s, d), "doc_id", "text",
        Bpe.greedyVocabOf(Bpe.vocabFromSegments(wv)))
        .orderBy("doc_id")
    }),

    // Deterministic stratified sampling: fixed-n per stratum, ordered by a
    // portable content-independent hash of the key — reproducible across
    // runs/engines, no RNG state. Per-stratum windows partition cleanly;
    // no global ordering anywhere.
    "sample_stratified" -> ((s, d) =>
      documents(s, d)
        .select(col("lang"), col("doc_id"),
          TextOps.hash32(col("doc_id").cast("string")).as("_h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("_h"), col("doc_id"))))
        .where(col("rn") <= 50)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy("lang", "doc_id")),

    // Weighted sampling WITHOUT replacement, k per language (Efraimidis-
    // Spirakis A-ES): each doc draws a deterministic uniform u ∈ (0,1]
    // from its id hash and competes by priority u^(1/w) — here compared
    // via the monotone ln(u)/w, rounded before ranking so cross-engine
    // libm ulps can't flip an order (doc_id breaks rounded ties). Longer
    // documents (w = n_chars) win proportionally more seats: the standard
    // mixture-sampling primitive. Per-language windows only — no global
    // structure, no RNG state, reproducible on any cluster layout.
    "sample_weighted_priority" -> ((s, d) =>
      documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          TextOps.hash32(col("doc_id").cast("string")).as("_h"))
        .withColumn("_u", (col("_h") + 1.0) / 4294967297.0)
        .withColumn("_pri",
          round(log(col("_u")) / greatest(col("n_chars"), lit(1)), 9))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("_pri").desc, col("doc_id"))))
        .where(col("rk") <= 20)
        .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"), col("_pri").as("priority"))
        .orderBy("lang", "rk")),

    // Quantile bucketing (token-count deciles): boundaries from ONE global
    // aggregate (a 9-element array), broadcast, assignment by comparison —
    // the scale-correct alternative to ntile's global window. Boundaries
    // are snapped to x100 integers so cross-engine interpolation noise
    // can't move a document across a decile edge.
    "quantile_bucket_tokens" -> ((s, d) => {
      val nt = documents(s, d)
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      val bounds = nt
        .agg(percentile(col("n_tokens"), array((1 to 9).map(i => lit(i / 10.0)): _*)).as("_q"))
        .select(transform(col("_q"), q => round(q * 100, 0).cast("long")).as("_qx"))
      nt.crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("n_tokens"),
          size(filter(col("_qx"), b => col("n_tokens").cast("long") * 100 >= b)).as("decile"))
        .orderBy("doc_id")
    }),

    // Sequence packing: assign documents to fixed token-budget training
    // sequences (concat-and-chunk semantics — a doc starts at the running
    // token offset; seq_id/offset fall out of an integer prefix sum).
    // Partitioned by (lang, source) so the cumulative window is per-key;
    // for one giant key the banded prefix-sum of ops/TimeSeries is the
    // same pattern. Every output is exact integer arithmetic.
    "pack_sequences" -> ((s, d) => {
      val budget = PackBudget
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("_cum", sum(col("n_tokens")).over(w))
        .select(col("lang"), col("source"), col("doc_id"), col("n_tokens"),
          expr(s"(_cum - n_tokens) div $budget").as("seq_id"),
          pmod(col("_cum") - col("n_tokens"), lit(budget)).as("seq_offset"))
        .orderBy("doc_id")
    }),

    // Training-pack PROVENANCE (data governance / attribution): under
    // the pack_sequences concat-and-chunk layout, a document's token
    // interval [start, end) can cross pack boundaries, so the honest
    // lineage of pack k is every doc whose interval intersects
    // [k·B, (k+1)·B) with the exact overlap length. One prefix-sum
    // window (shared spelling with pack_sequences), an explode of
    // ceil(len/B)+1 span rows per doc (corpus-linear: Σ spans ≈
    // tokens/B + docs), and a pack-keyed aggregate emitting doc count,
    // token fill (B exactly for interior packs — the conservation
    // check), and an md5 lineage record over the ordered doc:tokens
    // list. Interval work is integer arithmetic end to end.
    "pack_provenance" -> ((s, d) => {
      val budget = PackBudget
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("_end", sum(col("n_tokens")).over(w))
        .withColumn("_start", col("_end") - col("n_tokens"))
        .where(col("n_tokens") > 0)
        .select(col("lang"), col("source"), col("doc_id"),
          col("_start"), col("_end"),
          explode(sequence(expr(s"_start div $budget"),
            expr(s"(_end - 1) div $budget"))).as("seq_id"))
        .select(col("lang"), col("source"), col("seq_id"), col("doc_id"),
          (least(col("_end"), (col("seq_id") + 1) * budget) -
            greatest(col("_start"), col("seq_id") * budget)).as("tok_in_seq"))
        .groupBy("lang", "source", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok_in_seq")).as("n_tokens"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("doc_id"), col("tok_in_seq")))),
            x => concat_ws(":", x("doc_id"), x("tok_in_seq"))), ","))
            .as("lineage"))
        .orderBy("lang", "source", "seq_id")
    }),

    // Benchmark decontamination: flag training documents sharing any
    // word-3-gram with a holdout set (here: doc_id % 97 == 0 stands in
    // for the benchmark corpus). Shingle hashes explode to (doc, h) rows;
    // the holdout's distinct hash set broadcasts into a semi-join, so the
    // contamination check is one keyed probe per shingle — no pairwise
    // document comparison anywhere.
    "decontaminate_ngrams" -> ((s, d) => {
      val sh = documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_t"))
        .select(col("doc_id"), TextOps.hashAll(col("_t")).as("_th"))
        .select(col("doc_id"), explode(Dedup.shingleHashes(col("_th"))).as("h"))
      val holdout = sh.where(col("doc_id") % 97 === 0).select(col("h")).distinct()
      sh.where(col("doc_id") % 97 =!= 0)
        .join(holdout, Seq("h"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("h")).as("n_shared_ngrams"))
        .orderBy("doc_id")
    }),

    // Graded decontamination: per-document CONTAMINATION RATIO (share of
    // its distinct word-3-grams appearing in the holdout) instead of the
    // binary flag — the signal a pipeline thresholds ("drop if >5%
    // overlap") or stratifies eval sets by. The per-doc DENOMINATOR is a
    // pure projection — `size(array_distinct(shingles))` over the doc's
    // own array — NOT a grouped count over the exploded stream: the
    // 16× probe measured that (doc, h) re-aggregation as the query's
    // dominant stage (1.9 s of 3.5 at the probe's partition scaling),
    // paying a token-linear shuffle to recount what each row already
    // knows. Cross-doc work (the holdout semi-join + n_shared count) is
    // the only exploded/keyed part, plus a doc-count-sized left
    // join-back so uncontaminated docs report 0.
    "contamination_ratio" -> ((s, d) => {
      // per-doc DISTINCT shingle array staged once: the denominator is
      // size(_hs) (pure projection), the exploded h is unique per doc so
      // n_shared is a plain partial-aggregable count (no (doc, h)
      // distinct-regroup shuffle), and the holdout's distinct build
      // explodes the smaller deduped arrays
      val staged = documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_t"))
        .select(col("doc_id"), TextOps.hashAll(col("_t")).as("_th"))
        .select(col("doc_id"),
          array_distinct(Dedup.shingleHashes(col("_th"))).as("_hs"))
      val sh = staged.select(col("doc_id"), explode(col("_hs")).as("h"))
      val holdout = sh.where(col("doc_id") % 97 === 0).select(col("h")).distinct()
      val total = staged.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), size(col("_hs")).cast("long").as("n_total"))
      val shared = sh.where(col("doc_id") % 97 =!= 0)
        .join(holdout, Seq("h"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
      total.join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_total"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          round(coalesce(col("n_shared"), lit(0L)) / col("n_total"), 6)
            .as("contamination"))
        .orderBy("doc_id")
    }),

    // Bloom-pruned decontamination: identical RESULT to
    // decontaminate_ngrams (same oracle SQL), different 100 TB shape —
    // the holdout's hash set is sketched into a Bloom filter
    // (ops/BloomPrune) and the corpus shingle stream is pre-filtered by
    // `might_contain` BEFORE the exact semi-join, so the join shuffle
    // carries only true hits + fpp instead of every shingle. The trailing
    // exact semi-join removes the sketch's false positives.
    "decontaminate_bloom" -> ((s, d) => {
      val sh = documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_t"))
        .select(col("doc_id"), TextOps.hashAll(col("_t")).as("_th"))
        .select(col("doc_id"), explode(Dedup.shingleHashes(col("_th"))).as("h"))
      val holdout = sh.where(col("doc_id") % 97 === 0).select(col("h")).distinct()
      graft.ops.BloomPrune.semiJoinPruned(
          sh.where(col("doc_id") % 97 =!= 0), holdout, "h")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("h")).as("n_shared_ngrams"))
        .orderBy("doc_id")
    }),

    // Exact distinct-count rollup twin for the HLL sketch path
    // (ext/Sketches): per-day distinct users over events. The sketch
    // spelling (one scan → KB-sized mergeable per-day sketches → any
    // rollup by union) is pinned to THIS query within HLL rel-error in
    // SketchSpec — sketch estimates aren't portable across engines, so
    // the exact spelling is what the DuckDB oracle checks (same pattern
    // as the quantile sketches, SURVEY §7.4.2).
    "distinct_users_daily" -> ((s, d) =>
      events(s, d)
        .groupBy((tsMillis(col("ts")) / 86400000L).cast("long").as("day"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("day")),

    // Exact set-algebra twin for the THETA sketch path (ext/Sketches):
    // distinct users who clicked vs viewed — union, intersection,
    // difference — in ONE scan (per-user flags, then one sum). The theta
    // spelling answers the same three numbers from two presummarized
    // KB-sized sketches, no raw re-scan; SketchSpec pins it to this twin
    // within theta rel-error.
    "user_type_overlap" -> ((s, d) =>
      events(s, d)
        .where(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
             max(when(col("event_type") === "view", 1).otherwise(0)).as("v"))
        .agg(count(lit(1)).as("n_union"),
             sum(when(col("c") === 1 && col("v") === 1, 1L).otherwise(0L)).as("n_intersect"),
             sum(when(col("c") === 1 && col("v") === 0, 1L).otherwise(0L)).as("n_click_only"))),

    // Count-min sketch path (ext/Sketches.cmsSketches/cmsMergeEstimate):
    // per-day CMS partials of event_type, merged, then point-queried for
    // each observed type — the mergeable "how often did key X occur?"
    // family. With 5 distinct types against a 2000-counter width and a
    // fixed seed, the collision structure is deterministic and empty, so
    // the estimates are EXACT and the DuckDB oracle is the plain count
    // (the approx_top_k exact-below-capacity pattern). The probe-item
    // collect and the sketch merge are driver-side on sketch-/
    // cardinality-sized data only — this is the serving read path, the
    // same footprint class as the plot layer.
    "cms_type_counts" -> ((s, d) => {
      val ev = events(s, d)
      val daily = Sketches.cmsSketches(ev,
        Seq(to_date(col("ts")).as("day")), col("event_type"))
      val probes = ev.select(col("event_type")).distinct()
        .collect().map(_.getString(0)).toSeq
      Sketches.cmsMergeEstimate(s, daily, probes).orderBy("item")
    }),

    // Exact heavy-hitters twin for the frequent-items sketch path
    // (ext/Sketches.topkAccumulate/Combine): top-10 users by event count,
    // count-desc then user-asc for a deterministic oracle. The sketch
    // spelling keeps O(maxItemsTracked) mergeable state per group and is
    // EXACT while distinct users ≤ maxItemsTracked — pinned in
    // SketchSpec.
    "frequent_users_topk" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id"))
        .limit(10)),

    // Cross-document boilerplate detection (C4-style): a word-3-gram
    // appearing in >= 3 distinct documents is "boilerplate"; report each
    // document's boilerplate shingle ratio. One shingle staging feeds
    // both the document-frequency count and the per-doc probe — the df
    // side is sketch-sized (distinct shingles), never documents².
    "boilerplate_ngrams" -> ((s, d) => {
      val sets = shingleSets(s, d)
      val sh = sets.select(col("doc_id"), explode(col("toks")).as("h"))
      val boiler = sh.groupBy(col("h")).agg(count(lit(1)).as("_df"))
        .where(col("_df") >= 3).select(col("h"))
      // the sets are distinct per doc, so the per-doc shingle count is a
      // shuffle-free projection of the staged array — only the df count
      // and the boilerplate probe need the exploded rows
      val perDoc = sets.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_shingles"))
      val nBoiler = sh.join(boiler, Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
      perDoc.join(nBoiler, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
            col("n_shingles"), 6).as("boiler_ratio"))
        .orderBy("doc_id")
    }),

    // Text quality statistics (tokens, chars, punctuation, stopwords);
    // the token array is staged once and reused by every feature.
    "text_stats" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("_toks"))
        .select(
          col("doc_id"),
          size(col("_toks")).as("n_tokens"),
          length(col("text")).as("n_chars_calc"),
          TextOps.punctCount(col("text")).as("n_punct"),
          TextOps.stopwordCount(col("_toks")).as("n_stopwords"),
          round(aggregate(transform(col("_toks"), t => length(t).cast("long")), lit(0L),
            (acc, x) => acc + x).cast("double") / size(col("_toks")), 6).as("avg_token_len"))
        .orderBy("doc_id")),

    // Composite quality score: bounded linear blend of length, cleanliness
    // (1 - punctuation ratio) and stopword naturalness — the cheap
    // pre-filter a training-data pipeline runs before expensive scoring.
    "text_quality_score" -> ((s, d) =>
      qualityScored(s, d).orderBy("doc_id")),

    // Token-budget enforcement per source: keep each source's
    // best-quality documents until a budget (60% of its token mass) is
    // spent — the "fit the corpus to the compute budget" selection
    // every training run ends with. One quality scan + one per-source
    // cumulative-sum window over (quality desc, doc_id). The exact
    // per-source sort is the oracle-comparable twin; at 100 TB the cut
    // only needs the quality threshold where the cumsum crosses the
    // budget — one pass through a per-source quality KLL sketch
    // (ext/Sketches), no global sort (the profile_columns contract).
    "budget_cut_per_source" -> ((s, d) => {
      val nt = documents(s, d).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nt.join(qualityScored(s, d).select(col("doc_id"), col("quality")),
          Seq("doc_id"))
        .withColumn("budget",
          expr(s"sum(nt) OVER (PARTITION BY source) * $BudgetNum div $BudgetDen"))
        .withColumn("cum", sum(col("nt")).over(w))
        .groupBy(col("source"))
        .agg(max(col("budget")).as("budget_tokens"),
          count(lit(1)).as("n_docs"),
          sum(when(col("cum") <= col("budget"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("cum") <= col("budget"), col("nt")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy("source")
    }),

    // Preference-PAIR mining (the DPO/RLHF data-prep shape): within each
    // (source, lang) group, pair the best-quality doc against the worst
    // (deterministic ties: chosen -> smallest id, rejected -> largest, so
    // any >=2-doc group yields one distinct pair). Per-group windows
    // partition cleanly — group count grows with the corpus, never the
    // window size; the quality pass is the shared one-text-scan chain.
    "preference_pairs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val q = qualityScored(s, d)
        .join(documents(s, d).select(col("doc_id"), col("source"), col("lang")),
          Seq("doc_id"))
      val g = Window.partitionBy(col("source"), col("lang"))
      val ranked = q
        .withColumn("_rc", row_number().over(
          g.orderBy(col("quality").desc, col("doc_id"))))
        .withColumn("_rr", row_number().over(
          g.orderBy(col("quality").asc, col("doc_id").desc)))
        .withColumn("_n", count(lit(1)).over(g))
        .where(col("_n") >= 2)
      // one conditional agg on the windows' own partitioning — no
      // chosen-vs-rejected self-join, no second shuffle
      ranked.where(col("_rc") === 1 || col("_rr") === 1)
        .groupBy(col("source"), col("lang"))
        .agg(max(when(col("_rc") === 1, col("doc_id"))).as("chosen_id"),
          max(when(col("_rr") === 1, col("doc_id"))).as("rejected_id"),
          round(max(when(col("_rc") === 1, col("quality"))) -
            max(when(col("_rr") === 1, col("quality"))), 6).as("margin"))
        .orderBy("source", "lang")
    }),

    // The full dedup pipeline end-to-end: LSH pairs -> connected-component
    // clusters -> ONE survivor per cluster, chosen by (quality desc,
    // doc_id) — per-cluster windows only, every stage a keyed join/agg.
    "dedup_survivors" -> ((s, d) => {
      val clusters = Dedup.connectedComponents(minhashVerifiedPairs(s, d), "id_a", "id_b")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      clusters.join(qualityScored(s, d), Seq("doc_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id"))))
        .where(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"), col("quality"))
        .orderBy("cluster_id")
    }),

    // The END-TO-END training-data prep pipeline as ONE declarative plan:
    // drop the holdout benchmark docs, drop near-dup cluster losers (LSH
    // pairs -> connected components -> best-quality survivor), drop
    // benchmark-contaminated docs (shared word-3-grams), drop low-quality
    // docs, then report the resulting corpus per language. Every stage is
    // a keyed join/agg over sketch-sized intermediates — the document text
    // itself is only scanned, never shuffled.
    "pipeline_training_corpus" -> ((s, d) => {
      val docs = documents(s, d)
      // two consumers (loser ranking + the final quality floor) — one
      // doc-count-sized (id, double) materialization instead of two
      // tokenize+punct+stopword passes over the corpus
      val quality = qualityScored(s, d).localCheckpoint(false)
      // ONE shingle staging serves pair generation AND decontamination —
      // the corpus is tokenized+hashed exactly once in the whole pipeline.
      val toks = shingleSets(s, d)
      val clusters = Dedup.connectedComponents(minhashVerifiedPairsFrom(toks), "id_a", "id_b")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val losers = clusters.join(quality, Seq("doc_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id"))))
        .where(col("rk") > 1).select(col("doc_id"))
      val sh = toks.select(col("doc_id"), explode(col("toks")).as("h"))
      val holdout = sh.where(col("doc_id") % 97 === 0).select(col("h")).distinct()
      val contaminated = sh.where(col("doc_id") % 97 =!= 0)
        .join(holdout, Seq("h"), "left_semi").select(col("doc_id")).distinct()
      docs.where(col("doc_id") % 97 =!= 0)
        .join(losers, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(quality, Seq("doc_id"))
        .where(col("quality") >= 0.3)
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"), col("quality"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
          // quality is 6-rounded → exact at scale 1e6: order-invariant mean
          graft.ops.Metrics.meanExactScaled(col("quality"), 1000000L).as("avg_quality"))
        .orderBy("lang")
    }),

    // Corpus-prep v2 (r11): the r8–r10 cleaning/mixing operators COMPOSED
    // into one declarative plan — Gopher quality rules → banded per-lang
    // perplexity gate → mojibake + overrepresented-domain hygiene →
    // near-dup survivor selection → benchmark decontamination →
    // temperature-scaled source mixing → sequence-pack counts. One keyed
    // semi/anti-join per gate on doc_id; shared staging where the
    // operators genuinely share work: ONE shingle staging feeds BOTH the
    // LSH pair generation and the decontamination explode (the v1
    // pattern), the mixing/packing token counts reuse the same
    // TextOps.tokens expression the gates tokenize with, and the domain
    // threshold + the n_packs identity avoid re-staging entirely
    // (n_packs under concat-and-chunk packing per source IS
    // ceil(total/budget) — an aggregate identity, not a per-doc window).
    // Each gate's spelling is the SHARED helper behind its standalone
    // catalog query (gopherMetrics / pplRanked / mojiPlantedText /
    // urlPlantedText), so the composite cannot drift from the operators
    // it composes; the oracle replays the same shared SQL fragments.
    "pipeline_training_corpus_v2" -> ((s, d) => {
      val docs = documents(s, d)
      // hard gates, each reduced to a doc_id keep/drop list
      val gopherOk = CorpusQueries.gopherMetrics(s, d)
        .where(col("keep")).select(col("doc_id"))
      val pplOk = CorpusQueries.pplRanked(s, d)
        .where(col("keep")).select(col("doc_id"))
      val mojiOk = CorpusQueries.mojiPlantedText(s, d)
        .where(
          size(expr(s"regexp_extract_all(text, '${CorpusQueries.MojiReplPat}', 0)")) === 0 &&
          size(expr(s"regexp_extract_all(text, '${CorpusQueries.MojiC1Pat}', 0)")) === 0 &&
          size(expr(s"regexp_extract_all(text, '${CorpusQueries.MojiLatin1Pat}', 0)")) === 0)
        .select(col("doc_id"))
      // URL hygiene: overrepresented domains (distinct-doc count above
      // docs/UrlDomainCapDiv — derived from the corpus count, the
      // adaptive-k pattern) drop every doc that mentions them
      val nDocs = docs.count()
      val urls = CorpusQueries.urlPlantedText(s, d)
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(text, 'https?://([a-z0-9.-]+)', 1)"))
            .as("domain"))
      val hotDomains = urls.groupBy(col("domain"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") > lit(nDocs / UrlDomainCapDiv))
        .select(col("domain"))
      val urlDrop = urls.join(broadcast(hotDomains), Seq("domain"), "left_semi")
        .select(col("doc_id")).distinct()
      // near-dup losers + decontamination off ONE shingle staging (v1)
      val quality = qualityScored(s, d).localCheckpoint(false)
      val toks = shingleSets(s, d)
      val clusters = Dedup.connectedComponents(
          minhashVerifiedPairsFrom(toks), "id_a", "id_b")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val losers = clusters.join(quality, Seq("doc_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id"))))
        .where(col("rk") > 1).select(col("doc_id"))
      val sh = toks.select(col("doc_id"), explode(col("toks")).as("h"))
      val holdout = sh.where(col("doc_id") % 97 === 0).select(col("h")).distinct()
      // graded decontamination (the contamination_ratio rule): exploded h
      // is unique per doc (toks is distinct), so n_shared is a plain
      // partial-aggregable count off the SAME staging the LSH pairs use
      val total = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_total"))
      val contaminated = sh.where(col("doc_id") % 97 =!= 0)
        .join(holdout, Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .join(total, Seq("doc_id"))
        .where(col("n_shared") * ContamFracDiv > col("n_total"))
        .select(col("doc_id"))
      // survivors → per-source mixing plan + pack counts
      val surv = docs.where(col("doc_id") % 97 =!= 0)
        .join(gopherOk, Seq("doc_id"), "left_semi")
        .join(pplOk, Seq("doc_id"), "left_semi")
        .join(mojiOk, Seq("doc_id"), "left_semi")
        .join(urlDrop, Seq("doc_id"), "left_anti")
        .join(losers, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val g = surv.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val tot = broadcast(g.agg(sum(col("n_tokens")).as("_tot")))
      val smoothed = g.crossJoin(tot)
        .withColumn("_qn",
          expr("cast(round(sqrt(cast(n_tokens as double) / _tot) * 1000000000) as bigint)"))
      val norm = broadcast(smoothed.agg(sum(col("_qn")).as("_z")))
      smoothed.crossJoin(norm)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("_tot"), 6).as("p_raw"),
          round(col("_qn").cast("double") / col("_z"), 6).as("p_alpha"),
          round((col("_qn").cast("double") / col("_z"))
            / (col("n_tokens").cast("double") / col("_tot")), 6)
            .as("oversample"),
          expr(s"(n_tokens + ${PackBudget - 1}) div $PackBudget").as("n_packs"))
        .orderBy("source")
    }),

    // Per-document token Shannon entropy (nats) — the information-density
    // quality signal. One explode + two keyed aggregates; the identity
    // H = ln(n) - (Σ c·ln c)/n turns the per-term probability pass into
    // plain algebraic aggregates (both partial-aggregable map-side).
    "text_entropy" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("_n"),
          sum(col("cnt").cast("double") * log(col("cnt").cast("double"))).as("_sl"))
        .select(col("doc_id"),
          round(log(col("_n").cast("double")) - col("_sl") / col("_n"), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // Within-document repetition (duplicate word-3-gram ratio) — the
    // Gopher-style repetitiousness filter. Pure per-row array arithmetic
    // over the staged shingle hashes: no shuffle at all before the final
    // presentation sort.
    "text_repetition" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_t"))
        .select(col("doc_id"), TextOps.hashAll(col("_t")).as("_th"))
        .select(col("doc_id"), Dedup.shingleHashes(col("_th")).as("_sh"))
        .select(col("doc_id"), size(col("_sh")).cast("long").as("n_shingles"),
          size(array_distinct(col("_sh"))).cast("long").as("n_distinct"))
        .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_shingles"), 6)
            .as("dup_ratio"))
        .orderBy("doc_id")),

    // Corpus token frequency spectrum (Zipf head): global term counts,
    // top-30 via orderBy+limit — Spark plans TakeOrderedAndProject (per-
    // partition heaps + a 30-row driver merge), NOT a global sort; the
    // rank window then runs over the 30 surviving rows only.
    "zipf_token_freq" -> ((s, d) => {
      val tc = documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
      val tot = tc.agg(sum(col("n")).as("_tot"))
      val top = tc.orderBy(col("n").desc, col("term")).limit(30)
      top.crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("term"))))
        .select(col("rk"), col("term"), col("n"),
          round(col("n").cast("double") / col("_tot"), 6).as("freq"))
        .orderBy("rk")
    }),

    // Token counting both ways: whitespace and BPE-ish regex runs.
    "text_token_counts" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws_tokens"),
          TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    // Language-ID heuristic (stopword-overlap argmax) over staged tokens.
    "text_langid" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), TextOps.langId(col("_toks")).as("lang_pred"))
        .orderBy("doc_id")),

    // TF-IDF: the classic term-weighting pipeline — ONE explode+aggregate
    // pass builds the (doc, term, cnt) table; document length and document
    // frequency are then whole-partition window aggregates over that table
    // (the dup_span_ratio pattern: no self-joins, no checkpoint, nothing
    // pinned — the tf table is token-proportional and must not be
    // localCheckpointed per the SURVEY §8 rule). Both windows partition on
    // high-cardinality keys (doc_id / term), so partitions stay tiny and
    // skew-free; the corpus count is a 1-row broadcast. Rounding before
    // ranking keeps cross-engine ln() ulp noise out of the order.
    "text_tfidf_top_terms" -> ((s, d) => {
      val docs = documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
      val byDoc = Window.partitionBy(col("doc_id"))
      val byTerm = Window.partitionBy(col("term"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .withColumn("dlen", sum(col("cnt")).over(byDoc))
        .withColumn("dfreq", count(lit(1)).over(byTerm))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round((col("cnt").cast("double") / col("dlen")) *
            log(col("n_docs").cast("double") / col("dfreq")), 6).as("tfidf"))
      // custom TopKPerKey prunes to 3 rows/doc with bounded heaps (no
      // per-partition sort of the full (doc, term) space); the rank
      // window then orders only the <=3 survivors per doc.
      graft.plans.TopK.perKey(scored, Seq("doc_id"),
          Seq(("tfidf", true), ("term", false)), 3)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))))
        .select(col("doc_id"), col("term"), col("tfidf"), col("rk"))
        .orderBy("doc_id", "rk")
    }),

    // Corpus n-gram statistics: top-5 word bigrams per language — pure
    // integer counts, grouped + per-key ranked (no global ordering).
    "ngram_top_bigrams" -> ((s, d) => {
      // tokens staged as an attribute; pairs zipped codegen-side and the
      // shingle string concatenated after the explode (one row-level
      // concat beats an interpreted per-element transform lambda).
      val bg = documents(s, d)
        .select(col("lang"), TextOps.tokens(col("text")).as("_t"))
        .select(col("lang"), explode(TextOps.bigramPairs(col("_t"))).as("_bg"))
        .select(col("lang"),
          concat(col("_bg")("0"), lit(" "), col("_bg")("1")).as("bigram"))
        .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n"))
      // TopKPerKey heap-prunes to 5 bigrams/lang before the rank window
      // (which then sorts 5 rows per language, not the whole bigram space)
      graft.plans.TopK.perKey(bg, Seq("lang"), Seq(("n", true), ("bigram", false)), 5)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))))
        .select(col("lang"), col("bigram"), col("n"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // Vocabulary encoding (the tokenizer-dictionary shape): build a
    // frequency-ranked top-256 term vocabulary, broadcast it, and encode
    // every document as its comma-joined token-id sequence (-1 = UNK).
    // The dictionary is O(vocab) at any corpus size; the encode pass is a
    // broadcast join + per-doc reassembly keyed by position — no global
    // structure anywhere.
    "vocab_encode" -> ((s, d) => {
      val tf = documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
      val vocab = tf.orderBy(col("n").desc, col("term")).limit(256)
        .withColumn("token_id",
          row_number().over(Window.orderBy(col("n").desc, col("term"))) - 1)
        .select(col("term"), col("token_id"))
      val pos = documents(s, d)
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term")))
      pos.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("token_id").isNull, 1)).as("n_unk"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"),
              coalesce(col("token_id"), lit(-1)).as("tid")))),
            x => x.getField("tid").cast("string")), ",").as("ids"))
        .orderBy("doc_id")
    }),

    // Order-sensitive rolling-hash fingerprint.
    "text_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(TextOps.tokens(col("text"))).as("fp"))
        .orderBy("doc_id")),

    // Multimodal plumbing: binary payload + partition-parallel decode
    // (deterministic stub codec; no oracle — rows-only check + ScalaTest).
    "multimodal_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(s,
          Multimodal.withBinaryPayload(documents(s, d), "doc_id", "text"))
        .toDF()
        .orderBy("doc_id")),

    // Multimodal frame sampling: 1 row in -> N frame rows out (flatMap,
    // no shuffle). Rows-only check + ScalaTest.
    "multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(s,
          Multimodal.withBinaryPayload(documents(s, d), "doc_id", "text"))
        .toDF()
        .orderBy("doc_id", "frame_ix")),

    // Multimodal resize (thumbnail) stub: stride-sampled bytes, same
    // per-partition map shape as a real rescale — byte-exact checksum
    // oracle over the strided positions.
    "multimodal_resize" -> ((s, d) =>
      Multimodal.resizeFeatures(s,
          Multimodal.withBinaryPayload(documents(s, d), "doc_id", "text"),
          targetBytes = 64)
        .toDF()
        .orderBy("doc_id")))

  def oracleSql: Map[String, String] = {
    // MinHash signature columns over the pre-hashed shingle set `t`
    // (computed once in the `sh` CTE; min over the distinct set equals
    // min over the raw multiset, so results are unchanged).
    val sigCols = (0 until Dedup.MinhashK).map { i =>
      s"list_min(list_transform(t, x -> " +
        s"(${Dedup.minhashA(i)} * x + ${Dedup.minhashB(i)}) % ${Dedup.MinhashP})) AS sig_$i"
    }.mkString(",\n  ")
    // doc_id -> hashed shingle set, shared by signatures and Jaccard:
    // per-token md5 combined arithmetically into word-3-shingle hashes
    // (mirrors Dedup.shingleHashes incl. the <3-token fallback).
    // MATERIALIZED: referenced 3x (and from a recursive CTE in the
    // clustering oracle, where un-materialized CTEs re-evaluate per
    // reference — measured 13x slower).
    val duckShingleHashes =
      s"""sh AS MATERIALIZED (SELECT doc_id,
         |  list_distinct(CASE WHEN len(th) < ${Dedup.ShingleN} THEN th
         |    ELSE list_transform(generate_series(1, len(th) - ${Dedup.ShingleN - 1}),
         |      i -> ((((th[i] * ${Dedup.ShingleA} + th[i+1]) % ${Dedup.MinhashP})
         |            * ${Dedup.ShingleA} + th[i+2]) % ${Dedup.MinhashP})) END) AS t
         |  FROM (SELECT doc_id, list_transform($duckToks, tk -> ${duckH32("tk")}) AS th
         |        FROM documents))""".stripMargin
    // IVF assignment CTEs (mirrors Similarity.ivfAssign), shared by the
    // topk and kmeans oracles.
    val duckIvfAssign =
      """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |scored AS (
        |  SELECT a.vec_id, a.v, a.nrm, c.cell_id,
        |    round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * c.cv[i]))
        |          / (a.nrm * c.cnrm), 6) AS ccos
        |  FROM n a, cent c),
        |assign AS (
        |  SELECT vec_id, v, nrm, cell_id AS cell FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id) = 1)""".stripMargin
    // PQ encoding CTEs (mirror Similarity.pqEncode: m=8 subspaces of 8
    // dims, k=16 seed codewords, squared-L2 argmin per subspace with the
    // identical a·a − 2·a·b + b·b op order), shared by the codes, ADC,
    // training, and IVF-PQ oracles. `best` holds one (vec_id, j, code)
    // row per subspace. `duckPqCore` assumes an `e` CTE is already in
    // scope (so it composes with duckIvfAssign, which defines the same
    // `e`); `duckPq` is the self-contained form.
    val duckPqCore =
      """book AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id < 16),
        |subd AS (
        |  SELECT e.vec_id, g.j, b.code,
        |    round(
        |      list_sum(list_transform(generate_series(1, 8), i -> e.v[g.j*8+i] * e.v[g.j*8+i]))
        |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> e.v[g.j*8+i] * b.cv[g.j*8+i]))
        |      + list_sum(list_transform(generate_series(1, 8), i -> b.cv[g.j*8+i] * b.cv[g.j*8+i])), 6) AS dist
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN book b),
        |best AS (
        |  SELECT vec_id, j, code FROM subd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1)""".stripMargin
    val duckPq =
      """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |""".stripMargin + duckPqCore
    // --- TRAINED-chain generators (mirror trainPqBook/trainIvfCentroids
    // with PqTrainIters Lloyd iterations; one CTE block per iteration).
    // pqSubBest(book, sfx): PQ assignment under an arbitrary book CTE —
    // the identical round-6 squared-L2 argmin as duckPqCore, ties to the
    // lowest code id.
    def pqSubBest(bookCte: String, sfx: String): String =
      s"""subd$sfx AS (
         |  SELECT e.vec_id, g.j, b.code,
         |    round(
         |      list_sum(list_transform(generate_series(1, 8), i -> e.v[g.j*8+i] * e.v[g.j*8+i]))
         |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> e.v[g.j*8+i] * b.cv[g.j*8+i]))
         |      + list_sum(list_transform(generate_series(1, 8), i -> b.cv[g.j*8+i] * b.cv[g.j*8+i])), 6) AS dist
         |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN $bookCte b),
         |best$sfx AS (
         |  SELECT vec_id, j, code FROM subd$sfx
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1)""".stripMargin
    // Training chain ending in bookT (the trained codebook) and bestT
    // (codes under it). Each iteration: assign under book_{t-1}, new
    // codeword slice = round-6 per-dim mean of its members (an unchosen
    // codeword keeps its previous value via the coalesce).
    def duckPqTrainedChain(iters: Int): String = {
      val sb = new StringBuilder
      sb ++= "book_t0 AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id < 16)"
      for (t <- 1 to iters) {
        sb ++= ",\n" + pqSubBest(s"book_t${t - 1}", s"_t${t - 1}")
        sb ++= s""",
          |means_t$t AS (
          |  SELECT b.j, b.code, g.d, round(avg(e.v[b.j*8+g.d]), 6) + 0.0 AS mv
          |  FROM best_t${t - 1} b JOIN e USING (vec_id)
          |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS d) g
          |  GROUP BY b.j, b.code, g.d),
          |book_t$t AS (
          |  SELECT bk.code, list(coalesce(m.mv, bk.cv[g.i]) ORDER BY g.i) AS cv
          |  FROM book_t${t - 1} bk
          |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g
          |  LEFT JOIN means_t$t m ON m.code = bk.code AND m.j = (g.i-1)//8 AND m.d = ((g.i-1)%8)+1
          |  GROUP BY bk.code)""".stripMargin
      }
      sb ++= s",\nbookT AS (SELECT code, cv FROM book_t$iters),\n"
      sb ++= pqSubBest("bookT", "T")
      sb.toString
    }
    // IVF assignment under an arbitrary centroid CTE (same round-6
    // cosine argmax as duckIvfAssign, ties to the lowest cell id).
    def ivfScoredAssign(centCte: String, sfx: String): String =
      s"""scored$sfx AS (
         |  SELECT a.vec_id, a.v, a.nrm, c.cell_id,
         |    round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * c.cv[i]))
         |          / (a.nrm * c.cnrm), 6) AS ccos
         |  FROM n a, $centCte c),
         |assign$sfx AS (
         |  SELECT vec_id, v, nrm, cell_id AS cell FROM scored$sfx
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id) = 1)""".stripMargin
    // Centroid training chain ending in centT + assignT (assignment
    // under the trained centroids); empty cells keep their centroid.
    def duckIvfTrainedChain(iters: Int): String = {
      val sb = new StringBuilder
      sb ++= "cent_c0 AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16)"
      for (t <- 1 to iters) {
        sb ++= ",\n" + ivfScoredAssign(s"cent_c${t - 1}", s"_c${t - 1}")
        sb ++= s""",
          |cmeans_c$t AS (
          |  SELECT a.cell, g.d, round(avg(a.v[g.d]), 6) + 0.0 AS mv
          |  FROM assign_c${t - 1} a CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) g
          |  GROUP BY a.cell, g.d),
          |centv_c$t AS (
          |  SELECT c.cell_id, list(coalesce(m.mv, c.cv[g.d]) ORDER BY g.d) AS cv
          |  FROM cent_c${t - 1} c CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) g
          |  LEFT JOIN cmeans_c$t m ON m.cell = c.cell_id AND m.d = g.d
          |  GROUP BY c.cell_id),
          |cent_c$t AS (SELECT cell_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm FROM centv_c$t)""".stripMargin
      }
      sb ++= s",\ncentT AS (SELECT cell_id, cv, cnrm FROM cent_c$iters),\n"
      sb ++= ivfScoredAssign("centT", "T")
      sb.toString
    }
    // BPE training chain (mirrors Bpe.trainMerges step for step): w0 is
    // the char-segmented word-frequency vocab in the delimited-string
    // carrier (" l  o  w "); each step counts adjacent symbol pairs
    // weighted by word freq, picks the (count DESC, pair ASC) argmax m$t,
    // and re-chunks every segmentation with the same left-to-right
    // non-overlapping replace Spark runs.
    def duckBpeChain(steps: Int): String = {
      val sb = new StringBuilder
      sb ++= """w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |    ' ' || array_to_string(list_transform(generate_series(1, len(word)), i -> word[i]), '  ') || ' ' AS seg
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word)""".stripMargin
      for (t <- 1 to steps) {
        sb ++= s""",
          |p$t AS (
          |  SELECT pr[1] AS s1, pr[2] AS s2, CAST(sum(freq) AS BIGINT) AS cnt
          |  FROM (SELECT unnest(list_transform(generate_series(1, len(a) - 1), i -> [a[i], a[i+1]])) AS pr, freq
          |        FROM (SELECT string_split(trim(seg), '  ') AS a, freq FROM w${t - 1}))
          |  GROUP BY s1, s2),
          |m$t AS (SELECT s1, s2, s1 || s2 AS ms, cnt FROM p$t ORDER BY cnt DESC, s1, s2 LIMIT 1),
          |w$t AS (SELECT word, freq, replace(seg, ' ' || s1 || '  ' || s2 || ' ', ' ' || ms || ' ') AS seg FROM w${t - 1}, m$t)""".stripMargin
      }
      sb.toString
    }
    // PCA power-iteration chain (mirrors Pca.firstComponent): micro-unit
    // per-dimension sums for μ and each C·v product, list-carried μ/v
    // vectors, identical ltr folds for dots and the normalize. Ends in
    // CTEs `mu` (ml) and `v<iters>` (vl).
    def duckPcaChain(iters: Int): String = {
      val sb = new StringBuilder
      sb ++= """cnt AS (SELECT count(*) AS n FROM e),
        |dg AS (SELECT unnest(generate_series(1, 64)) AS d),
        |mus AS (
        |  SELECT d, CAST(sum(CAST(round(v[d] * 1e6, 0) AS BIGINT)) AS BIGINT) AS s
        |  FROM e, dg GROUP BY d),
        |mu AS (SELECT list(CAST(s AS DOUBLE) / 1e6 / n ORDER BY d) AS ml FROM mus, cnt GROUP BY n),
        |v0 AS (SELECT list_transform(generate_series(1, 64), i -> 0.125) AS vl)""".stripMargin
      for (t <- 1 to iters) {
        sb ++= s""",
          |y$t AS (
          |  SELECT vec_id, v,
          |    list_sum(list_transform(generate_series(1, 64), i -> (v[i] - ml[i]) * vl[i])) AS y
          |  FROM e, mu, v${t - 1}),
          |s$t AS (
          |  SELECT d, CAST(sum(CAST(round(y * (v[d] - ml[d]) * 1e6, 0) AS BIGINT)) AS BIGINT) AS s
          |  FROM y$t, mu, dg GROUP BY d),
          |w$t AS (SELECT list(CAST(s AS DOUBLE) / 1e6 / n ORDER BY d) AS wl FROM s$t, cnt GROUP BY n),
          |v$t AS (SELECT list_transform(wl, x -> x / sqrt(list_sum(list_transform(wl, z -> z * z)))) AS vl FROM w$t)""".stripMargin
      }
      sb.toString
    }
    // Deflation chain for top-k PCA (mirrors Pca.topComponents): the
    // power chain of duckPcaChain per component, then the residual
    // projection e{c+1} = e{c} − (xc·v)·v. Ends with per-component CTEs
    // pc{c}v<iters> and residual frames e0..e{k}.
    def duckPcaDeflateChain(k: Int, iters: Int): String = {
      val sb = new StringBuilder
      sb ++= """cnt AS (SELECT count(*) AS n FROM e),
        |dg AS (SELECT unnest(generate_series(1, 64)) AS d),
        |mus AS (
        |  SELECT d, CAST(sum(CAST(round(v[d] * 1e6, 0) AS BIGINT)) AS BIGINT) AS s
        |  FROM e, dg GROUP BY d),
        |mu AS (SELECT list(CAST(s AS DOUBLE) / 1e6 / n ORDER BY d) AS ml FROM mus, cnt GROUP BY n),
        |e0 AS MATERIALIZED (SELECT vec_id, list_transform(generate_series(1, 64), i -> v[i] - ml[i]) AS xc FROM e, mu)""".stripMargin
      for (c <- 0 until k) {
        sb ++= s""",
          |pc${c}v0 AS (SELECT list_transform(generate_series(1, 64), i -> 0.125) AS vl)""".stripMargin
        for (t <- 1 to iters) {
          sb ++= s""",
            |pc${c}y$t AS (
            |  SELECT vec_id, xc,
            |    list_sum(list_transform(generate_series(1, 64), i -> xc[i] * vl[i])) AS y
            |  FROM e$c, pc${c}v${t - 1}),
            |pc${c}s$t AS (
            |  SELECT d, CAST(sum(CAST(round(y * xc[d] * 1e6, 0) AS BIGINT)) AS BIGINT) AS s
            |  FROM pc${c}y$t, dg GROUP BY d),
            |pc${c}w$t AS (SELECT list(CAST(s AS DOUBLE) / 1e6 / n ORDER BY d) AS wl FROM pc${c}s$t, cnt GROUP BY n),
            |pc${c}v$t AS (SELECT list_transform(wl, x -> x / sqrt(list_sum(list_transform(wl, z -> z * z)))) AS vl FROM pc${c}w$t)""".stripMargin
        }
        sb ++= s""",
          |e${c + 1} AS MATERIALIZED (
          |  SELECT vec_id, list_transform(generate_series(1, 64), i -> xc[i] - p * vl[i]) AS xc
          |  FROM (SELECT vec_id, xc, vl,
          |          list_sum(list_transform(generate_series(1, 64), i -> xc[i] * vl[i])) AS p
          |        FROM e$c, pc${c}v$iters))""".stripMargin
      }
      sb.toString
    }
    val duckE =
      """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings)""".stripMargin
    val duckEN = duckE +
      """,
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)""".stripMargin
    // Shared oracle prefix for trained IVF-PQ serving: the full training
    // chains + query constants + ADC distances per candidate in the
    // probed cells (CTE `adc`). Reused by the top-k, from-index, and
    // rerank spellings.
    val duckIvfPqTrainedPrefix =
      s"""WITH $duckEN,
         |${duckIvfTrainedChain(PqTrainIters)},
         |${duckPqTrainedChain(PqTrainIters)},
         |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
         |probe AS (
         |  SELECT cell_id AS cell FROM centT, q
         |  ORDER BY round(list_sum(list_transform(generate_series(1, len(cv)), i -> cv[i] * qv[i]))
         |                 / (cnrm * qnrm), 6) DESC, cell_id
         |  LIMIT 4),
         |lut AS (
         |  SELECT b.code, g.j,
         |    CAST(round((
         |      list_sum(list_transform(generate_series(1, 8), i -> qv[g.j*8+i] * qv[g.j*8+i]))
         |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> qv[g.j*8+i] * b.cv[g.j*8+i]))
         |      + list_sum(list_transform(generate_series(1, 8), i -> b.cv[g.j*8+i] * b.cv[g.j*8+i]))) * 1e6, 0) AS BIGINT) AS dmicro
         |  FROM bookT b CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN q),
         |adc AS (
         |  SELECT b.vec_id, sum(dmicro) / 1e6 AS adc_l2sq
         |  FROM bestT b
         |  JOIN assignT a ON b.vec_id = a.vec_id
         |  JOIN probe p ON a.cell = p.cell
         |  JOIN lut USING (j, code)
         |  GROUP BY b.vec_id)""".stripMargin
    // In-plan and from-index spellings are bit-equal for an indexed
    // query vector, so they share this oracle body.
    val duckIvfPqTrainedSql =
      s"""$duckIvfPqTrainedPrefix
         |SELECT vec_id, adc_l2sq FROM adc
         |ORDER BY adc_l2sq ASC, vec_id LIMIT 10""".stripMargin
    // Two-stage rerank: ADC shortlist (LIMIT RerankShortlist) → exact
    // cosine over the shortlist ids, re-ordered.
    val duckIvfPqRerankSql =
      s"""$duckIvfPqTrainedPrefix,
         |short AS (
         |  SELECT vec_id FROM adc
         |  ORDER BY adc_l2sq ASC, vec_id LIMIT $RerankShortlist)
         |SELECT s.vec_id,
         |  round(list_sum(list_transform(generate_series(1, len(n.v)), i -> n.v[i] * q.qv[i]))
         |        / (n.nrm * q.qnrm), 6) AS cos
         |FROM short s JOIN n ON n.vec_id = s.vec_id, q
         |ORDER BY cos DESC, s.vec_id LIMIT 10""".stripMargin
    val duckQualityCtes = ExtensionQueries.duckQualityCtes
    // Simhash sketch select (mirrors Dedup.simhash32FromHashes), shared by
    // the sketch query and the banded-pair query.
    val duckSimhashSel =
      s"""SELECT doc_id,
         |  CAST(list_sum(list_transform(generate_series(0, 31), j ->
         |    CASE WHEN list_sum(list_transform(hashes, h ->
         |           ((h // CAST(pow(2, j) AS BIGINT)) % 2) * 2 - 1)) >= 0
         |         THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM (SELECT doc_id, list_transform($duckToks, t -> ${duckH32("t")}) AS hashes
         |      FROM documents)""".stripMargin
    val bandKey0 = "concat_ws(':', sig_0, sig_1, sig_2, sig_3)"
    val bandKey1 = "concat_ws(':', sig_4, sig_5, sig_6, sig_7)"
    // CTE chain ending in `pairs` = LSH candidates verified by
    // hashed-shingle-set Jaccard (mirrors minhashVerifiedPairs); shared by
    // the pair and clustering oracles.
    val minhashPairCtes =
      s"""$duckShingleHashes,
         |sig AS (SELECT doc_id,\n  $sigCols\nFROM sh),
         |bands AS (
         |  SELECT doc_id, 0 AS band_ix, $bandKey0 AS band_key FROM sig
         |  UNION ALL
         |  SELECT doc_id, 1 AS band_ix, $bandKey1 AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_ix, band_key)
         |  WHERE a.doc_id < b.doc_id),
         |ov AS (
         |  SELECT id_a, id_b, len(list_intersect(ta.t, tb.t)) AS o,
         |         len(ta.t) AS na, len(tb.t) AS nb
         |  FROM cand JOIN sh ta ON ta.doc_id = id_a JOIN sh tb ON tb.doc_id = id_b),
         |pairs AS MATERIALIZED (
         |  SELECT id_a, id_b, round(o / (na + nb - o), 6) AS jac
         |  FROM ov WHERE round(o / (na + nb - o), 6) >= $JaccardThreshold)""".stripMargin

    // shared residual (IVFADC) chain: prefix ends in `radc` (vec_id,
    // adc_l2sq) so the direct/from-index top-k and the rerank shortlist
    // can reuse it
    val duckIvfPqResidualPrefix =
      s"""WITH $duckIvfAssign,
         |res AS (
         |  SELECT a.vec_id, a.cell,
         |    list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] - c.cv[i]) AS r
         |  FROM assign a JOIN cent c ON c.cell_id = a.cell),
         |rbook AS (SELECT vec_id - 16 AS code, r AS cv FROM res
         |          WHERE vec_id >= 16 AND vec_id < 32),
         |rsubd AS (
         |  SELECT rr.vec_id, g.j, b.code,
         |    round(
         |      list_sum(list_transform(generate_series(1, 8), i -> rr.r[g.j*8+i] * rr.r[g.j*8+i]))
         |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> rr.r[g.j*8+i] * b.cv[g.j*8+i]))
         |      + list_sum(list_transform(generate_series(1, 8), i -> b.cv[g.j*8+i] * b.cv[g.j*8+i])), 6) AS dist
         |  FROM res rr CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN rbook b),
         |rbest AS (
         |  SELECT vec_id, j, code FROM rsubd
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1),
         |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
         |probe AS (
         |  SELECT cell_id AS cell, cv AS pcv FROM cent, q
         |  ORDER BY round(list_sum(list_transform(generate_series(1, len(cv)), i -> cv[i] * qv[i]))
         |                 / (cnrm * qnrm), 6) DESC, cell_id
         |  LIMIT 4),
         |lut AS (
         |  SELECT p.cell, b.code, g.j,
         |    CAST(round((
         |      list_sum(list_transform(generate_series(1, 8), i -> (qv[g.j*8+i] - p.pcv[g.j*8+i]) * (qv[g.j*8+i] - p.pcv[g.j*8+i])))
         |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> (qv[g.j*8+i] - p.pcv[g.j*8+i]) * b.cv[g.j*8+i]))
         |      + list_sum(list_transform(generate_series(1, 8), i -> b.cv[g.j*8+i] * b.cv[g.j*8+i]))) * 1e6, 0) AS BIGINT) AS dmicro
         |  FROM rbook b CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g
         |       CROSS JOIN probe p CROSS JOIN q),
         |radc AS (
         |  SELECT rb.vec_id, sum(dmicro) / 1e6 AS adc_l2sq
         |  FROM rbest rb
         |  JOIN res rr ON rb.vec_id = rr.vec_id
         |  JOIN probe p ON rr.cell = p.cell
         |  JOIN lut ON lut.cell = rr.cell AND lut.j = rb.j AND lut.code = rb.code
         |  GROUP BY rb.vec_id)""".stripMargin
    val duckIvfPqResidualSql =
      s"""$duckIvfPqResidualPrefix
         |SELECT vec_id, adc_l2sq FROM radc
         |ORDER BY adc_l2sq ASC, vec_id LIMIT 10""".stripMargin
    val duckIvfPqResidualRerankSql =
      s"""$duckIvfPqResidualPrefix,
         |short AS (
         |  SELECT vec_id FROM radc
         |  ORDER BY adc_l2sq ASC, vec_id LIMIT $RerankShortlist)
         |SELECT s.vec_id,
         |  round(list_sum(list_transform(generate_series(1, len(n.v)), i -> n.v[i] * q.qv[i]))
         |        / (n.nrm * q.qnrm), 6) AS cos
         |FROM short s JOIN n ON n.vec_id = s.vec_id, q
         |ORDER BY cos DESC, s.vec_id LIMIT 10""".stripMargin

    Map(
      "dedup_exact" ->
        """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS copies
          |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

      "dedup_normalized" ->
        """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
          |                               '\s+', ' ', 'g'))) AS norm_md5,
          |  min(doc_id) AS keep_id, count(*) AS copies
          |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

      "dedup_minhash_sig" ->
        s"WITH $duckShingleHashes\nSELECT doc_id,\n  $sigCols\nFROM sh ORDER BY doc_id",

      "dedup_minhash_pairs" ->
        s"""WITH $minhashPairCtes
           |SELECT id_a, id_b, jac FROM pairs
           |ORDER BY id_a, id_b""".stripMargin,

      "dedup_containment_pairs" ->
        s"""WITH $minhashPairCtes
           |SELECT id_a, id_b, CAST(o AS BIGINT) AS overlap,
           |  round(o / na, 6) AS cont_a, round(o / nb, 6) AS cont_b
           |FROM ov
           |WHERE greatest(round(o / na, 6), round(o / nb, 6)) >= 0.5
           |ORDER BY id_a, id_b""".stripMargin,

      "dedup_clusters" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
           |        UNION SELECT id_b, id_a FROM pairs),
           |reach(n, m) AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a)
           |SELECT n AS doc_id, least(n, min(m)) AS cluster_id
           |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin,

      "dedup_clusters_incremental" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
           |        UNION SELECT id_b, id_a FROM pairs),
           |reach(n, m) AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a),
           |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
           |       FROM reach GROUP BY n)
           |SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
           |FROM documents d LEFT JOIN cl USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      "corpus_split_leakage_safe" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
           |        UNION SELECT id_b, id_a FROM pairs),
           |reach(n, m) AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a),
           |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
           |       FROM reach GROUP BY n),
           |lab AS (SELECT d.doc_id,
           |    coalesce(cl.cluster_id, d.doc_id) AS cluster_id
           |  FROM documents d LEFT JOIN cl USING (doc_id))
           |SELECT doc_id, cluster_id,
           |  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cd'
           |         THEN 'train'
           |       WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6'
           |         THEN 'val'
           |       ELSE 'test' END AS split
           |FROM lab ORDER BY doc_id""".stripMargin,

      "dedup_simhash" -> s"$duckSimhashSel\nORDER BY doc_id",

      "dedup_simhash_pairs" ->
        s"""WITH simh AS MATERIALIZED ($duckSimhashSel),
           |bands AS (
           |  SELECT doc_id, simhash, band_ix, (simhash >> (band_ix * 8)) & 255 AS band_key
           |  FROM simh, (SELECT unnest(generate_series(0, 3)) AS band_ix)),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |         a.simhash AS sa, b.simhash AS sb
           |  FROM bands a JOIN bands b USING (band_ix, band_key)
           |  WHERE a.doc_id < b.doc_id)
           |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hd
           |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
           |ORDER BY id_a, id_b""".stripMargin,

      "dedup_fuzzy_verify" ->
        s"""WITH $minhashPairCtes
           |SELECT c.id_a, c.id_b,
           |  levenshtein(a.text, b.text) AS edit_dist,
           |  len(a.text) = len(b.text) AS same_len
           |FROM cand c
           |JOIN documents a ON a.doc_id = c.id_a
           |JOIN documents b ON b.doc_id = c.id_b
           |ORDER BY id_a, id_b""".stripMargin,

      "ngram_jaccard_pairs" ->
        s"""WITH t AS (SELECT lang, source, doc_id,
           |             list_distinct(list_transform(list_distinct($duckToks),
           |                                          t -> ${duckH32("t")})) AS toks
           |           FROM documents),
           |ov AS (
           |  SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
           |    len(list_intersect(a.toks, b.toks)) AS o,
           |    len(a.toks) AS na, len(b.toks) AS nb
           |  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
           |                 AND a.doc_id < b.doc_id)
           |SELECT lang, source, id_a, id_b, round(o / (na + nb - o), 6) AS jac
           |FROM ov WHERE jac >= $JaccardThreshold
           |ORDER BY id_a, id_b""".stripMargin,

      "dedup_embed_pairs" ->
        s"""WITH e AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |           FROM embeddings),
          |n AS (SELECT label, vec_id, v,
          |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
          |prm AS (SELECT greatest(${PipelineQueries.SemCellsMin},
          |    count(*) // ${PipelineQueries.SemCellPop}) AS ncells,
          |  CAST(ceil(sqrt(CAST(greatest(${PipelineQueries.SemCellsMin},
          |    count(*) // ${PipelineQueries.SemCellPop}) AS DOUBLE))) AS BIGINT) AS ncoarse
          |  FROM embeddings),
          |co AS (SELECT vec_id AS co_id, v AS gv, nrm AS gnrm FROM n
          |  WHERE vec_id < (SELECT ncoarse FROM prm)),
          |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM n
          |  WHERE vec_id < (SELECT ncells FROM prm)),
          |f2c AS (
          |  SELECT cell_id, cv, cnrm,
          |    CASE WHEN cell_id < (SELECT ncoarse FROM prm) THEN cell_id ELSE co_id END AS co
          |  FROM (
          |    SELECT f.cell_id, f.cv, f.cnrm, c.co_id,
          |      round(list_sum(list_transform(generate_series(1, len(f.cv)), i -> f.cv[i] * c.gv[i]))
          |            / (f.cnrm * c.gnrm), 6) AS gcos
          |    FROM cent f, co c)
          |  QUALIFY row_number() OVER (PARTITION BY cell_id ORDER BY gcos DESC, co_id) = 1),
          |v2c AS (
          |  SELECT vec_id, label, v, nrm, co_id AS co FROM (
          |    SELECT a.vec_id, a.label, a.v, a.nrm, c.co_id,
          |      round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * c.gv[i]))
          |            / (a.nrm * c.gnrm), 6) AS gcos
          |    FROM n a, co c)
          |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY gcos DESC, co_id) = 1),
          |assign AS (
          |  SELECT vec_id, label, v, nrm, cell_id AS cell FROM (
          |    SELECT a.vec_id, a.label, a.v, a.nrm, f.cell_id,
          |      round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * f.cv[i]))
          |            / (a.nrm * f.cnrm), 6) AS fcos
          |    FROM v2c a JOIN f2c f ON a.co = f.co)
          |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY fcos DESC, cell_id) = 1),
          |p AS MATERIALIZED (
          |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
          |    round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
          |          / (a.nrm * b.nrm), 6) AS cos_sim
          |  FROM assign a JOIN assign b
          |    ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id),
          |thr AS (SELECT round(quantile_cont(cos_sim, 0.99), 6) AS t FROM p)
          |SELECT label, id_a, id_b, cos_sim FROM p, thr
          |WHERE cos_sim >= t
          |ORDER BY id_a, id_b""".stripMargin,

      "sim_ivf_topk" ->
        s"""WITH $duckIvfAssign,
          |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
          |probe AS (
          |  SELECT cell_id AS cell FROM cent, q
          |  ORDER BY round(list_sum(list_transform(generate_series(1, len(cv)), i -> cv[i] * qv[i]))
          |                 / (cnrm * qnrm), 6) DESC, cell_id
          |  LIMIT 4)
          |SELECT a.vec_id,
          |  round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * qv[i]))
          |        / (a.nrm * qnrm), 6) AS cos_sim
          |FROM assign a JOIN probe USING (cell), q
          |ORDER BY cos_sim DESC, a.vec_id LIMIT 10""".stripMargin,

      "embed_outlier_flags" ->
        s"""WITH $duckIvfAssign,
           |cd AS (SELECT vec_id, cell_id AS cell, 1 - ccos AS cdist
           |  FROM scored),
           |best AS (SELECT vec_id, cell, cdist FROM cd
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY cdist, cell) = 1),
           |thr AS (SELECT cell, round(quantile_cont(cdist, 0.95), 6)
           |    AS p95_cell, CAST(count(*) AS BIGINT) AS n_cell
           |  FROM best GROUP BY 1)
           |SELECT vec_id, cell, cdist, p95_cell
           |FROM best JOIN thr USING (cell)
           |WHERE cdist > p95_cell ORDER BY vec_id""".stripMargin,

      "cluster_topics" ->
        s"""WITH $duckIvfAssign,
           |ctk AS (SELECT a.cell, t.token FROM
           |    (SELECT doc_id, unnest($duckToks) AS token FROM documents) t
           |  JOIN assign a ON a.vec_id = t.doc_id),
           |ct AS (SELECT cell, token, CAST(count(*) AS BIGINT) AS cnt
           |  FROM ctk GROUP BY 1, 2),
           |cellt AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS cell_tot
           |  FROM ct GROUP BY 1),
           |tokt AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS corp_cnt
           |  FROM ct GROUP BY 1),
           |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM ct),
           |sc AS (SELECT ct.cell, ct.token, ct.cnt,
           |    (ct.cnt * 1000000 // cell_tot) * 1000000
           |      // (corp_cnt * 1000000 // tot) AS lift_micro
           |  FROM ct JOIN cellt USING (cell) JOIN tokt USING (token), tt
           |  WHERE ct.cnt >= $ClusterTopicMinCount),
           |rk AS (SELECT cell, token, cnt, lift_micro,
           |    row_number() OVER (PARTITION BY cell
           |      ORDER BY lift_micro DESC, token) AS rnk
           |  FROM sc)
           |SELECT cell, CAST(rnk AS INT) AS rnk, token, cnt, lift_micro
           |FROM rk WHERE rnk <= 3 ORDER BY cell, rnk""".stripMargin,

      "sim_ann_pairs" ->
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |           FROM embeddings),
           |s AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
           |  concat_ws('', list_transform(generate_series(0, 7), pl ->
           |    CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
           |      v[i] * ((('0x' || substr(md5(pl::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8))::BIGINT
           |              / 2147483648.0) - 1.0))) >= 0 THEN '1' ELSE '0' END)) AS bucket
           |  FROM e)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
           |        / (a.nrm * b.nrm), 6) AS cos_sim
           |FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |WHERE cos_sim >= $AnnMinCos
           |ORDER BY id_a, id_b""".stripMargin,

      "sim_pq_codes" ->
        s"""WITH $duckPq
           |SELECT vec_id, array_to_string(list(code ORDER BY j), ',') AS codes
           |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin,

      "sim_pq_adc_topk" ->
        s"""WITH $duckPq,
           |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
           |lut AS (
           |  SELECT b.code, g.j,
           |    CAST(round((
           |      list_sum(list_transform(generate_series(1, 8), i -> qv[g.j*8+i] * qv[g.j*8+i]))
           |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> qv[g.j*8+i] * b.cv[g.j*8+i]))
           |      + list_sum(list_transform(generate_series(1, 8), i -> b.cv[g.j*8+i] * b.cv[g.j*8+i]))) * 1e6, 0) AS BIGINT) AS dmicro
           |  FROM book b CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN q)
           |SELECT best.vec_id, sum(dmicro) / 1e6 AS adc_l2sq
           |FROM best JOIN lut USING (j, code)
           |GROUP BY best.vec_id ORDER BY adc_l2sq ASC, best.vec_id LIMIT 10""".stripMargin,

      "sim_ivfpq_topk" ->
        s"""WITH $duckIvfAssign,
           |$duckPqCore,
           |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
           |probe AS (
           |  SELECT cell_id AS cell FROM cent, q
           |  ORDER BY round(list_sum(list_transform(generate_series(1, len(cv)), i -> cv[i] * qv[i]))
           |                 / (cnrm * qnrm), 6) DESC, cell_id
           |  LIMIT 4),
           |lut AS (
           |  SELECT b.code, g.j,
           |    CAST(round((
           |      list_sum(list_transform(generate_series(1, 8), i -> qv[g.j*8+i] * qv[g.j*8+i]))
           |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> qv[g.j*8+i] * b.cv[g.j*8+i]))
           |      + list_sum(list_transform(generate_series(1, 8), i -> b.cv[g.j*8+i] * b.cv[g.j*8+i]))) * 1e6, 0) AS BIGINT) AS dmicro
           |  FROM book b CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN q)
           |SELECT b.vec_id, sum(dmicro) / 1e6 AS adc_l2sq
           |FROM best b
           |JOIN assign a ON b.vec_id = a.vec_id
           |JOIN probe p ON a.cell = p.cell
           |JOIN lut USING (j, code)
           |GROUP BY b.vec_id ORDER BY adc_l2sq ASC, b.vec_id LIMIT 10""".stripMargin,

      "sim_ivfpq_residual_topk" -> duckIvfPqResidualSql,
      "sim_ivfpq_residual_from_index" -> duckIvfPqResidualSql,
      "sim_ivfpq_residual_rerank" -> duckIvfPqResidualRerankSql,

      "sim_pq_recon_error" ->
        s"""WITH $duckIvfAssign,
           |$duckPqCore,
           |bestd AS (
           |  SELECT vec_id, j, code FROM subd
           |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1),
           |perr AS (
           |  SELECT b.vec_id,
           |    sum(CAST(round((
           |      list_sum(list_transform(generate_series(1, 8), i -> e.v[b.j*8+i] * e.v[b.j*8+i]))
           |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> e.v[b.j*8+i] * bk.cv[b.j*8+i]))
           |      + list_sum(list_transform(generate_series(1, 8), i -> bk.cv[b.j*8+i] * bk.cv[b.j*8+i]))) * 1e6, 0) AS BIGINT)) AS err_micro
           |  FROM bestd b JOIN e USING (vec_id) JOIN book bk ON bk.code = b.code
           |  GROUP BY b.vec_id)
           |SELECT a.cell, count(*) AS n_vecs,
           |  round(sum(err_micro) / count(*) / 1e6, 6) AS avg_err
           |FROM perr JOIN assign a USING (vec_id)
           |GROUP BY a.cell ORDER BY cell""".stripMargin,

      "sim_pq_train_centroids" ->
        s"""WITH $duckPq,
           |x AS (
           |  SELECT b.j, b.code, g.d, e.v[b.j*8 + g.d] AS val
           |  FROM best b JOIN e USING (vec_id)
           |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS d) g)
           |SELECT j, code, d - 1 AS dim, round(avg(val), 6) + 0.0 AS centroid
           |FROM x GROUP BY j, code, d ORDER BY j, code, dim""".stripMargin,

      "sim_kmeans_centroids" ->
        s"""WITH $duckIvfAssign,
           |x AS (SELECT cell, unnest(generate_series(1, len(v))) AS d, unnest(v) AS val
           |      FROM assign)
           |SELECT cell, d - 1 AS dim, round(avg(val), 6) + 0.0 AS centroid
           |FROM x GROUP BY cell, d ORDER BY cell, dim""".stripMargin,

      "sim_pq_codes_trained" ->
        s"""WITH $duckE,
           |${duckPqTrainedChain(PqTrainIters)}
           |SELECT vec_id, array_to_string(list(code ORDER BY j), ',') AS codes
           |FROM bestT GROUP BY vec_id ORDER BY vec_id""".stripMargin,

      "sim_pq_recon_error_trained" ->
        s"""WITH $duckEN,
           |${duckIvfTrainedChain(PqTrainIters)},
           |${duckPqTrainedChain(PqTrainIters)},
           |perr AS (
           |  SELECT b.vec_id,
           |    sum(CAST(round((
           |      list_sum(list_transform(generate_series(1, 8), i -> e.v[b.j*8+i] * e.v[b.j*8+i]))
           |      - 2 * list_sum(list_transform(generate_series(1, 8), i -> e.v[b.j*8+i] * bk.cv[b.j*8+i]))
           |      + list_sum(list_transform(generate_series(1, 8), i -> bk.cv[b.j*8+i] * bk.cv[b.j*8+i]))) * 1e6, 0) AS BIGINT)) AS err_micro
           |  FROM bestT b JOIN e USING (vec_id) JOIN bookT bk ON bk.code = b.code
           |  GROUP BY b.vec_id)
           |SELECT a.cell, count(*) AS n_vecs,
           |  round(sum(err_micro) / count(*) / 1e6, 6) AS avg_err
           |FROM perr JOIN assignT a USING (vec_id)
           |GROUP BY a.cell ORDER BY cell""".stripMargin,

      "sim_ivfpq_topk_trained" -> duckIvfPqTrainedSql,

      "sim_ivfpq_rerank" -> duckIvfPqRerankSql,

      "embed_pca_component" ->
        s"""WITH $duckE,
           |${duckPcaChain(Pca.PowerIters)}
           |SELECT d - 1 AS dim, round(ml[d], 6) AS mu, round(vl[d], 6) AS loading
           |FROM mu, v${Pca.PowerIters}, dg ORDER BY dim""".stripMargin,

      "embed_pca_project" ->
        s"""WITH $duckE,
           |${duckPcaChain(Pca.PowerIters)}
           |SELECT vec_id,
           |  round(list_sum(list_transform(generate_series(1, 64), i -> (v[i] - ml[i]) * vl[i])), 6) AS pc1
           |FROM e, mu, v${Pca.PowerIters} ORDER BY vec_id""".stripMargin,

      "embed_pca_top4" -> {
        val body = (0 until 4).map(c =>
          s"""SELECT $c AS comp, CAST(d - 1 AS BIGINT) AS dim, round(vl[d], 6) AS loading
             |  FROM pc${c}v$PcaDeflateIters, dg""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH $duckE,
           |${duckPcaDeflateChain(4, PcaDeflateIters)}
           |$body
           |ORDER BY comp, dim""".stripMargin
      },

      "embed_pca_reduce" -> {
        val body = (0 until 4).map(c =>
          s"""SELECT vec_id, $c AS comp, round(p, 6) AS coord
             |  FROM (SELECT vec_id,
             |          list_sum(list_transform(generate_series(1, 64), i -> xc[i] * vl[i])) AS p
             |        FROM e$c, pc${c}v$PcaDeflateIters)""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH $duckE,
           |${duckPcaDeflateChain(4, PcaDeflateIters)}
           |$body
           |ORDER BY vec_id, comp""".stripMargin
      },

      "sim_ivfpq_from_index" -> duckIvfPqTrainedSql,

      "bpe_train_merges" -> {
        val steps = (1 to BpeSteps).map(t =>
          s"SELECT $t AS step, s1 AS l_sym, s2 AS r_sym, ms AS merged, cnt AS pair_count FROM m$t")
        s"""WITH ${duckBpeChain(BpeSteps)}
           |SELECT * FROM (${steps.mkString("\n UNION ALL ")})
           |ORDER BY step""".stripMargin
      },

      "bpe_vocab" -> {
        // Spark folds the merge list over a fresh wordVocab; that fold
        // IS training's final state, so the mirror reads w$BpeSteps.
        s"""WITH ${duckBpeChain(BpeSteps)},
           |syms AS (SELECT unnest(string_split(trim(seg), '  ')) AS symbol, freq FROM w$BpeSteps),
           |agg AS (SELECT symbol, CAST(sum(freq) AS BIGINT) AS n_occurrences
           |        FROM syms GROUP BY symbol)
           |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, symbol) - 1 AS INT) AS token_id,
           |  symbol, n_occurrences
           |FROM agg ORDER BY n_occurrences DESC, symbol""".stripMargin
      },

      "wordpiece_encode" -> {
        // Greedy longest-match replay: one recursive CTE walks each
        // DISTINCT word left to right, the lateral probe picking the
        // longest vocab symbol matching the remaining prefix (no match →
        // the whole word collapses to '<unk>' and the walk ends).
        s"""WITH RECURSIVE ${duckBpeChain(BpeSteps)},
           |syms0 AS (SELECT unnest(string_split(trim(seg), '  ')) AS symbol FROM w$BpeSteps),
           |vocabx AS (SELECT DISTINCT symbol FROM syms0),
           |docwords AS (
           |  SELECT doc_id, wpos, word FROM (
           |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word,
           |           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS wpos
           |    FROM documents) WHERE word <> ''),
           |wordsx AS (SELECT DISTINCT word FROM docwords),
           |gseg AS (
           |  SELECT word, 0 AS pos, '' AS outp, 0 AS np FROM wordsx
           |  UNION ALL
           |  SELECT s.word,
           |    CASE WHEN m.sym IS NULL THEN len(s.word) ELSE s.pos + len(m.sym) END,
           |    CASE WHEN m.sym IS NULL THEN '<unk>'
           |         WHEN s.outp = '' THEN m.sym ELSE s.outp || ' ' || m.sym END,
           |    CASE WHEN m.sym IS NULL THEN 1 ELSE s.np + 1 END
           |  FROM gseg s LEFT JOIN LATERAL (
           |    SELECT symbol AS sym FROM vocabx
           |    WHERE symbol = substr(s.word, s.pos + 1, len(symbol))
           |    ORDER BY len(symbol) DESC LIMIT 1) m ON TRUE
           |  WHERE s.pos < len(s.word)),
           |wp AS (SELECT word, outp, np FROM gseg WHERE pos >= len(word))
           |SELECT d.doc_id,
           |  CAST(sum(w.np) AS BIGINT) AS n_pieces,
           |  CAST(sum(CASE WHEN w.outp = '<unk>' THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words,
           |  string_agg(w.outp, ' ' ORDER BY d.wpos) AS pieces
           |FROM docwords d JOIN wp w USING (word)
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
      },

      "bpe_tokenize" -> {
        var segExpr =
          "' ' || array_to_string(list_transform(generate_series(1, len(word)), i -> word[i]), '  ') || ' '"
        for (t <- 1 to BpeSteps)
          segExpr = s"replace($segExpr, ' ' || m$t.s1 || '  ' || m$t.s2 || ' ', ' ' || m$t.ms || ' ')"
        s"""WITH ${duckBpeChain(BpeSteps)},
           |syms0 AS (SELECT unnest(string_split(trim(seg), '  ')) AS symbol, freq FROM w$BpeSteps),
           |vag AS (SELECT symbol, sum(freq) AS n FROM syms0 GROUP BY symbol),
           |vid AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, symbol) - 1 AS INT) AS token_id, symbol FROM vag),
           |dt AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents),
           |dw AS (SELECT doc_id, wpos, ws[wpos] AS word
           |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS wpos FROM dt)
           |       WHERE ws[wpos] <> ''),
           |enc AS (SELECT doc_id, wpos, $segExpr AS seg
           |        FROM dw, ${(1 to BpeSteps).map("m" + _).mkString(", ")}),
           |sy AS (SELECT doc_id, wpos, spos, a[spos] AS symbol
           |       FROM (SELECT doc_id, wpos, a, unnest(generate_series(1, len(a))) AS spos
           |             FROM (SELECT doc_id, wpos, string_split(trim(seg), '  ') AS a FROM enc)))
           |SELECT doc_id, array_to_string(list(v.token_id ORDER BY sy.wpos, sy.spos), ',') AS token_ids
           |FROM sy JOIN vid v USING (symbol)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },

      "bpe_encode" -> {
        var segExpr =
          "' ' || array_to_string(list_transform(generate_series(1, len(word)), i -> word[i]), '  ') || ' '"
        for (t <- 1 to BpeSteps)
          segExpr = s"replace($segExpr, ' ' || m$t.s1 || '  ' || m$t.s2 || ' ', ' ' || m$t.ms || ' ')"
        s"""WITH ${duckBpeChain(BpeSteps)},
           |d0 AS (SELECT doc_id, word
           |       FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents)
           |       WHERE word <> ''),
           |enc AS (SELECT doc_id, $segExpr AS seg
           |        FROM d0, ${(1 to BpeSteps).map("m" + _).mkString(", ")})
           |SELECT doc_id, CAST(sum(len(string_split(trim(seg), '  '))) AS BIGINT) AS n_bpe_tokens
           |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },

      "bpe_fertility" -> {
        var segExpr =
          "' ' || array_to_string(list_transform(generate_series(1, len(word)), i -> word[i]), '  ') || ' '"
        for (t <- 1 to BpeSteps)
          segExpr = s"replace($segExpr, ' ' || m$t.s1 || '  ' || m$t.s2 || ' ', ' ' || m$t.ms || ' ')"
        s"""WITH ${duckBpeChain(BpeSteps)},
           |d0 AS (SELECT doc_id, word
           |       FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents)
           |       WHERE word <> ''),
           |enc AS (SELECT doc_id, $segExpr AS seg
           |        FROM d0, ${(1 to BpeSteps).map("m" + _).mkString(", ")}),
           |tokc AS (SELECT doc_id, CAST(sum(len(string_split(trim(seg), '  '))) AS BIGINT) AS n_bpe_tokens
           |         FROM enc GROUP BY doc_id),
           |meta AS (SELECT doc_id, lang,
           |    CAST(len($duckToks) AS BIGINT) AS nw,
           |    CAST(list_sum(list_transform($duckToks, t -> len(t))) AS BIGINT) AS nc
           |  FROM documents)
           |SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
           |  CAST(sum(nc) AS BIGINT) AS n_chars,
           |  CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           |  round(CAST(sum(n_bpe_tokens) AS DOUBLE) / sum(nw), 6) AS fertility,
           |  round(CAST(sum(nc) AS DOUBLE) / sum(n_bpe_tokens), 6) AS chars_per_token
           |FROM tokc JOIN meta USING (doc_id)
           |GROUP BY lang ORDER BY lang""".stripMargin
      },

      "sim_topk_cosine" ->
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |           FROM embeddings),
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          |d AS (SELECT vec_id,
          |        list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) AS dvq,
          |        list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * v[i])) AS dvv,
          |        list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS dqq
          |      FROM e, q)
          |SELECT vec_id, round(dvq / (sqrt(dvv) * sqrt(dqq)), 6) AS cos_sim
          |FROM d ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

      "sim_vector_norms" ->
        """SELECT vec_id,
          |  round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
          |FROM embeddings ORDER BY vec_id""".stripMargin,

      "sample_stratified" ->
        s"""SELECT lang, doc_id, rn FROM (
           |  SELECT lang, doc_id,
           |    row_number() OVER (PARTITION BY lang
           |      ORDER BY ${duckH32("doc_id::VARCHAR")}, doc_id) AS rn
           |  FROM documents)
           |WHERE rn <= 50 ORDER BY lang, doc_id""".stripMargin,

      "sample_weighted_priority" ->
        s"""SELECT lang, rk, doc_id, n_chars, priority FROM (
           |  SELECT lang, doc_id, n_chars,
           |    round(ln((${duckH32("doc_id::VARCHAR")} + 1.0) / 4294967297.0)
           |          / greatest(n_chars, 1), 9) AS priority,
           |    row_number() OVER (PARTITION BY lang
           |      ORDER BY round(ln((${duckH32("doc_id::VARCHAR")} + 1.0) / 4294967297.0)
           |                     / greatest(n_chars, 1), 9) DESC, doc_id) AS rk
           |  FROM documents)
           |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

      "quantile_bucket_tokens" ->
        s"""WITH nt AS (SELECT doc_id, len($duckToks) AS n_tokens FROM documents),
           |q AS (SELECT list_transform(
           |        quantile_cont(n_tokens, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           |        x -> CAST(round(x * 100, 0) AS BIGINT)) AS qx FROM nt)
           |SELECT doc_id, n_tokens,
           |  len(list_filter(qx, b -> n_tokens * 100 >= b)) AS decile
           |FROM nt, q ORDER BY doc_id""".stripMargin,

      "decontaminate_ngrams" ->
        s"""WITH sh AS MATERIALIZED (
           |  SELECT doc_id, unnest(
           |    CASE WHEN len(th) < ${Dedup.ShingleN} THEN th
           |    ELSE list_transform(generate_series(1, len(th) - ${Dedup.ShingleN - 1}),
           |      i -> ((((th[i] * ${Dedup.ShingleA} + th[i+1]) % ${Dedup.MinhashP})
           |            * ${Dedup.ShingleA} + th[i+2]) % ${Dedup.MinhashP})) END) AS h
           |  FROM (SELECT doc_id, list_transform($duckToks, tk -> ${duckH32("tk")}) AS th
           |        FROM documents)),
           |holdout AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0)
           |SELECT doc_id, count(DISTINCT h) AS n_shared_ngrams
           |FROM sh
           |WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM holdout)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "contamination_ratio" ->
        s"""WITH sh AS MATERIALIZED (
           |  SELECT doc_id, unnest(
           |    CASE WHEN len(th) < ${Dedup.ShingleN} THEN th
           |    ELSE list_transform(generate_series(1, len(th) - ${Dedup.ShingleN - 1}),
           |      i -> ((((th[i] * ${Dedup.ShingleA} + th[i+1]) % ${Dedup.MinhashP})
           |            * ${Dedup.ShingleA} + th[i+2]) % ${Dedup.MinhashP})) END) AS h
           |  FROM (SELECT doc_id, list_transform($duckToks, tk -> ${duckH32("tk")}) AS th
           |        FROM documents)),
           |holdout AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
           |tot AS (SELECT doc_id, count(DISTINCT h) AS n_total
           |        FROM sh WHERE doc_id % 97 <> 0 GROUP BY doc_id),
           |shared AS (SELECT doc_id, count(DISTINCT h) AS n_shared
           |           FROM sh WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM holdout)
           |           GROUP BY doc_id)
           |SELECT t.doc_id, n_total, coalesce(n_shared, 0) AS n_shared,
           |  round(coalesce(n_shared, 0) / n_total, 6) AS contamination
           |FROM tot t LEFT JOIN shared s ON t.doc_id = s.doc_id
           |ORDER BY t.doc_id""".stripMargin,

      // Bit-identical to decontaminate_ngrams by construction (the Bloom
      // sketch only PRE-filters; the exact semi-join decides) — so the
      // oracle is the exact spelling itself.
      "decontaminate_bloom" ->
        s"""WITH sh AS MATERIALIZED (
           |  SELECT doc_id, unnest(
           |    CASE WHEN len(th) < ${Dedup.ShingleN} THEN th
           |    ELSE list_transform(generate_series(1, len(th) - ${Dedup.ShingleN - 1}),
           |      i -> ((((th[i] * ${Dedup.ShingleA} + th[i+1]) % ${Dedup.MinhashP})
           |            * ${Dedup.ShingleA} + th[i+2]) % ${Dedup.MinhashP})) END) AS h
           |  FROM (SELECT doc_id, list_transform($duckToks, tk -> ${duckH32("tk")}) AS th
           |        FROM documents)),
           |holdout AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0)
           |SELECT doc_id, count(DISTINCT h) AS n_shared_ngrams
           |FROM sh
           |WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM holdout)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "distinct_users_daily" ->
        """SELECT epoch_ms(ts) // 86400000 AS day, count(DISTINCT user_id) AS n_users
          |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

      // CMS estimates are exact here (5 distinct types ≪ 2000-counter
      // width, fixed seed ⇒ deterministic zero-collision structure), so
      // the oracle is the plain exact count.
      "cms_type_counts" ->
        """SELECT event_type AS item, count(*) AS est_count
          |FROM events GROUP BY 1 ORDER BY item""".stripMargin,

      "user_type_overlap" ->
        """SELECT count(*) AS n_union,
          |  sum(CASE WHEN c = 1 AND v = 1 THEN 1 ELSE 0 END)::BIGINT AS n_intersect,
          |  sum(CASE WHEN c = 1 AND v = 0 THEN 1 ELSE 0 END)::BIGINT AS n_click_only
          |FROM (
          |  SELECT user_id,
          |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
          |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v
          |  FROM events WHERE event_type IN ('click', 'view')
          |  GROUP BY user_id)""".stripMargin,

      "frequent_users_topk" ->
        """SELECT user_id, count(*) AS n_events FROM events
          |GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin,

      "pack_sequences" ->
        s"""SELECT lang, source, doc_id, n_tokens,
           |  CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS seq_id,
           |  CAST((cum - n_tokens) % $PackBudget AS BIGINT) AS seq_offset
           |FROM (
           |  SELECT lang, source, doc_id, n_tokens,
           |    sum(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
           |                        ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM (SELECT lang, source, doc_id,
           |          CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents))
           |ORDER BY doc_id""".stripMargin,

      "pack_provenance" ->
        s"""WITH base AS (
           |  SELECT lang, source, doc_id,
           |    CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents),
           |c AS (
           |  SELECT lang, source, doc_id, n_tokens,
           |    CAST(sum(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
           |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
           |  FROM base),
           |sp AS (
           |  SELECT lang, source, doc_id, e - n_tokens AS st, e,
           |    unnest(generate_series((e - n_tokens) // $PackBudget, (e - 1) // $PackBudget))
           |      AS seq_id
           |  FROM c WHERE n_tokens > 0),
           |tok AS (
           |  SELECT lang, source, seq_id, doc_id,
           |    least(e, (seq_id + 1) * $PackBudget) - greatest(st, seq_id * $PackBudget)
           |      AS tok_in_seq
           |  FROM sp)
           |SELECT lang, source, CAST(seq_id AS BIGINT) AS seq_id,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(tok_in_seq) AS BIGINT) AS n_tokens,
           |  md5(string_agg(doc_id || ':' || tok_in_seq, ',' ORDER BY doc_id))
           |    AS lineage
           |FROM tok GROUP BY 1, 2, 3
           |ORDER BY lang, source, seq_id""".stripMargin,

      "boilerplate_ngrams" ->
        s"""WITH $duckShingleHashes,
           |shx AS (SELECT doc_id, unnest(t) AS h FROM sh),
           |boiler AS (SELECT h FROM shx GROUP BY h HAVING count(*) >= 3),
           |per AS (SELECT doc_id, count(*) AS n_shingles FROM shx GROUP BY doc_id),
           |nb AS (SELECT doc_id, count(*) AS n_boiler FROM shx
           |       WHERE h IN (SELECT h FROM boiler) GROUP BY doc_id)
           |SELECT p.doc_id, p.n_shingles,
           |  coalesce(nb.n_boiler, 0) AS n_boiler,
           |  round(coalesce(nb.n_boiler, 0) / p.n_shingles, 6) AS boiler_ratio
           |FROM per p LEFT JOIN nb USING (doc_id) ORDER BY doc_id""".stripMargin,

      "text_stats" ->
        s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents)
           |SELECT doc_id, len(toks) AS n_tokens, len(text) AS n_chars_calc,
           |  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
           |  len(list_filter(toks, x -> list_contains(${TextOps.stopwords.map(w => s"'$w'").mkString("[", ",", "]")}, x))) AS n_stopwords,
           |  round(list_sum(list_transform(toks, x -> len(x))) / len(toks), 6) AS avg_token_len
           |FROM t ORDER BY doc_id""".stripMargin,

      "text_quality_score" ->
        s"""WITH $duckQualityCtes
           |SELECT doc_id, quality FROM quality ORDER BY doc_id""".stripMargin,

      "budget_cut_per_source" ->
        s"""WITH $duckQualityCtes,
           |bnt AS (SELECT d.doc_id, d.source,
           |    CAST(len($duckToks) AS BIGINT) AS nt, q.quality
           |  FROM documents d JOIN quality q USING (doc_id)),
           |bc AS (SELECT source, nt,
           |    CAST(sum(nt) OVER (PARTITION BY source) AS BIGINT)
           |      * $BudgetNum // $BudgetDen AS budget,
           |    CAST(sum(nt) OVER (PARTITION BY source
           |      ORDER BY quality DESC, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cum
           |  FROM bnt)
           |SELECT source, max(budget) AS budget_tokens,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_kept,
           |  CAST(sum(CASE WHEN cum <= budget THEN nt ELSE 0 END) AS BIGINT)
           |    AS tokens_kept
           |FROM bc GROUP BY source ORDER BY source""".stripMargin,

      "preference_pairs" ->
        s"""WITH $duckQualityCtes,
           |qd AS (SELECT q.doc_id, q.quality, d.source, d.lang
           |       FROM quality q JOIN documents d USING (doc_id)),
           |rk AS (SELECT *,
           |  row_number() OVER (PARTITION BY source, lang
           |                     ORDER BY quality DESC, doc_id) AS rc,
           |  row_number() OVER (PARTITION BY source, lang
           |                     ORDER BY quality ASC, doc_id DESC) AS rr,
           |  count(*) OVER (PARTITION BY source, lang) AS n
           |  FROM qd)
           |SELECT source, lang,
           |  max(CASE WHEN rc = 1 THEN doc_id END) AS chosen_id,
           |  max(CASE WHEN rr = 1 THEN doc_id END) AS rejected_id,
           |  round(max(CASE WHEN rc = 1 THEN quality END)
           |        - max(CASE WHEN rr = 1 THEN quality END), 6) AS margin
           |FROM rk WHERE (rc = 1 OR rr = 1) AND n >= 2
           |GROUP BY source, lang
           |ORDER BY source, lang""".stripMargin,

      "dedup_survivors" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
           |        UNION SELECT id_b, id_a FROM pairs),
           |reach(n, m) AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a),
           |clusters AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
           |             FROM reach GROUP BY n),
           |$duckQualityCtes
           |SELECT cluster_id, doc_id AS keep_id, quality FROM (
           |  SELECT c.cluster_id, c.doc_id, q.quality,
           |    row_number() OVER (PARTITION BY c.cluster_id
           |      ORDER BY q.quality DESC, c.doc_id) AS rk
           |  FROM clusters c JOIN quality q USING (doc_id))
           |WHERE rk = 1 ORDER BY cluster_id""".stripMargin,

      "pipeline_training_corpus" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
           |        UNION SELECT id_b, id_a FROM pairs),
           |reach(n, m) AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a),
           |clusters AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
           |             FROM reach GROUP BY n),
           |$duckQualityCtes,
           |losers AS (SELECT doc_id FROM (
           |  SELECT c.doc_id,
           |    row_number() OVER (PARTITION BY c.cluster_id
           |      ORDER BY q.quality DESC, c.doc_id) AS rk
           |  FROM clusters c JOIN quality q USING (doc_id)) WHERE rk > 1),
           |shx AS (SELECT doc_id, unnest(t) AS h FROM sh),
           |holdout AS (SELECT DISTINCT h FROM shx WHERE doc_id % 97 = 0),
           |contaminated AS (SELECT DISTINCT doc_id FROM shx
           |  WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM holdout)),
           |keep AS (
           |  SELECT d.lang, len($duckToks) AS n_tokens, q.quality
           |  FROM documents d JOIN quality q USING (doc_id)
           |  WHERE d.doc_id % 97 <> 0
           |    AND d.doc_id NOT IN (SELECT doc_id FROM losers)
           |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
           |    AND q.quality >= 0.3)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           |  ${graft.ops.Metrics.meanExactScaledSql("quality", 1000000L)} AS avg_quality
           |FROM keep GROUP BY lang ORDER BY lang""".stripMargin,

      // Corpus-prep v2: the composite replays each gate's SHARED fragment
      // (duckGopherCtes / duckLmNllCtes / the plant CASEs) on top of the
      // v1 dedup+decontamination chain, then the corpus_mix_alpha
      // spelling over the survivors.
      "pipeline_training_corpus_v2" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
           |        UNION SELECT id_b, id_a FROM pairs),
           |reach(n, m) AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a),
           |clusters AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
           |             FROM reach GROUP BY n),
           |$duckQualityCtes,
           |losers AS (SELECT doc_id FROM (
           |  SELECT c.doc_id,
           |    row_number() OVER (PARTITION BY c.cluster_id
           |      ORDER BY q.quality DESC, c.doc_id) AS rk
           |  FROM clusters c JOIN quality q USING (doc_id)) WHERE rk > 1),
           |shx AS (SELECT doc_id, unnest(t) AS h FROM sh),
           |holdout AS (SELECT DISTINCT h FROM shx WHERE doc_id % 97 = 0),
           |ctot AS (SELECT doc_id, len(t) AS n_total FROM sh
           |  WHERE doc_id % 97 <> 0),
           |contaminated AS (SELECT s.doc_id FROM
           |    (SELECT doc_id, count(*) AS n_shared FROM shx
           |     WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM holdout)
           |     GROUP BY doc_id) s
           |  JOIN ctot ON ctot.doc_id = s.doc_id
           |  WHERE s.n_shared * $ContamFracDiv > ctot.n_total),
           |${CorpusQueries.duckGopherCtes},
           |${CorpusQueries.duckLmNllCtes},
           |pplr AS (SELECT lmsc.doc_id,
           |    (row_number() OVER (PARTITION BY d.lang
           |       ORDER BY lmsc.nll, lmsc.doc_id) * 5
           |     <= count(*) OVER (PARTITION BY d.lang) * 4) AS keep
           |  FROM lmsc JOIN documents d ON d.doc_id = lmsc.doc_id),
           |mj AS (SELECT doc_id FROM
           |    (SELECT doc_id, ${CorpusQueries.duckMojiPlantCase} AS text
           |     FROM documents)
           |  WHERE len(regexp_extract_all(text, '${CorpusQueries.MojiReplPat}'))
           |      + len(regexp_extract_all(text, '${CorpusQueries.MojiC1Pat}'))
           |      + len(regexp_extract_all(text, '${CorpusQueries.MojiLatin1Pat}')) = 0),
           |ur AS (SELECT doc_id,
           |    unnest(regexp_extract_all(text, 'https?://([a-z0-9.-]+)', 1)) AS domain
           |  FROM (SELECT doc_id, ${CorpusQueries.duckUrlPlantCase} AS text
           |        FROM documents)),
           |hot AS (SELECT domain FROM ur GROUP BY domain
           |  HAVING count(DISTINCT doc_id) >
           |    (SELECT count(*) // $UrlDomainCapDiv FROM documents)),
           |urldrop AS (SELECT DISTINCT doc_id FROM ur
           |  WHERE domain IN (SELECT domain FROM hot)),
           |keepd AS (
           |  SELECT d.source, len($duckToks) AS n_tokens
           |  FROM documents d
           |  JOIN gop ON gop.doc_id = d.doc_id
           |  JOIN pplr ON pplr.doc_id = d.doc_id
           |  WHERE d.doc_id % 97 <> 0 AND gop.keep AND pplr.keep
           |    AND d.doc_id IN (SELECT doc_id FROM mj)
           |    AND d.doc_id NOT IN (SELECT doc_id FROM urldrop)
           |    AND d.doc_id NOT IN (SELECT doc_id FROM losers)
           |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
           |gmix AS (SELECT source, count(*) AS n_docs,
           |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
           |  FROM keepd GROUP BY source),
           |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM gmix),
           |smx AS (SELECT source, n_docs, n_tokens,
           |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / t) * 1000000000)
           |      AS BIGINT) AS qn
           |  FROM gmix, tot),
           |zn AS (SELECT CAST(sum(qn) AS BIGINT) AS z FROM smx)
           |SELECT source, n_docs, n_tokens,
           |  round(CAST(n_tokens AS DOUBLE) / t, 6) AS p_raw,
           |  round(CAST(qn AS DOUBLE) / z, 6) AS p_alpha,
           |  round((CAST(qn AS DOUBLE) / z) / (CAST(n_tokens AS DOUBLE) / t), 6)
           |    AS oversample,
           |  (n_tokens + ${PackBudget - 1}) // $PackBudget AS n_packs
           |FROM smx, tot, zn ORDER BY source""".stripMargin,

      "text_entropy" ->
        s"""WITH tf AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
           |c AS (SELECT doc_id, term, count(*) AS cnt FROM tf GROUP BY 1, 2),
           |a AS (SELECT doc_id, sum(cnt) AS n, sum(cnt * ln(cnt)) AS sl FROM c GROUP BY 1)
           |SELECT doc_id, round(ln(CAST(n AS DOUBLE)) - sl / CAST(n AS DOUBLE), 6) AS entropy
           |FROM a ORDER BY doc_id""".stripMargin,

      "text_repetition" ->
        s"""WITH r AS (SELECT doc_id,
           |  CASE WHEN len(th) < ${Dedup.ShingleN} THEN th
           |  ELSE list_transform(generate_series(1, len(th) - ${Dedup.ShingleN - 1}),
           |    i -> ((((th[i] * ${Dedup.ShingleA} + th[i+1]) % ${Dedup.MinhashP})
           |          * ${Dedup.ShingleA} + th[i+2]) % ${Dedup.MinhashP})) END AS sh
           |  FROM (SELECT doc_id, list_transform($duckToks, tk -> ${duckH32("tk")}) AS th
           |        FROM documents))
           |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
           |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
           |  round(1.0 - len(list_distinct(sh)) / len(sh), 6) AS dup_ratio
           |FROM r ORDER BY doc_id""".stripMargin,

      "zipf_token_freq" ->
        s"""WITH tc AS (SELECT term, count(*) AS n
           |            FROM (SELECT unnest($duckToks) AS term FROM documents) GROUP BY 1),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM tc),
           |top AS (SELECT term, n FROM tc ORDER BY n DESC, term LIMIT 30)
           |SELECT row_number() OVER (ORDER BY n DESC, term) AS rk, term, n,
           |  round(n / tot, 6) AS freq
           |FROM top, tot ORDER BY rk""".stripMargin,

      "text_token_counts" ->
        s"""SELECT doc_id, len($duckToks) AS n_ws_tokens,
           |  len(regexp_extract_all(text, '${TextOps.bpePattern}')) AS n_bpe_tokens
           |FROM documents ORDER BY doc_id""".stripMargin,

      "text_langid" -> {
        val scoreCols = TextOps.langStopwords.map { case (lang, words) =>
          s"len(list_intersect(toks, ${words.map(w => s"'$w'").mkString("[", ",", "]")})) AS s_$lang"
        }.mkString(",\n  ")
        val langs = TextOps.langStopwords.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val cases = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString("\n    ")
        s"""WITH t AS (SELECT doc_id, list_distinct($duckToks) AS toks FROM documents),
           |s AS (SELECT doc_id,\n  $scoreCols\nFROM t)
           |SELECT doc_id, CASE\n    $cases\n    ELSE 'und' END AS lang_pred
           |FROM s ORDER BY doc_id""".stripMargin
      },

      "text_tfidf_top_terms" ->
        s"""WITH tf AS (
           |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
           |tfc AS (SELECT doc_id, term, count(*) AS cnt FROM tf GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, sum(cnt) AS dlen FROM tfc GROUP BY 1),
           |dfreq AS (SELECT term, count(*) AS dfreq FROM tfc GROUP BY 1),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |scored AS (
           |  SELECT tfc.doc_id, tfc.term,
           |    round((cnt::DOUBLE / dlen) * ln(n_docs::DOUBLE / dfreq), 6) AS tfidf
           |  FROM tfc JOIN dlen USING (doc_id) JOIN dfreq USING (term), n)
           |SELECT doc_id, term, tfidf, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY tfidf DESC, term) AS rk FROM scored)
           |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

      "ngram_top_bigrams" ->
        s"""WITH t AS (SELECT lang, $duckToks AS toks FROM documents),
           |bg AS (
           |  SELECT lang, unnest(list_transform(generate_series(1, len(toks) - 1),
           |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
           |  FROM t),
           |c AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
           |SELECT lang, bigram, n, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY lang
           |    ORDER BY n DESC, bigram) AS rk FROM c)
           |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

      // The multimodal stub codec is exact byte arithmetic over the UTF-8
      // payload, so even the "decode" path oracle-checks: every query in
      // the engine now has an exact DuckDB twin. NOTE: all three oracles
      // (decode, frames, resize) index CHARACTERS via ascii(substr(...))
      // while the engine strides BYTES — identical only because the
      // fixture corpus is pure ASCII (ascii(char) == byte, char length ==
      // byte length). A non-ASCII corpus would need DuckDB-side blob
      // indexing instead.
      "multimodal_decode" ->
        """WITH f AS (
          |  SELECT doc_id,
          |    octet_length(encode(text)) AS n_bytes,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(generate_series(1, length(text)),
          |                     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |      (a, c) -> (a * 31 + c) % 2147483647) AS checksum
          |  FROM documents)
          |SELECT doc_id, n_bytes,
          |  CAST(checksum % 1920 + 1 AS INT) AS width,
          |  CAST((checksum // 1920) % 1080 + 1 AS INT) AS height,
          |  CAST(checksum % 3 + 1 AS INT) AS channels,
          |  checksum
          |FROM f ORDER BY doc_id""".stripMargin,

      "multimodal_frames" ->
        """WITH f AS (
          |  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
          |fr AS (
          |  SELECT doc_id, text, n,
          |    unnest(list_filter(generate_series(0, CAST(ceil(n / 64.0) AS BIGINT) - 1),
          |                       ix -> ix % 4 = 0)) AS frame_ix
          |  FROM f WHERE n > 0)
          |SELECT doc_id, CAST(frame_ix AS INT) AS frame_ix, frame_ix * 64 AS offset,
          |  CAST(least(CAST(64 AS BIGINT), n - frame_ix * 64) AS INT) AS n_bytes,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(generate_series(1, CAST(least(CAST(64 AS BIGINT), n - frame_ix * 64) AS INT)),
          |      i -> CAST(ascii(substr(text, CAST(frame_ix * 64 + i AS INT), 1)) AS BIGINT))),
          |    (a, c) -> (a * 31 + c) % 2147483647) AS checksum
          |FROM fr ORDER BY doc_id, frame_ix""".stripMargin,

      "multimodal_resize" ->
        """WITH f AS (
          |  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
          |p AS (SELECT doc_id, text, n, greatest(1, n // 64) AS step FROM f),
          |s AS (SELECT doc_id,
          |  list_transform(list_filter(generate_series(0, 63), k -> k * step < n),
          |                 k -> CAST(ascii(substr(text, CAST(k * step + 1 AS INT), 1)) AS BIGINT)) AS bytes
          |  FROM p)
          |SELECT doc_id, CAST(len(bytes) AS INT) AS n_thumb_bytes,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT), bytes),
          |              (a, c) -> (a * 31 + c) % 2147483647) AS thumb_checksum
          |FROM s ORDER BY doc_id""".stripMargin,

      "vocab_encode" ->
        s"""WITH tf AS (SELECT unnest($duckToks) AS term FROM documents),
           |c AS (SELECT term, count(*) AS n FROM tf GROUP BY term),
           |vocab AS (
           |  SELECT term, row_number() OVER (ORDER BY n DESC, term) - 1 AS token_id
           |  FROM (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 256)),
           |pos AS (
           |  SELECT doc_id, i - 1 AS pos, toks[i] AS term
           |  FROM (SELECT doc_id, $duckToks AS toks FROM documents),
           |       unnest(generate_series(1, len(toks))) AS t(i))
           |SELECT doc_id, count(*) AS n_tokens,
           |  count(*) FILTER (WHERE token_id IS NULL) AS n_unk,
           |  string_agg(coalesce(token_id, -1), ',' ORDER BY pos) AS ids
           |FROM pos LEFT JOIN vocab USING (term)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "text_fingerprint" ->
        s"""SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform($duckToks, t -> ${duckH32("t")})),
           |    (a, h) -> (a * 31 + h) % 2147483647) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin)
  }
}
