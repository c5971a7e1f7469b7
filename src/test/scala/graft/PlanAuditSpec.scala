package graft

import org.apache.spark.sql.DataFrame
import graft.queries.{ExtensionQueries, ParityQueries, RelationalQueries}

/** Executable plan audits: the scale claims in SURVEY §8 as assertions,
  * so a refactor that silently de-broadcasts a dim, un-prunes a scan, or
  * drops the native expression from a hot path fails CI instead of only
  * showing up in a bench regression.
  */
object PlanAuditSpec {
  // One execution of the full catalog shared by the three gate tests:
  // materialize each query (AQE final plan needs an action), keep the
  // executed-plan string. sf0.001 keeps the whole sweep in seconds.
  private var cache: Map[String, String] = null
  def finalPlans(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, String] = synchronized {
    if (cache == null)
      cache = graft.SparkEntry.queries.map { case (name, fn) =>
        val df = fn(spark, dir)
        df.foreach(_ => ())
        name -> df.queryExecution.executedPlan.toString
      }
    cache
  }
}

class PlanAuditSpec extends SparkSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def plan(pack: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame],
      name: String): (String, DataFrame) = {
    val df = pack(name)(spark, sf0001)
    (df.queryExecution.executedPlan.toString, df)
  }

  test("q5: dims broadcast, no dim-side shuffle join") {
    val (p, _) = plan(RelationalQueries.queries, "q5_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), "nation/region must broadcast")
  }

  test("q1: aggregation is partial before the shuffle") {
    val (p, _) = plan(RelationalQueries.queries, "q1_agg")
    assert(p.contains("HashAggregate") && p.contains("partial_"),
      "expected map-side partial aggregation")
  }

  test("p3: parquet scan prunes to the referenced columns") {
    val (p, _) = plan(ParityQueries.queries, "p3_latency")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:"))
      .getOrElse(fail(s"no scan in plan:\n$p"))
    // events has 6+ columns; only the two referenced ones may be read
    assert(readSchema.contains("event_id") && readSchema.contains("ts"),
      readSchema)
    assert(!readSchema.contains("event_type") && !readSchema.contains("user_id"),
      s"unpruned scan: $readSchema")
  }

  test("variant queries: scan prunes to the referenced columns; variant work stays above the scan") {
    // What the scan CAN and CANNOT do with the variant encoding today
    // (the r12 verdict's audit-note ask): column pruning reaches the
    // parquet scan (only props/value are read for variant_props_agg —
    // the other 4+ events columns are pruned), but the variant PATH
    // reads do NOT push into the scan: props is stored as a plain JSON
    // string, try_parse_json runs as a post-scan projection, and Spark
    // 4.1's variant shredding (SPARK-45891 line) is a table-format
    // feature the parquet fixture doesn't carry — so per-path column
    // skipping inside the variant is not available and the full props
    // string is read for every row. At 100 TB that means: prune columns
    // aggressively (works today), and materialize hot variant paths as
    // shredded top-level columns at ingest if path-selective scans
    // matter (the variant_nested_paths construction is exactly that
    // written backwards).
    val (p, _) = plan(RelationalQueries.queries, "variant_props_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:"))
      .getOrElse(fail(s"no scan in plan:\n$p"))
    assert(readSchema.contains("props") && readSchema.contains("value"),
      readSchema)
    assert(!readSchema.contains("event_type") && !readSchema.contains("user_id"),
      s"unpruned scan: $readSchema")
    // the parse is a projection above the scan, not a scan capability
    // (the executed plan spells try_parse_json as a static_invoke of
    // VariantExpressionEvalUtils.parseJson feeding try_variant_get)
    assert(p.contains("parseJson") && p.contains("variant_get"),
      s"variant parse must appear in the post-scan projection:\n$p")
  }

  test("jaccard pair queries verify with the native sorted_overlap") {
    for (q <- Seq("ngram_jaccard_pairs", "dedup_minhash_pairs")) {
      val (p, _) = plan(ExtensionQueries.queries, q)
      assert(p.contains("sorted_overlap"), s"$q lost the native merge expression")
    }
  }

  test("similarity queries use the native vector_dot, not interpreted folds") {
    for (q <- Seq("sim_topk_cosine", "sim_ann_pairs")) {
      val (p, _) = plan(ExtensionQueries.queries, q)
      assert(p.contains("vector_dot"), s"$q lost the native dot product")
    }
  }

  test("correlated scalar subquery decorrelates to one aggregate + key join") {
    val (p, _) = plan(RelationalQueries.queries, "correlated_max_order")
    assert(p.contains("HashAggregate") &&
      (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
        p.contains("ShuffledHashJoin")),
      s"expected decorrelated agg+join plan:\n$p")
    assert(!p.contains("ScalarSubquery"),
      s"subquery survived decorrelation (per-row execution):\n$p")
  }

  test("zipf head: top-k plans as TakeOrderedAndProject, not a global sort") {
    val (p, _) = plan(ExtensionQueries.queries, "zipf_token_freq")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan per-partition heaps:\n$p")
  }

  test("simhash pairs: native one-pass sketch, key-equi band join only") {
    val (p, df) = plan(ExtensionQueries.queries, "dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banding must keep the self-join key-equi:\n$p")
    // the sketch is computed by the native expression (checkpointed branch,
    // so audit the pre-checkpoint plan via a fresh sketch projection)
    val sk = graft.ext.Dedup.simhash32FromHashes(
      graft.ext.TextOps.hashAll(graft.ext.TextOps.tokens(
        org.apache.spark.sql.functions.col("text"))))
    val skPlan = Tables.documents(spark, sf0001).select(sk.as("s"))
      .queryExecution.executedPlan.toString
    assert(skPlan.contains("simhash32"), s"sketch lost the native expression:\n$skPlan")
  }

  test("NativeHashRewrite: transform(arr, md5_hash32) collapses to the native array op") {
    import org.apache.spark.sql.functions._
    import graft.functions.HashExpressions.{md5_hash32, md5_hash32_array}
    val df = Tables.documents(spark, sf0001)
      .select(graft.ext.TextOps.tokens(col("text")).as("t"))
      .select(transform(col("t"), x => md5_hash32(x)).as("h"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("md5_hash32_array") && !p.contains("transform("),
      s"optimizer rule did not fire:\n$p")
    // and the rewrite is value-preserving vs the explicit native call
    val direct = Tables.documents(spark, sf0001)
      .select(md5_hash32_array(graft.ext.TextOps.tokens(col("text"))).as("h"))
    assert(df.except(direct).count() == 0 && direct.except(df).count() == 0)
  }

  test("w3 banded lag: every data-side window is partitioned") {
    val (p, _) = plan(ParityQueries.queries, "w3_lag_gap")
    // the band-level boundary window is the only global one, and it runs
    // over the one-row-per-band frame produced by the aggregate
    assert(p.linesIterator.exists(_.contains("Window ")))
    assert(p.contains("hashpartitioning(_band"),
      "data-side lag must partition by the time band")
  }

  test("range join: band dimension broadcasts, fact side not shuffled for the join") {
    val (p, _) = plan(graft.queries.AnalyticsQueries.queries, "range_join_value_bands")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"band dim must broadcast:\n$p")
  }

  test("cdc snapshot: exactly one hash shuffle (window partitioning on the key)") {
    val (p, _) = plan(graft.queries.AnalyticsQueries.queries, "cdc_latest_snapshot")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 key shuffle, got $shuffles:\n$p")
  }

  test("histogram: partial aggregation before the constant-cardinality shuffle") {
    val (p, _) = plan(graft.queries.AnalyticsQueries.queries, "histogram_value")
    assert(p.contains("partial_"), "expected map-side partial aggregation")
  }

  // The pipeline composite's corpus-facing stages (shingle staging, pair
  // verification) sit behind ONE localCheckpoint by design — tokenize+hash
  // runs once for the whole pipeline. The native expressions are audited
  // where they are live in a final plan: sorted_overlap via
  // dedup_minhash_pairs above, the array hash here.
  test("minhash signatures use the native array hash (one primitive loop per doc)") {
    val (p, _) = plan(ExtensionQueries.queries, "dedup_minhash_sig")
    assert(p.contains("md5_hash32_array"), s"signature path lost the native hash:\n$p")
  }

  test("projection-only queries: no hash shuffle (codegen'd scan→project)") {
    for (q <- Seq("math_funcs", "redact_numeric_ids")) {
      val (p, _) = plan(graft.queries.CoverageQueries.queries, q)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      // (codegen span is only visible post-execution under AQE; the
      // zero-shuffle shape is the scale property being pinned here)
      assert(shuffles == 0, s"$q should be pure projection, got $shuffles shuffles:\n$p")
    }
  }

  test("hopping windows: expand + partial aggregation before the keyed shuffle") {
    val (p, _) = plan(graft.queries.CoverageQueries.queries, "sliding_window_10m")
    assert(p.contains("Expand"), s"window assignment should Expand rows:\n$p")
    assert(p.contains("partial_"), "expected map-side partial aggregation")
  }

  test("window value functions: one key shuffle shared by both window specs") {
    val (p, _) = plan(graft.queries.CoverageQueries.queries, "window_first_last")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"both windows share (custkey) partitioning, got $shuffles:\n$p")
  }

  test("salted join: equals the direct join; salt fans each key out") {
    import org.apache.spark.sql.functions._
    val fact = Tables.lineitem(spark, sf0001).select(
      col("l_orderkey").as("k"), col("l_linenumber"), col("l_quantity"))
    val dim = Tables.orders(spark, sf0001).select(
      col("o_orderkey").as("k"), col("o_orderpriority"))
    val salted = graft.ops.Salt.saltedJoin(fact, dim, "k", col("l_linenumber"), 8)
      .select("k", "l_linenumber", "l_quantity", "o_orderpriority")
    val direct = fact.join(dim, "k")
      .select("k", "l_linenumber", "l_quantity", "o_orderpriority")
    assert(salted.except(direct).isEmpty && direct.except(salted).isEmpty,
      "salted join must be result-identical to the direct join")
    // the salt genuinely spreads: a multi-line order occupies >1 (key, salt) group
    val spread = fact
      .withColumn("_salt", pmod(hash(col("l_linenumber")), lit(8)))
      .groupBy("k").agg(countDistinct(col("_salt")).as("nsalts"))
      .agg(max(col("nsalts"))).first.getLong(0)
    assert(spread > 1, s"expected multi-salt keys, max spread $spread")
  }

  test("EXISTS / NOT IN subqueries decorrelate to semi and anti hash joins") {
    val (p, _) = plan(graft.queries.FunctionSurfaceQueries.queries,
      "exists_in_subqueries")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a left-semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT IN must plan as a left-anti join:\n$p")
    assert(!p.contains("ExistenceJoin") || p.contains("LeftSemi"), p)
  }

  test("lateral top-1 subquery decorrelates: no per-row subplan") {
    val (p, _) = plan(graft.queries.FunctionSurfaceQueries.queries,
      "lateral_top_order")
    assert(p.contains("Join"), s"lateral must become a join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral decorrelation degenerated to a pairwise plan:\n$p")
  }

  test("doc_chunks: zero mid-plan shuffles (projection + generate only)") {
    val (p, _) = plan(graft.queries.PipelineQueries.queries, "doc_chunks")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"chunking must not shuffle, got $shuffles:\n$p")
  }

  test("ivfAssign: argmax is a projection — no Window, no per-vector shuffle") {
    val df = graft.ext.Similarity.ivfAssign(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", 16)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"assignment regressed to a rank window:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    // the only aggregation is the 16-row centroid collect (broadcast side)
    assert(shuffles <= 1, s"vector side must not shuffle, got $shuffles:\n$p")
  }

  test("ivfAssignTwoLevel: still a projection — no Window, only centroid-sized shuffles") {
    val df = graft.ext.Similarity.ivfAssignTwoLevel(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", 16)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"assignment regressed to a rank window:\n$p")
    // hash exchanges allowed only on the CENTROID side: the coarse
    // collect, the fine->coarse groupBy, and the groups-map collect all
    // move cells-sized rows, never the vector stream. The vector stream
    // itself is crossJoin(broadcast 1-row) + projection.
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 3, s"vector side must not shuffle, got $shuffles:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroid tables must broadcast:\n$p")
  }

  test("ivfAssignTwoLevelJoined: fines never collect into one row, join is shuffled") {
    // The big-corpus spelling (cells > TwoLevelBroadcastCells): the
    // corpus-proportional fine-centroid payload must stay a co-keyed
    // TABLE — no map_from_entries(collect_list(...)) single-row groups
    // map (the r12 carried scale-killer: Θ(cells·d) in one broadcast
    // row, eventually Spark's 2 GiB row bound) — and the vector→fines
    // attach must be a ShuffledHashJoin on _co, not a broadcast of the
    // fines table (which would reintroduce the Θ(cells·d)-per-executor
    // payload with extra steps).
    val df = graft.ext.Similarity.ivfAssignTwoLevelJoined(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", 16)
    df.foreach(_ => ())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("map_from_entries"),
      s"joined spelling must not collect all cells into one row:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"fines attach must be a shuffled hash join on _co:\n$p")
    // the only broadcasts are the √cells-sized coarse seed arrays
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bcasts == bnlj,
      s"every broadcast must be a 1-row coarse array crossJoin " +
        s"($bcasts broadcasts vs $bnlj nested-loop attaches):\n$p")
  }

  test("text_rarity: vocabulary df table broadcasts to the doc-token probe") {
    val (p, _) = plan(graft.queries.PipelineQueries.queries, "text_rarity")
    assert(p.contains("BroadcastHashJoin"), s"df join must broadcast:\n$p")
  }

  test("embed_project: hash-derived planes constant-fold at plan time") {
    val (p, _) = plan(graft.queries.PipelineQueries.queries, "embed_project")
    assert(!p.contains("md5_hash32"),
      s"plane constants must fold, not evaluate per row:\n$p")
    assert(p.contains("vector_dot"), s"projection lost the native dot:\n$p")
  }

  test("anomaly_zscore: window partitioning includes the time chunk, not type alone") {
    val (p, _) = plan(graft.queries.CorpusQueries.queries, "anomaly_zscore")
    val part = p.linesIterator.find(_.contains("hashpartitioning"))
      .getOrElse(fail(s"no hash shuffle in plan:\n$p"))
    // partitionBy(event_type) alone would serialize each type onto one
    // task; the banded operator must shuffle on (event_type, _chunk).
    assert(part.contains("_chunk"), s"window lost chunk parallelism: $part")
    assert(!p.contains("No Partition Defined"), p)
  }

  // ---- Catalog-wide plan invariant gate (r6) -------------------------
  // Every query in SparkEntry.queries executes at sf0.001 and its FINAL
  // adaptive plan is audited for the three plan shapes that do not
  // survive a 100 TB scale-up: pairwise joins, repeated unbounded global
  // sorts, and shuffled joins whose build side is tiny enough that it
  // should have broadcast. Exceptions are allowlisted BY NAME with the
  // reason — a new query that trips a rule fails here, not in a bench
  // regression three rounds later.
  test("catalog gate: no cartesian/pairwise join outside the labeled attaches") {
    // Broadcast-constant attaches: a 1-row / constant-cardinality
    // aggregate crossed onto every row plans as BroadcastNestedLoopJoin
    // over a build side whose size is INDEPENDENT of the corpus — the
    // engine's documented pattern (§8). Each entry names its constant:
    val pairwiseOk: Set[String] = Set(
      "lm_bigram_score",        // 1-row corpus bigram-total attach
      "lm_kneser_ney",          // 1-row bigram-type-total attach (the
                                // continuation-probability denominator)
      "lm_kneser_ney_tri",      // three 1-row attaches: trigram count-of-
                                // counts, continuation count-of-counts,
                                // bigram-type total (all discount/
                                // denominator constants)
      "corpus_ppl_filter",      // rides the lm_bigram chain: the same
                                // 1-row vocabulary-size attach
      "corpus_mix_alpha",       // two 1-row attaches: corpus token total
                                // and the smoothed-share normalizer
      "mixture_plan",           // 1-row corpus token-total attach
      "p7_window_filter",       // 1-row min-timestamp window anchor
      "quantile_bucket_tokens", // 1-row quantile-thresholds attach
      "semdedup_pairs",         // numCells-row centroid table (constant)
      "sim_ivf_topk",           // numCells-row centroid table (constant)
      "sim_ivfpq_topk",         // same centroid table + nprobe-cell attach
      "sim_pq_recon_error",     // same centroid table (cell assignment)
      "sim_ivfpq_topk_trained", // same centroid attach, TRAINED constants
      "sim_ivfpq_residual_topk", // same centroid attach twice (assign +
                                // residual subtraction); LUT dispatch is
                                // a literal CASE, not a join
      "sim_ivfpq_residual_rerank", // residual stage-1 attach; the rerank
                                // joins on the shortlist KEY (broadcast
                                // hash, not BNLJ)
      "sim_ivfpq_rerank",       // same centroid attach (stage-1 IVF-PQ);
                                // the rerank stage itself joins on the
                                // shortlist KEY (broadcast hash, not BNLJ)
      "sim_pq_recon_error_trained", // same centroid attach, TRAINED consts
      "sim_kmeans_centroids",   // numCells-row centroid table (constant)
      "text_tfidf_top_terms",   // 1-row corpus doc-count attach (IDF)
      "zipf_token_freq",        // 1-row total-token-count attach
      "range_join_value_bands", // constant-count band dim broadcast (the
                                // range-join operator's own labeled shape)
      "sim_topk_cosine",        // constant-size broadcast anchor set —
                                // brute-force baseline scores each vector
                                // against the anchors, by definition
      "sim_hard_negatives",     // same broadcast-anchor shape
      "text_bm25_topk",         // 1-row corpus-stats (N, avgdl) attach
      "text_more_like_this",    // same 1-row corpus-stats attach
      "hybrid_rrf_topk",        // both branches' labeled attaches: the
                                // BM25 1-row corpus-stats and the IVF
                                // centroid/query-vector constants
      "pipeline_curriculum",    // 1-row total-token-mass attach
      "rank_eval_ndcg",         // constant-bounded (≤MaxQ) broadcast query
                                // sample + the IVF centroid attach — the
                                // eval ground truth is |Q|·N exact cosines
                                // by definition (the eval-time budget)
      "corpus_dsir_weights",    // 1-row feature-total attach onto the
                                // bucket-count-sized (B-row) ratio table
      "text_pmi_topk",          // two 1-row total attaches (N tokens, Nb
                                // bigrams) onto the vocab-sized pair table
      "zorder_file_spans",      // 1-row key min/max attach (the z-value
                                // normalization constants)
      "lm_trigram_score",       // 1-row corpus token-total attach (the
                                // unigram interpolation term), the
                                // lm_bigram shape one order up
      "dq_expectations",        // 1-row anti-join count attached to the
                                // 1-row conditional-aggregate suite
      "cluster_topics",         // numCells-row centroid attach (the IVF
                                // assignment) + 1-row corpus token-total
      "market_basket_rules",    // 1-row order-count attach (lift's N)
      "user_rfm",               // 1-row reference-time + 1-row quartile-
                                // boundary attaches
      "ts_theilsen",            // constant 48-row lag-dimension attach
                                // (the bounded-lag pair expansion)
      "survival_km",            // 1-row censor-time/user-count attach
      "ab_test_welch",          // two 1-row sufficient-statistic frames
                                // crossed into the single readout row
      "ts_autocorrelation",     // constant 24-row lag-dimension attach
                                // (the ts_theilsen shape)
      "embed_outlier_flags",    // numCells-row centroid attach (the IVF
                                // assignment) + 16-row threshold attach
      "compaction_plan",        // 1-row bin-capacity attach onto the
                                // manifest-bounded file frame (r11 NFD
                                // spelling)
      "dedup_embed_pairs",      // cells-row centroid table (corpus-derived
                                // count, population-constant — the
                                // semdedup attach)
      "embed_cell_profile",     // the same two-level centroid attaches
                                // (coarse array + coarse→fines map — both
                                // cells-sized broadcast constants)
      "pipeline_training_corpus_v2") // the composite carries its
                                // components' labeled attaches: the
                                // lm 1-row vocab total (ppl gate) and the
                                // two 1-row mixing totals (corpus_mix_alpha)
    auditCatalog { (name, p) =>
      if (p.contains("CartesianProduct"))
        Some(s"$name: CartesianProduct in final plan")
      else if (p.contains("BroadcastNestedLoopJoin") && !pairwiseOk(name))
        Some(s"$name: BroadcastNestedLoopJoin outside the labeled attaches")
      else None
    }
  }

  test("catalog gate: at most one global sort (the deterministic output order)") {
    // The oracle contract pins a deterministic final ORDER BY — exactly
    // one global sort at the output is by design; a SECOND one mid-plan
    // is a full-data range shuffle that a 100 TB run would pay twice.
    val multiSortOk: Set[String] = Set()
    auditCatalog { (name, p) =>
      val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(p).length
      if (globalSorts > 1 && !multiSortOk(name))
        Some(s"$name: $globalSorts global sorts (want <= 1)")
      else None
    }
  }

  test("catalog gate: no shuffled join survives AQE at tiny SF (broadcast or justify)") {
    // At sf0.001 every build side is far under the broadcast threshold,
    // so AQE must end every join as a broadcast join; a SortMergeJoin /
    // ShuffledHashJoin surviving to the final plan means a hint or shape
    // is pinning a shuffle where 100 TB would want the planner free to
    // choose. The allowlist names the shapes where the shuffle is the
    // CORRECT 100 TB plan (or Spark has no broadcast form at all):
    val shuffledOk: Set[String] = Set(
      "salted_join_priority",     // pins shuffle_hash ON PURPOSE (skew op)
      "full_outer_nation_counts", // Spark has no full-outer broadcast join
      "pipeline_training_corpus", // corpus-sized band self-join: both sides
                                  // scale with the corpus, shuffle IS the
                                  // plan; AQE skips broadcast only because
                                  // checkpointed stats stay conservative
      "semdedup_pairs",           // in-cell self-join, same reasoning
      "cluster_topics",           // vocab-keyed join of the (cell, token)
                                  // counts onto the token totals: BOTH
                                  // sides are vocab-scaled aggregates
                                  // (statless post-agg), the keyed
                                  // shuffle is the 100 TB plan; the
                                  // constant sides (cell totals, corpus
                                  // total) ARE broadcast
      "corpus_split_leakage_safe", // doc-keyed join of the corpus onto
                                  // the cluster labels: both sides scale
                                  // with the corpus, shuffle IS the plan
      "graph_assortativity",      // ONE degree join onto the edge list
                                  // (r13 degree-moment spelling — the
                                  // other endpoint's statistics collapse
                                  // to node-sized degree moments): both
                                  // sides scale with the graph (statless
                                  // post-agg degree side), shuffle IS the
                                  // plan
      "graph_link_prediction",    // wedge self-join over the symmetrized
                                  // sparsified graph: every side scales
                                  // with the graph (statless post-agg
                                  // sides), shuffle IS the plan — the
                                  // graph_triangles reasoning
      "dedup_embed_pairs",        // in-(label × cell) self-join: both
                                  // sides scale with the corpus, shuffle
                                  // IS the plan (the semdedup_pairs
                                  // reasoning, r11 blocking)
      "pipeline_training_corpus_v2", // carries v1's corpus-sized band
                                  // self-join (LSH pair generation) —
                                  // the pipeline_training_corpus entry's
                                  // reasoning verbatim
      "graph_triangles")          // oriented-wedge self-join + closure
                                  // semi-join: every side (edges, degrees,
                                  // wedges) scales with the graph, shuffle
                                  // IS the 100 TB plan; AQE broadcasts the
                                  // tiny-SF run at runtime (executed
                                  // stages are BroadcastHashJoin — the SMJ
                                  // spelling survives only in the printed
                                  // initial plan because every join side
                                  // is post-aggregation, statless)
    auditCatalog { (name, p) =>
      if ((p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")) &&
          !shuffledOk(name))
        Some(s"$name: shuffled join in final plan at tiny SF")
      else None
    }
  }

  /** Execute every catalog query at sf0.001 (AQE needs execution to emit
    * the final plan) and collect rule violations; one shared run per
    * suite execution via a memoized plan map.
    */
  private def auditCatalog(rule: (String, String) => Option[String]): Unit = {
    val failures = PlanAuditSpec.finalPlans(spark, sf0001).toSeq.sortBy(_._1)
      .flatMap { case (name, p) => rule(name, p) }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("catalog gate: no query output column is DecimalType") {
    // The driver's correctness hash compares value REPRESENTATIONS:
    // a Spark decimal128 column against a DuckDB DOUBLE oracle fails
    // the hash even when every value is numerically identical
    // (ab_test_welch, r8 — a decimal literal like 100.0 silently turns
    // the whole arithmetic chain decimal). Schema-only analysis pass,
    // nested types included.
    import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}
    def hasDecimal(dt: DataType): Boolean = dt match {
      case _: DecimalType    => true
      case s: StructType     => s.fields.exists(f => hasDecimal(f.dataType))
      case a: ArrayType      => hasDecimal(a.elementType)
      case m: MapType        => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _                 => false
    }
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, sf0001).schema.fields
          .filter(f => hasDecimal(f.dataType)).map(_.name)
        if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"decimal output columns (cast to double or bigint micro-units):\n" +
        offenders.mkString("\n"))
  }

  /** Runs `body` with `confs` set (restored afterwards) and returns its
    * result plus the executed plan of every query it ran.
    */
  private def withAuditedPlans[T](confs: Seq[(String, String)])(body: => T): (T, Seq[String]) = {
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.CoreBridge.waitListeners(sc)
    spark.listenerManager.register(listener)
    val out = try body finally {
      org.apache.spark.graftbridge.CoreBridge.waitListeners(sc)
      spark.listenerManager.unregister(listener)
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    (out, plans.toSeq)
  }

  test("connectedComponents above its local bound: no forced broadcast, union-find labels") {
    // The distributed fixpoint is the above-bound path: node-sized label
    // state joins through keyed exchanges, never a broadcast hint
    // (Dedup.connectedComponents). On a graph that large, no side fits the
    // planner's size-based broadcast threshold; this small graph stands in
    // for it with that threshold off (-1). The threshold is also the
    // collect's budget (ops/Bounds), so -1 forces the distributed spelling,
    // and any BroadcastExchange left would be one the code forces. Every
    // query the call runs, and the read of its result, is audited.
    import spark.implicits._
    import graft.ext.Dedup
    val rng = new scala.util.Random(7)
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)) ++
      Seq.fill(40)((100L + rng.nextInt(60), 100L + rng.nextInt(60)))).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val (distributed, plans) = withAuditedPlans(Seq(Threshold -> "-1")) {
      Dedup.connectedComponents(edges, "id_a", "id_b").as[(Long, Long)].collect().toMap
    }
    assert(plans.nonEmpty)
    val broadcast = plans.filter(_.contains("BroadcastExchange"))
    assert(broadcast.isEmpty, broadcast.mkString("\n---\n"))
    assert(distributed == local)
  }

  test("connectedComponents collect transfers at most bound + P rows, then union-find labels") {
    // 64 partitions of 1,000 edges under a 32,000-edge bound (a threshold
    // of 32,000 × 16 B, each edge two packed longs): the cap is
    // ⌈32,000 / 64⌉ = 500 edges per partition, so every partition is over
    // it and the collect job may return at most bound + P edge rows (16 B
    // each) before the distributed fallback. A 65,536-row floor per
    // partition would let all 64,000 edges (~1 MB) reach the driver first.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    import graft.ext.Dedup
    val parts = 64
    val bound = 32000L
    // paths of 5 nodes: i -> i+1 inside each block of five
    val edges = spark.range(0, parts * 1000L, 1, parts).select(col("id").as("id_a"),
      when(col("id") % 5 === 4, col("id")).otherwise(col("id") + 1).as("id_b"))
    assert(edges.rdd.getNumPartitions == parts)
    val local = Dedup.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    final class Collects extends org.apache.spark.scheduler.SparkListener {
      var stages = Vector.empty[(Int, Long)] // (tasks, summed task result bytes)
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (s.stageInfo.name.startsWith("collect at Dedup.scala"))
          stages :+= (s.stageInfo.numTasks -> s.stageInfo.taskMetrics.resultSize)
    }
    val collects = new Collects
    val sc = spark.sparkContext
    sc.addSparkListener(collects)
    val (bounded, plans) = try withAuditedPlans(Seq(Threshold -> (bound * 16).toString)) {
      Dedup.connectedComponents(edges, "id_a", "id_b").as[(Long, Long)].collect().toMap
    } finally sc.removeSparkListener(collects)
    assert(plans.nonEmpty)
    assert(collects.stages.map(_._1) == Seq(parts), collects.stages)
    // per-task envelope (accumulator updates, array header): 4 KB
    val limit = (bound + parts) * 16 + parts * 4096L
    val resultBytes = collects.stages.map(_._2).sum
    assert(resultBytes <= limit, s"collect returned $resultBytes bytes, limit $limit")
    assert(local.size == parts * 1000 && local.values.toSet.size == parts * 200)
    assert(bounded == local)
  }

  test("kCore with empty node state at threshold -1: no BroadcastExchange") {
    // A star's centre is the only node with degree >= k (the max degree),
    // and it keeps no neighbour in round 2, so the final joins take 0 rows
    // of node state. A threshold below 0 never broadcasts, not even empty
    // state, and it turns the planner's own size-based broadcasts off too,
    // so any BroadcastExchange left would be one the code forces.
    import spark.implicits._
    import graft.ext.Graph
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("u", "v")
    val (core, plans) = withAuditedPlans(Seq(Threshold -> "-1")) {
      Graph.kCore(star, "u", "v", degQuantile = 1.0, rounds = 3).collect()
    }
    assert(core.isEmpty)
    assert(plans.nonEmpty)
    val broadcast = plans.filter(_.contains("BroadcastExchange"))
    assert(broadcast.isEmpty, broadcast.mkString("\n---\n"))
  }

  test("maybeBroadcast hints at rows × rowBytes == threshold, not one row above") {
    // (long, long) node state: the planner's per-row estimate is an 8 B
    // row overhead plus two 8 B longs. Only the hint is inspected: at so
    // small a threshold the planner's own size-based broadcast could pick
    // either side of a join on its own.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import graft.ext.Graph
    val rows = 100L
    val rowBytes = 24L
    val state = spark.range(0, rows).selectExpr("id AS node", "id * 2 AS lbl")
    def hinted(n: Long): Boolean =
      Graph.maybeBroadcast(state, n).queryExecution.analyzed.collectFirst {
        case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      }.getOrElse(false)
    val ((atThreshold, oneAbove), _) =
      withAuditedPlans(Seq(Threshold -> (rows * rowBytes).toString)) {
        (hinted(rows), hinted(rows + 1))
      }
    assert(atThreshold, s"state of $rows rows × $rowBytes B must broadcast")
    assert(!oneAbove, s"state of ${rows + 1} rows × $rowBytes B must not")
  }

  test("saltedJoin repartition count follows advisoryPartitionSizeInBytes") {
    // Partitions = max(shuffle partitions, (build × buckets + probe) source
    // bytes / (advisoryPartitionSizeInBytes / 8)). A 64 KB advisory size
    // (8 KB per partition) lifts the count above the session's partition
    // count at sf0.001, and halving it doubles the data-sized count; the
    // 64 MB default (8 MB per partition) keeps the session's count.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val fact = Tables.lineitem(spark, sf0001).select(
      col("l_orderkey").as("k"), col("l_linenumber"), col("l_quantity"))
    val dim = Tables.orders(spark, sf0001).select(
      col("o_orderkey").as("k"), col("o_orderpriority"))
    val buckets = 8
    def bytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val dataBytes = bytes(dim) * buckets + bytes(fact)
    def partitions(advisory: Long): Set[Int] = {
      val (counts, _) = withAuditedPlans(Seq(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString)) {
        graft.ops.Salt.saltedJoin(fact, dim, "k", col("l_linenumber"), buckets)
          .queryExecution.analyzed.collect {
            case r: RepartitionByExpression => r.numPartitions
          }.toSet
      }
      counts
    }
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def expected(advisory: Long): Int =
      (dataBytes / (advisory / 8)).max(BigInt(sessionParts)).toInt
    assert(expected(64L << 10) > sessionParts,
      s"$dataBytes source bytes must need more than $sessionParts partitions")
    assert(expected(32L << 10) > expected(64L << 10))
    Seq(64L << 10, 32L << 10, 64L << 20).foreach { advisory =>
      assert(partitions(advisory) == Set(expected(advisory)), s"advisory $advisory B")
    }
  }

  test("sessionize batch: one shuffle keyed by user (agg reuses window partitioning)") {
    import org.apache.spark.sql.functions._
    val df = graft.stream.Sessionize.batch(
      Tables.events(spark, sf0001)
        .select(col("user_id"), Tables.tsMillis(col("ts")).as("ts_ms"), col("event_id")),
      gapMs = 1800 * 1000L)
    val p = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected exactly 1 hash shuffle, got $shuffles:\n$p")
  }
}
