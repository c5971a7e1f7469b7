package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ext.Graph

/** Iterative graph analytics (round 8, third wave): integer-exact
  * PageRank over the customer–supplier trade network — the iterative
  * eigenvector-style companion of the connected-components dedup
  * machinery (label propagation finds WHICH nodes connect; PageRank
  * ranks HOW CENTRAL they are).
  *
  * The DuckDB oracle replays the full iteration chain (one CTE block
  * per iteration, the quality-train pattern); because every step is
  * integer pico-unit arithmetic, the comparison is EXACT — no floats
  * anywhere in the result.
  */
object GraphQueries extends QueryPack {

  /** Synchronous iterations. Power iteration on a damped stochastic
    * matrix converges geometrically (factor ≈ 0.85/iter); 5 rounds
    * separate the head decisively on the fixture while keeping the
    * oracle CTE chain compact. The constant is part of the query
    * definition — the oracle replays exactly this many rounds.
    */
  val PageRankIters = 5

  /** K-core peel rounds and the adaptive-threshold quantile. Measured
    * fixpoint depth on the trade graph is 2 at every SF (one effective
    * peel + one confirming round — the graph's upper-quartile core is
    * cohesive); 4 rounds is 2× margin, and `GraphSpec` asserts the
    * fixpoint (rounds vs rounds+1 identical) so a fixture change that
    * deepens the cascade fails loudly instead of silently truncating.
    */
  val KCoreRounds = 4
  val KCoreQuantile = 0.75

  /** LPA rounds. Label frontiers stabilize on the fixture within 3
    * rounds (GraphSpec asserts rounds vs rounds+1 agreement on the
    * hand graphs); the constant is part of the query definition.
    */
  val LpaIters = 4

  /** Link-prediction result list size. */
  val LinkPredTopK = 100

  /** Closeness: source-sample size (constant — sampled-source closeness
    * is the standard scale move; exact all-pairs is Θ(V·E)), BFS depth
    * cap (trade-graph diameter is ≈4; 6 is margin, and the oracle
    * replays the same cap), and the per-distance harmonic weights
    * round(1e6/d) as integer literals shared VERBATIM by both engines.
    */
  val ClosenessSources = 16
  val ClosenessDepth = 6
  val HarmonicCase: String = Graph.harmonicCaseSql(ClosenessDepth)

  /** Symmetrized trade edges: customer c ↔ supplier s for every distinct
    * (custkey, suppkey) pair that shares an order line. Node ids are
    * prefixed ('c…'/'s…') so the two key spaces never collide.
    */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    // distinct over the LONG key pair (16-byte shuffle rows), labels
    // concatenated after; pinned once because the symmetrized union
    // reads it twice and pageRank's edge staging reads the union twice
    // more (degree aggregate + probe) — without the pin the
    // join+distinct would execute 4× per query (measured 1.8 s warm
    // each at sf0.1). Same iterative-exception rationale as the edge
    // pin inside Graph.pageRank.
    val base = tradePairs(s, d)
    val lab = base.select(
      concat(lit("c"), col("o_custkey").cast("string")).as("c"),
      concat(lit("s"), col("l_suppkey").cast("string")).as("sp"))
    lab.select(col("c").as("src"), col("sp").as("dst"))
      .unionAll(lab.select(col("sp").as("src"), col("c").as("dst")))
  }

  private def tradePairs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .localCheckpoint(false)

  /** r13 (guide §2.3, narrower types): LONG-keyed spelling of
    * [[tradeEdges]] — node id 2·custkey for customers, 2·suppkey+1 for
    * suppliers, a bijection onto the labeled string ids (the 'c'/'s'
    * prefix disjointness becomes parity disjointness, so no self-loops
    * and no collisions). The iterative algorithms hash and compare a
    * node id once per edge per round; an 8-byte long makes that a
    * primitive op instead of a string hash + allocation, and the label
    * strings are reconstructed only on the final node-sized output via
    * [[decodeNode]]. Only id-order-INDEPENDENT algorithms may use this
    * spelling (pageRank's arithmetic, kCore's counts, closeness' BFS,
    * assortativity's degree moments are all invariant under any node
    * bijection); LPA's smallest-LABEL tie-break depends on the string
    * order and stays on [[tradeEdges]].
    */
  private def tradeEdgesLong(s: SparkSession, d: String): DataFrame = {
    val base = tradePairs(s, d)
    val lab = base.select((col("o_custkey") * 2).as("c"),
      (col("l_suppkey") * 2 + 1).as("sp"))
    lab.select(col("c").as("src"), col("sp").as("dst"))
      .unionAll(lab.select(col("sp").as("src"), col("c").as("dst")))
  }

  /** Inverse of the [[tradeEdgesLong]] encoding: 2k → "ck", 2k+1 → "sk". */
  private def decodeNode(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(when(c % 2 === 0, lit("c")).otherwise(lit("s")),
      shiftright(c, 1).cast("string"))

  /** Supplier co-occurrence edges: undirected (u < v) supplier pairs
    * that ship lines of the same order. Per-order fan-out is bounded by
    * the order's line count (≤ 7 in TPC-H), so the per-orderkey
    * self-join is constant work per order — the pair build is linear in
    * lineitem, never quadratic in suppliers.
    *
    * The edge set is then DOULION-sparsified (Tsourakakis et al., KDD
    * 2009): each edge survives with probability p = 1/8 under a
    * CONTENT-STABLE coin (first md5 nibble of "u:v" < 2), so the sample
    * is reproducible across runs and engines, and the sampled triangle
    * count t estimates the true count as t/p³. Sparsification is the
    * standard scale move for triangle counting — the fixture's co-trade
    * graph is near-complete (every supplier pair shares some order), and
    * counting on the full K_n would be Θ(n³) wedges by construction.
    */
  private def supplierCoEdges(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    // r13 (guide §2.3): the DOULION coin is a deterministic function of
    // (u, v), so it commutes with DISTINCT — filtering BEFORE the
    // distinct drops 7/8 of the pair stream ahead of that shuffle
    // (md5 on the full pre-distinct stream is cheap codegen; the
    // shuffle bytes were the cost). Same surviving edge set.
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
      .select(col("a.sk").as("u"), col("b.sk").as("v"))
      .where(substring(md5(concat(col("u").cast("string"), lit(":"),
        col("v").cast("string"))), 1, 1) < "2")
      .distinct()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> ((s, d) =>
      Graph.pageRank(tradeEdgesLong(s, d), "src", "dst", PageRankIters)
        .select(decodeNode(col("node")).as("node"), col("rank_pico"))
        .orderBy("node")),

    // Triangle census of the (DOULION-sparsified) supplier co-trade
    // graph — `Graph.triangleCensus` (degree-oriented compact-forward;
    // see its doc for the skew/complexity argument) plus the DOULION
    // unbiased estimate of the UNSAMPLED graph's triangle count:
    // t / p^3 with p = 1/8. On the fixture the co-trade graph is the
    // complete K_n, so est_triangles ≈ C(n,3) validates the estimator
    // end-to-end (sf0.01: est 162,304 vs true 161,700 — 0.4% off).
    "graph_triangles" -> ((s, d) =>
      Graph.triangleCensus(supplierCoEdges(s, d), "u", "v")
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          (col("n_triangles") * 512L).as("est_triangles"),
          col("clustering"))),

    // K-core of the trade graph at the adaptive upper-quartile
    // threshold — the cohesion operator completing the graph family
    // (CC finds WHICH nodes connect, PageRank HOW CENTRAL, triangles
    // HOW CLUSTERED, k-core HOW COHESIVE). Exact integer compare:
    // degrees are counts, the threshold is ceil of an exact percentile
    // over integers (representable doubles end-to-end).
    // assumeCanonical (r13): tradeEdges IS a canonical undirected list —
    // one distinct ('c…','s…') pair frame emitted in both orientations,
    // prefix-disjoint key spaces (no self-loops) — so kCore's
    // least/greatest+distinct canonicalization round-trip is the
    // identity; skipping it removes one full edge-stream shuffle.
    "graph_kcore" -> ((s, d) =>
      Graph.kCore(tradeEdgesLong(s, d), "src", "dst", KCoreQuantile,
          KCoreRounds, assumeCanonical = true)
        .select(decodeNode(col("node")).as("node"), col("deg_core"), col("k"))
        .orderBy("node")),

    // Degree assortativity of the trade graph (Newman 2002): the
    // Pearson correlation of endpoint degrees over the symmetrized
    // edge list — one number answering "do hubs trade with hubs?"
    // (bipartite trade graphs are typically disassortative). All
    // sufficient statistics are exact INTEGER sums; only the final
    // scalar formula is float, on identical inputs in both engines
    // (the ab_test_welch contract).
    //
    // DEGREE-MOMENT SPELLING (r13): the naive plan joins deg onto BOTH
    // edge endpoints — two edge-scale shuffled joins (measured 77×
    // at the 64× probe: the second join re-shuffles the already-widened
    // edge stream). On a SYMMETRIZED list the identities
    //   Σ_edges dx^p  =  Σ_nodes deg^(p+1)   (node u is src deg(u) times)
    //   sy = sx, syy = sxx                    (each edge appears both ways)
    // collapse everything except sxy to NODE-sized degree moments.
    // sxy alone needs neighbor degrees: ONE degree-attach join on dst,
    // immediately reduced per src (map-side combinable — the shuffle
    // after the join carries per-node partial sums, not edges), then
    // sxy = Σ_u deg(u)·Σ_{v∈N(u)} deg(v) over the node-sized frame.
    // One edge-scale join instead of two; every aggregate exact-integer
    // identical to the naive spelling (GraphSpec proves equality), so
    // the DuckDB oracle keeps the textbook two-join form.
    "graph_assortativity" -> ((s, d) => {
      // long-keyed edges (r13): every aggregate below is a degree
      // moment — invariant under any node bijection, so the cheaper key
      // domain cannot change the result.
      val sym = tradeEdgesLong(s, d)
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      // Σ_{v∈N(u)} deg(v): the only edge-scale stage left
      val neigh = sym
        .join(deg.select(col("src").as("dst"), col("dg").as("dy")), "dst")
        .groupBy(col("src")).agg(sum(col("dy")).as("sdy"))
      // every node has deg ≥ 1 (it exists because an edge does) and all
      // dst carry a degree, so the node-sized inner join drops nothing
      deg.join(neigh, "src")
        .agg(sum(col("dg")).as("m"),
          sum(col("dg") * col("dg")).as("sx"),
          sum(col("dg") * col("sdy")).as("sxy"),
          sum(col("dg") * col("dg") * col("dg")).as("sxx"))
        .select(col("m"), col("sxy"), col("sx").as("sy"),
          col("sxx").as("syy"), col("sx"), col("sxx"))
        .select(col("m"), col("sxy"),
          // nullif: a degree-regular graph has zero endpoint-degree
          // variance, where Spark's / yields NULL but DuckDB under
          // ieee_floating_point_ops yields Inf/NaN (ab_test_welch
          // convention — correlation undefined, not an error)
          expr("""round((cast(m as double) * sxy - cast(sx as double) * sy) /
                 | nullif(
                 |  sqrt(cast(m as double) * sxx - cast(sx as double) * sx)
                 |  * sqrt(cast(m as double) * syy - cast(sy as double) * sy),
                 | 0.0), 6)""".stripMargin).as("assortativity"))
    }),

    // Link prediction by common-neighbor Jaccard over the (DOULION-
    // sparsified) supplier co-trade graph: for every NON-edge pair
    // reachable by a wedge, |N(u)∩N(v)| / |N(u)∪N(v)| — the classic
    // similarity-based recommender. Wedge enumeration on the fixture
    // graph is exact and oracle-able; the copy-disjoint probe scales it
    // linearly. The 100 TB shape for a densifying graph is the
    // engine's minhash-LSH family over adjacency SETS (bucketed
    // candidates + exact verify) — the documented scale path, same
    // contract as the labeled quadratic baselines. Deterministic
    // top-100 by (jaccard, pair).
    "graph_link_prediction" -> ((s, d) => {
      val e = supplierCoEdges(s, d)
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("dg"))
      val cn = sym.as("l").join(sym.as("r"),
          col("l.b") === col("r.a") && col("l.a") < col("r.b"))
        .groupBy(col("l.a").as("u"), col("r.b").as("v"))
        .agg(count(lit(1)).as("common"))
      val cand = cn.join(e, Seq("u", "v"), "left_anti")
      cand
        .join(deg.select(col("a").as("u"), col("dg").as("deg_u")), "u")
        .join(deg.select(col("a").as("v"), col("dg").as("deg_v")), "v")
        .select(col("u"), col("v"), col("common"), col("deg_u"), col("deg_v"),
          expr("common * 1000000 div (deg_u + deg_v - common)")
            .as("jaccard_micro"))
        .orderBy(col("jaccard_micro").desc, col("u"), col("v"))
        .limit(LinkPredTopK)
    }),

    // Label-propagation communities over the trade graph — the fourth
    // graph question (CC: which connect, PageRank: how central,
    // triangles: how clustered, k-core: how cohesive, LPA: which
    // MODULES). Self-vote damps the bipartite oscillation; fixed
    // LpaIters rounds replayed exactly by the oracle chain.
    // (r13 note: an order-isomorphic long-rank relabel of the label
    // domain was tried and REVERTED — the two edge-stream relabel joins
    // re-evaluate once per downstream consumer and measured SLOWER
    // (3.53 → 5.76 s) than the string rounds they were meant to cheapen.
    // LPA's cost is the two-level vote aggregate, not the key type.)
    "graph_lpa" -> ((s, d) =>
      // distinctEdges: tradeEdges emits each (src, dst) exactly once
      // (one distinct key-pair frame, two orientations), so LPA's
      // round-1 closed form applies — see Graph.lpa.
      Graph.lpa(tradeEdges(s, d), "src", "dst", LpaIters,
        distinctEdges = true)
        .orderBy("node")),

    // Harmonic closeness centrality from a SAMPLED source set — the
    // sixth graph question (how NEAR a node is to everything else).
    // Exact all-pairs closeness is Θ(V·E); the standard scale move is a
    // constant source sample (here 16, md5-ranked so the sample is
    // content-stable across runs/engines), one synchronous BFS frontier
    // per round over the pinned edge list (the PageRank/LPA iterative
    // exception), min-dist folding per round. Harmonic (Σ 1/d), not
    // classic closeness: well-defined on disconnected graphs, and the
    // per-distance weights are integer micro literals so the aggregate
    // is an order-independent long sum — the compare is exact.
    "graph_closeness_sampled" -> ((s, d) => {
      val e = tradeEdgesLong(s, d).localCheckpoint(false)
      // The source sample stays ranked by md5 of the LABEL string
      // (content-stable, replayed verbatim by the oracle): decode the
      // node-sized distinct set, rank, keep the long id for the BFS.
      val srcs = e.select(col("src").as("node")).distinct()
        .select(col("node"), decodeNode(col("node")).as("lab"))
        .orderBy(md5(col("lab")), col("lab")).limit(ClosenessSources)
        .select(col("node"))
      Graph.harmonicCloseness(e, "src", "dst", srcs, "node", ClosenessDepth)
        .select(decodeNode(col("source")).as("source"), col("n_reached"),
          col("harmonic_micro"))
        .orderBy("source")
    }))

  private def duckPageRank(iters: Int): String = {
    val S = Graph.Scale
    val sb = new StringBuilder
    // Every multiply-referenced CTE is AS MATERIALIZED — DuckDB inlines
    // plain CTEs, and r{t-1} is referenced twice per iteration (c_t and
    // d_t), so an un-materialized chain re-evaluates the whole prefix
    // 2^t times (the PCA-oracle lesson; measured: the sf0.1 compare
    // wedged on exactly this query before the hint).
    sb ++= s"""base AS MATERIALIZED (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
      |  's' || CAST(l_suppkey AS VARCHAR) AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS MATERIALIZED (SELECT c AS src, sp AS dst FROM base
      |          UNION ALL SELECT sp, c FROM base),
      |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
      |          UNION SELECT DISTINCT dst FROM edges),
      |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
      |od AS MATERIALIZED (SELECT src, count(*) AS du FROM edges GROUP BY 1),
      |r0 AS MATERIALIZED (
      |  SELECT node, CAST($S // n AS BIGINT) AS r FROM nodes, nn)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
        |c$t AS MATERIALIZED (SELECT e.dst AS node, sum(r.r // od.du) AS insum
        |        FROM edges e JOIN r${t - 1} r ON e.src = r.node
        |        JOIN od ON od.src = e.src GROUP BY 1),
        |d$t AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS dang
        |        FROM r${t - 1} r LEFT JOIN od ON od.src = r.node
        |        WHERE od.src IS NULL),
        |r$t AS MATERIALIZED (SELECT nodes.node,
        |  CAST((($S * 15) // ${Graph.DampDen}) // nn.n
        |    + ((coalesce(c.insum, 0) + d.dang // nn.n) * ${Graph.DampNum})
        |      // ${Graph.DampDen} AS BIGINT) AS r
        |  FROM nodes LEFT JOIN c$t c ON c.node = nodes.node, d$t d, nn)""".stripMargin
    }
    sb.toString
  }

  /** The k-core peel chain: each survivor set a{t} is referenced three
    * times by the next round (two endpoint joins + implicitly via the
    * shared prefix), so every CTE is MATERIALIZED (the PageRank rule).
    */
  private def duckKCore(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""base AS MATERIALIZED (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
      |  's' || CAST(l_suppkey AS VARCHAR) AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |und AS MATERIALIZED (SELECT DISTINCT least(c, sp) AS u,
      |  greatest(c, sp) AS v FROM base),
      |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
      |  UNION ALL SELECT v, u FROM und),
      |kv AS MATERIALIZED (SELECT CAST(ceil(quantile_cont(dg, $KCoreQuantile))
      |    AS BIGINT) AS k
      |  FROM (SELECT src, count(*) AS dg FROM e0 GROUP BY 1)),
      |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e0)""".stripMargin
    for (t <- 1 to rounds) {
      sb ++= s""",
        |a$t AS MATERIALIZED (SELECT e.src AS node FROM e0 e
        |  JOIN a${t - 1} x ON e.src = x.node
        |  JOIN a${t - 1} y ON e.dst = y.node
        |  GROUP BY 1 HAVING count(*) >= (SELECT k FROM kv))""".stripMargin
    }
    sb ++= s"""
      |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg_core,
      |  (SELECT k FROM kv) AS k
      |FROM e0 e JOIN a$rounds x ON e.src = x.node
      |JOIN a$rounds y ON e.dst = y.node
      |GROUP BY 1 ORDER BY node""".stripMargin
    sb.toString
  }

  /** The LPA chain: one (votes, labels) CTE pair per round; l{t} feeds
    * the next round's vote join — MATERIALIZED throughout (PageRank
    * rule).
    */
  private def duckLpa(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """base AS MATERIALIZED (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
      |  's' || CAST(l_suppkey AS VARCHAR) AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS MATERIALIZED (SELECT c AS src, sp AS dst FROM base
      |          UNION ALL SELECT sp, c FROM base),
      |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
      |          UNION SELECT DISTINCT dst FROM edges),
      |es AS MATERIALIZED (SELECT src, dst FROM edges
      |          UNION ALL SELECT node, node FROM nodes),
      |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
        |v$t AS MATERIALIZED (SELECT e.src, l.lbl, count(*) AS c
        |        FROM es e JOIN l${t - 1} l ON l.node = e.dst GROUP BY 1, 2),
        |l$t AS MATERIALIZED (SELECT src AS node, lbl FROM v$t
        |        QUALIFY row_number() OVER (PARTITION BY src
        |          ORDER BY c DESC, lbl) = 1)""".stripMargin
    }
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "graph_kcore" -> s"WITH ${duckKCore(KCoreRounds)}",

    // BFS as a depth-capped recursive CTE (UNION set semantics bound
    // the working table; min-dist folding afterwards), same md5-ranked
    // source sample and the same verbatim harmonic CASE literals.
    "graph_closeness_sampled" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT DISTINCT o_custkey, l_suppkey
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |lab AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
         |    's' || CAST(l_suppkey AS VARCHAR) AS sp FROM base),
         |e AS (SELECT c AS src, sp AS dst FROM lab
         |      UNION ALL SELECT sp, c FROM lab),
         |srcs AS (SELECT DISTINCT src AS node FROM e
         |         ORDER BY md5(src), src LIMIT $ClosenessSources),
         |rec(qsrc, node, d) AS (
         |  SELECT node, node, 0 FROM srcs
         |  UNION
         |  SELECT r.qsrc, e.dst, r.d + 1
         |  FROM rec r JOIN e ON e.src = r.node
         |  WHERE r.d < $ClosenessDepth),
         |md AS (SELECT qsrc, node, min(d) AS d FROM rec GROUP BY 1, 2)
         |SELECT qsrc AS source,
         |  CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_reached,
         |  CAST(coalesce(sum($HarmonicCase), 0) AS BIGINT) AS harmonic_micro
         |FROM md GROUP BY qsrc ORDER BY source""".stripMargin,

    "graph_lpa" ->
      s"""WITH ${duckLpa(LpaIters)}
         |SELECT node, lbl AS community FROM l$LpaIters
         |ORDER BY node""".stripMargin,

    "graph_assortativity" ->
      """WITH base AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, sp AS dst FROM base
        |  UNION ALL SELECT sp, c FROM base),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg
        |  FROM edges GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(dx.dg) AS BIGINT) AS sx,
        |    CAST(sum(dy.dg) AS BIGINT) AS sy,
        |    CAST(sum(dx.dg * dy.dg) AS BIGINT) AS sxy,
        |    CAST(sum(dx.dg * dx.dg) AS BIGINT) AS sxx,
        |    CAST(sum(dy.dg * dy.dg) AS BIGINT) AS syy
        |  FROM edges e JOIN deg dx ON dx.src = e.src
        |               JOIN deg dy ON dy.src = e.dst)
        |SELECT m, sxy,
        |  round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    nullif(sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |     * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy),
        |     0.0), 6)
        |    AS assortativity
        |FROM st""".stripMargin,

    "graph_link_prediction" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
         |  FROM lineitem),
         |e0 AS (SELECT DISTINCT a.sk AS u, b.sk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk),
         |e AS (SELECT u, v FROM e0
         |  WHERE substr(md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)),
         |    1, 1) < '2'),
         |sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e
         |  UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS dg
         |  FROM sym GROUP BY 1),
         |cn AS (SELECT l.a AS u, r.b AS v, CAST(count(*) AS BIGINT) AS common
         |  FROM sym l JOIN sym r ON l.b = r.a AND l.a < r.b GROUP BY 1, 2),
         |cand AS (SELECT cn.* FROM cn WHERE NOT EXISTS
         |  (SELECT 1 FROM e WHERE e.u = cn.u AND e.v = cn.v))
         |SELECT cand.u, cand.v, common, du.dg AS deg_u, dv.dg AS deg_v,
         |  common * 1000000 // (du.dg + dv.dg - common) AS jaccard_micro
         |FROM cand JOIN deg du ON du.a = cand.u
         |          JOIN deg dv ON dv.a = cand.v
         |ORDER BY jaccard_micro DESC, u, v LIMIT $LinkPredTopK""".stripMargin,

    "graph_pagerank" ->
      s"""WITH ${duckPageRank(PageRankIters)}
         |SELECT node, r AS rank_pico FROM r$PageRankIters
         |ORDER BY node""".stripMargin,

    "graph_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        |            FROM lineitem),
        |e0 AS (SELECT DISTINCT a.sk AS u, b.sk AS v
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk),
        |e AS (SELECT u, v FROM e0
        |      WHERE substr(md5(CAST(u AS VARCHAR) || ':' ||
        |                        CAST(v AS VARCHAR)), 1, 1) < '2'),
        |deg AS (SELECT node, count(*) AS dg FROM
        |        (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |o AS (SELECT CASE WHEN du.dg <= dv.dg THEN e.u ELSE e.v END AS src,
        |             CASE WHEN du.dg <= dv.dg THEN e.v ELSE e.u END AS dst
        |      FROM e JOIN deg du ON du.node = e.u
        |             JOIN deg dv ON dv.node = e.v),
        |o2 AS (SELECT o.src, o.dst, d.dg AS ddst
        |       FROM o JOIN deg d ON d.node = o.dst),
        |w AS (SELECT a.dst AS wb, b.dst AS wc
        |      FROM o2 a JOIN o2 b ON a.src = b.src
        |       AND (a.ddst < b.ddst OR (a.ddst = b.ddst AND a.dst < b.dst))),
        |tri AS (SELECT count(*) AS nt FROM w
        |        WHERE EXISTS (SELECT 1 FROM o
        |                      WHERE o.src = w.wb AND o.dst = w.wc)),
        |ne AS (SELECT count(*) AS n FROM e),
        |nw AS (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n FROM deg)
        |SELECT ne.n AS n_edges, nw.n AS n_wedges,
        |  CAST(tri.nt AS BIGINT) AS n_triangles,
        |  CAST(tri.nt * 512 AS BIGINT) AS est_triangles,
        |  CASE WHEN nw.n > 0 THEN round(tri.nt * 3.0 / nw.n, 6) END
        |    AS clustering
        |FROM ne, nw, tri""".stripMargin)
}
