package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._

/** Iterative graph algorithms as keyed aggregations — the PageRank
  * companion of `Dedup.connectedComponents`. Each iteration is one
  * edge-keyed join + one destination-keyed aggregate; per-iteration
  * driver traffic is ZERO (the dangling-mass total rides as a 1-row
  * broadcast inside the plan, never collected).
  *
  * Exactness contract (the engine's portable-iteration recipe): ranks
  * live in integer PICO-units (1e12 = total mass), every step is
  * integer arithmetic — floor division for out-degree splits, damping
  * as ×85 `div` 100 — so reductions are order-independent, results are
  * partition-count-invariant, and the DuckDB oracle replays the chain
  * bit-exactly with `//`. Floors shed sub-pico mass instead of
  * renormalizing (a deterministic algorithm definition, identical on
  * both engines).
  *
  * Scale shape: state is one (node, rank) row per node; edges are
  * scanned once per iteration; a hot destination (page with millions of
  * in-links) is one reducer key with map-side partial sums — never one
  * task's pairwise problem. The node-sized per-iteration frame is
  * localCheckpointed (allowed by the SURVEY §8 rule: node-sized, not
  * edge- or token-stream-sized), keeping plan depth flat in iters.
  */
object Graph {
  val Scale = 1000000000000L // 1e12 pico-units of total rank mass
  val DampNum = 85L          // damping 0.85 as an exact integer ratio
  val DampDen = 100L

  /** Broadcast `state` into a join only when the caller-known row count
    * fits the engine's one driver budget (`ops/Bounds`): `rows × rowBytes
    * ≤ spark.sql.autoBroadcastJoinThreshold`, with `rowBytes` the planner's
    * own per-row size estimate of the state's columns (24 B for a
    * (long, long) row, so ~437k rows at the 10 MB default). Otherwise the
    * state is returned unhinted and the planner keys an exchange of the
    * node-sized side — same plan shape, no driver/executor OOM at
    * billion-node scale. A threshold below 0 never broadcasts, not even
    * empty state. PlanAuditSpec pins both sides: "maybeBroadcast hints at
    * rows × rowBytes == threshold, not one row above" and "kCore with
    * empty node state at threshold -1: no BroadcastExchange".
    */
  private[graft] def maybeBroadcast(state: DataFrame, rows: Long): DataFrame = {
    val rowBytes = EstimationUtils.getSizePerRow(state.queryExecution.analyzed.output)
    if (graft.ops.Bounds.fits(state.sparkSession, rows, rowBytes.toLong)) broadcast(state)
    else state
  }

  /** PageRank after `iters` synchronous iterations over a directed edge
    * list. Returns (node, rank_pico) — exact integers.
    *
    * teleport = (Scale·15/100)/N; dangling mass is redistributed
    * uniformly (D/N to every node, floor) before damping, the standard
    * stochastic-matrix completion.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // The edge list is EVERY iteration's input, so it is pinned once,
    // with the out-degree DENORMALIZED onto each edge row — the
    // iterative-algorithm exception to the §8 recompute rule:
    // recomputing would replay the caller's whole edge-construction
    // chain (often a multi-table join + distinct) iters times, strictly
    // costlier than one read of the pinned rows. GraphX/Pregel cache
    // their edge RDD for the same reason; at 100 TB the edge list is a
    // materialized table the iteration reads per round either way.
    val sel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // r14: the out-degree frame is pinned and COUNTED before it is joined
    // so its broadcast is size-gated like every other node-sized frame
    // (one extra node-scale count job; sel is still evaluated exactly
    // twice, as before — once materializing outdeg, once streaming the
    // join side).
    val outdeg = sel.groupBy(col("src")).agg(count(lit(1)).as("du"))
      .localCheckpoint(false)
    val nOut = outdeg.count()
    val eDeg = sel.join(maybeBroadcast(outdeg, nOut), Seq("src"))
      .localCheckpoint(false)
    val nodes = eDeg.select(col("src").as("node"))
      .union(eDeg.select(col("dst"))).distinct().localCheckpoint(false)
    // Constant plan facts, computed ONCE at build: the node count (one
    // long to the driver — every per-node constant folds around it) and
    // the dangling node set (graph structure, identical every round; a
    // fully-symmetrized or link-closed graph has none, and then the
    // dangling branch vanishes from every iteration's plan).
    val n = nodes.count()
    require(n > 0, "pageRank: empty edge list (no nodes)")
    val dangNodes = nodes.join(eDeg.select(col("src").as("node")).distinct(),
      Seq("node"), "left_anti").localCheckpoint(false)
    val hasDangling = !dangNodes.isEmpty
    val teleport = ((Scale * 15L) / DampDen) / n
    // Node-sized frames (ranks, dangling set) are broadcast WHEN THEY FIT
    // THE DRIVER BUDGET (maybeBroadcast): localCheckpoint drops size stats,
    // so without the hint every per-iteration join would plan as a full
    // edge shuffle + sort — but above the bound the hint is withheld and
    // the join keys an exchange of the node-sized side instead (the
    // billion-node flip, now code).
    // Every iteration level is localCheckpointed (node-sized state —
    // inside the §8 rule). A lazy chain measured QUADRATIC in iters
    // here: each level's rank frame rides into the next level as a
    // broadcast-exchange SUBPLAN, and broadcast subplans execute
    // independently — level t recomputes levels 1..t-1, so 5 lazy
    // levels cost 15 edge scans (measured 1.7 s/iter marginal at sf0.1
    // vs ~0.5 s checkpointed).
    var ranks = nodes.select(col("node"), lit(Scale / n).as("r"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      // r13 (guide §2.4): nodes with no in-links used to re-enter via a
      // per-iteration `nodes LEFT JOIN insum` — a sort-merge join (the
      // checkpointed node frame has no size stats) costing an extra
      // exchange+sort of both sides every round. UNION-ing a zero
      // contribution per node into the SAME keyed aggregate the edge
      // contributions already need yields the identical insum (sum + 0,
      // never-null instead of coalesce(null, 0)) with ONE exchange per
      // iteration and no join at all.
      val insum = eDeg
        .join(maybeBroadcast(ranks.withColumnRenamed("node", "src"), n),
          Seq("src"))
        .select(col("dst").as("node"), expr("r div du").as("c"))
        .unionAll(nodes.select(col("node"), lit(0L).as("c")))
        .groupBy(col("node")).agg(sum(col("c")).as("insum"))
      val withDang =
        if (hasDangling)
          insum.crossJoin(broadcast( // 1-row aggregate: always broadcastable
            ranks.join(maybeBroadcast(dangNodes, n), Seq("node"), "left_semi")
              .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))))
        else
          insum.withColumn("dang", lit(0L))
      ranks = withDang
        .select(col("node"),
          (lit(teleport) +
            expr(s"((insum + dang div ${n}L) * ${DampNum}L) div ${DampDen}L"))
            .as("r"))
        .localCheckpoint(false)
    }
    ranks.select(col("node"), col("r").as("rank_pico"))
  }

  /** K-core of an undirected graph by synchronous peeling: drop every
    * node whose degree among SURVIVORS is below k, for a fixed number
    * of rounds (the constant is part of the query definition — the
    * oracle replays exactly this many rounds; pick rounds ≥ measured
    * fixpoint depth with margin, and assert fixpoint in the spec).
    * k itself is adaptive — ceil of the `degQuantile` exact percentile
    * of the initial degree distribution — so the same query stays
    * nontrivial as the corpus (and its degree scale) grows.
    *
    * Scale shape: the EDGE list is pinned once (the pageRank iterative
    * exception) and scanned once per round; the ITERATION STATE is the
    * node-sized survivor set, broadcast into two semi-joins per round
    * (billion-node graphs flip the broadcast to a keyed exchange of the
    * node-sized side — same plan shape, same note as pageRank). The
    * threshold k is a plan-time constant: one double to the driver,
    * folded into every round's HAVING (the `n = nodes.count()` pattern).
    * Peeling is monotone (survivor sets only shrink), so synchronous
    * rounds converge to THE k-core regardless of execution order —
    * reductions are integer counts, results partition-count-invariant.
    *
    * Returns (node, deg_core, k): core members with their within-core
    * degree and the adaptive threshold actually applied.
    */
  def kCore(edges: DataFrame, uCol: String, vCol: String,
      degQuantile: Double, rounds: Int,
      assumeCanonical: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // r13: `assumeCanonical` skips the least/greatest+distinct
    // canonicalization (one full edge-stream shuffle) when the CALLER
    // already guarantees a symmetric, duplicate-free, self-loop-free
    // edge list — GraphQueries.tradeEdges does by construction (one
    // distinct key-pair frame emitted in both orientations, 'c'/'s'
    // prefixes make u ≠ v). For such input the canonicalize+resymmetrize
    // round-trip is the identity, so the result is unchanged.
    val sym = (if (assumeCanonical)
        edges.select(col(uCol).as("src"), col(vCol).as("dst"))
      else {
        val und = edges
          .select(least(col(uCol), col(vCol)).as("u"),
            greatest(col(uCol), col(vCol)).as("v"))
          .where(col("u") < col("v")).distinct()
        und.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      }).localCheckpoint(false)
    // Degree frame pinned (node-sized, §8 rule): it feeds the threshold
    // percentile AND round 1 below.
    val deg0 = sym.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(false)
    val k = math.ceil(deg0
        .agg(expr(s"percentile(dg, $degQuantile)").as("q"))
        .first().getDouble(0)).toLong
    // r13 (guide §2.3/§2.4): one round used to cost TWO edge-stream
    // broadcast semi-joins (src-alive and dst-alive) feeding the degree
    // aggregate. The src-side restriction commutes with the aggregate —
    // count edges into alive dsts for EVERY src, then semi-join the
    // NODE-sized count frame against alive — so the second edge-scale
    // semi-join becomes a node-scale one. Same survivor set (a src not
    // in alive is dropped either way; an alive src's count only ever
    // involves dst-restricted edges).
    def survivors(alive: DataFrame, aliveRows: Long): DataFrame = sym
      .join(maybeBroadcast(alive.withColumnRenamed("node", "dst"), aliveRows),
        Seq("dst"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("dg"))
      .where(col("dg") >= k)
      .select(col("src").as("node"))
      .join(maybeBroadcast(alive, aliveRows), Seq("node"), "left_semi")
    // Round 1's restriction is the identity (alive₀ = all nodes), so
    // round 1 IS the pinned initial-degree filter — zero edge scans.
    var alive = deg0.where(col("dg") >= k).select(col("src").as("node"))
      .localCheckpoint(false)
    var aliveN = alive.count()
    // Early exit at the fixpoint (r13): peeling is monotone (survivors
    // only shrink and each round's set is semi-joined into the
    // previous), so an unchanged COUNT means an unchanged SET, and
    // every later round is the identity — running them would reproduce
    // the same frame at full price. The declared `rounds` stays the
    // algorithm definition (and the oracle's replay depth); stopping at
    // the fixpoint is result-identical by monotonicity.
    var r = 1
    while (r < rounds && aliveN > 0) {
      val next = survivors(alive, aliveN).localCheckpoint(false)
      val n = next.count()
      r += 1
      if (n == aliveN) r = rounds // fixpoint: remaining rounds are identity
      aliveN = n
      alive = next
    }
    sym
      .join(maybeBroadcast(alive.withColumnRenamed("node", "dst"), aliveN),
        Seq("dst"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("deg_core"))
      .withColumnRenamed("src", "node")
      .join(maybeBroadcast(alive, aliveN), Seq("node"), "left_semi")
      .select(col("node"), col("deg_core"), lit(k).as("k"))
  }

  /** Triangle census of an undirected graph via the degree-oriented
    * (compact-forward) algorithm: orient every edge from its lower
    * (degree, id) endpoint, build wedges only at a triangle's
    * lowest-rank corner, close them with one keyed semi-join back to
    * the oriented edge set. Orientation bounds out-degree by O(√m), so
    * the wedge stage is O(m^1.5) worst case, and a hub node generates
    * no wedge explosion — its edges all point INTO it. Everything is
    * keyed joins/aggs on node ids; no windows, no driver iteration.
    *
    * Input: one row per undirected edge; self-loops and duplicate /
    * mirrored spellings are canonicalized away. Output: ONE row
    * (n_edges, n_wedges, n_triangles, clustering) where n_wedges is the
    * standard 2-path count Σ d(d-1)/2 and clustering = 3T / W (null on
    * a wedge-free graph).
    */
  def triangleCensus(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    val e = edges
      .select(least(col(uCol), col(vCol)).as("u"),
        greatest(col(uCol), col(vCol)).as("v"))
      .where(col("u") < col("v")).distinct()
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    // u < v by construction, so on a degree tie the id orientation
    // (u before v) is exactly "when du <= dv".
    val or = e
      .join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
      .select(when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("src"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("dst"))
    val o2 = or.join(deg.select(col("node").as("dst"), col("dg").as("ddst")), "dst")
    val wedges = o2.as("a").join(o2.as("b"),
        col("a.src") === col("b.src") &&
          (col("a.ddst") < col("b.ddst") ||
            (col("a.ddst") === col("b.ddst") && col("a.dst") < col("b.dst"))))
      .select(col("a.dst").as("wb"), col("b.dst").as("wc"))
    val tri = wedges.join(or,
      col("wb") === col("src") && col("wc") === col("dst"), "left_semi")
    // The three counters land in one final row via a 3-row union + one
    // global agg (NOT cross-joined 1-row frames, which would triple the
    // shared edge/degree subtree behind nested-loop attaches).
    val stats = e.agg(count(lit(1)).as("n")).select(lit("e").as("k"), col("n"))
      .unionAll(deg.agg(coalesce(sum(col("dg") * (col("dg") - 1) / 2), lit(0.0))
        .cast("long").as("n")).select(lit("w").as("k"), col("n")))
      .unionAll(tri.agg(count(lit(1)).as("n")).select(lit("t").as("k"), col("n")))
    stats.agg(
        max(when(col("k") === "e", col("n"))).as("n_edges"),
        max(when(col("k") === "w", col("n"))).as("nw"),
        max(when(col("k") === "t", col("n"))).as("nt"))
      .select(col("n_edges"), col("nw").as("n_wedges"),
        col("nt").as("n_triangles"),
        // guarded: double 0/0 would be NaN, not null
        when(col("nw") > 0, round(col("nt") * 3.0 / col("nw"), 6))
          .as("clustering"))
  }

  /** Label-propagation communities (Raghavan et al. 2007), synchronous
    * with a SELF-VOTE: each round every node adopts the most frequent
    * label among its neighbors PLUS its own current label, ties broken
    * by smallest label. The self-vote is the standard damping for the
    * two-coloring oscillation synchronous LPA exhibits on bipartite
    * graphs (the trade graph IS bipartite); a fixed iteration count is
    * part of the operator definition — the oracle replays exactly that
    * many rounds. Argmax is `min(struct(-count, label))` — one struct
    * comparison, no window.
    *
    * Scale shape: identical to [[pageRank]] — the (self-looped) edge
    * list is pinned once and scanned once per round; iteration state is
    * the node-sized label frame, broadcast into the per-round join
    * (billion-node graphs flip the broadcast to a keyed exchange of the
    * node-sized side); each level localCheckpointed (lazy chains are
    * quadratic in iters, see pageRank).
    */
  def lpa(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, distinctEdges: Boolean = false): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val sel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes = sel.select(col("src").as("node"))
      .union(sel.select(col("dst"))).distinct().localCheckpoint(false)
    // r14: one node-scale count (materializes the pinned node frame that
    // every later consumer reads anyway) gates the per-round label
    // broadcast — above the bound the rounds key an exchange instead.
    val nNodes = nodes.count()
    val eSelf = sel
      .unionAll(nodes.select(col("node").as("src"), col("node").as("dst")))
      .localCheckpoint(false)
    var lbl = nodes.select(col("node"), col("node").as("lbl"))
      .localCheckpoint(false)
    // r13 (guide §2.3, aggregate before you shuffle): with
    // `distinctEdges` the caller guarantees `edges` has no duplicate
    // (src, dst) rows, and round 1 then has a closed form — every
    // neighbor carries a DISTINCT label (its own id), so every vote
    // count is exactly 1 and min(struct(-1, lbl)) degenerates to
    // min(dst ∪ {self}): one map-side-combinable MIN aggregate whose
    // shuffle is node-sized partial minima, instead of the full
    // edge-scale (src, lbl) vote stream — the catalog's largest
    // remaining per-query shuffle (62 MB). Later rounds keep the
    // general vote plan (labels have collapsed by then, so their
    // partial aggregation combines well map-side).
    var start = 1
    if (distinctEdges && iters >= 1) {
      lbl = eSelf.groupBy(col("src")).agg(min(col("dst")).as("lbl"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(false)
      start = 2
    }
    // (r13 note: a per-round fixpoint check was tried and REVERTED —
    // the fixture's label frontier does not stabilize before the last
    // round, so the per-round semi-join+count only added jobs, measured
    // 19→30 jobs with no wall win. kCore keeps its check because
    // peeling DOES hit its fixpoint after round 1 there.)
    for (_ <- start to iters) {
      lbl = eSelf
        .join(maybeBroadcast(lbl.select(col("node").as("dst"), col("lbl")),
            nNodes),
          Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("_b"))
        .select(col("src").as("node"), col("_b.l").as("lbl"))
        .localCheckpoint(false)
    }
    lbl.select(col("node"), col("lbl").as("community"))
  }

  /** Per-distance harmonic weight CASE, round(1e6/d) integer literals —
    * built once here so the Spark plan and the DuckDB oracle share the
    * text verbatim (d = 0 falls through to NULL: self-distance never
    * contributes).
    */
  def harmonicCaseSql(depth: Int): String =
    "CASE d " + (1 to depth)
      .map(dd => s"WHEN $dd THEN ${Math.round(1e6 / dd)}")
      .mkString(" ") + " END"

  /** Harmonic closeness centrality from an explicit source set:
    * synchronous BFS — one frontier join + one min-dist fold per round
    * over the (caller-pinned) edge list, `depth` rounds — then
    * harmonic_micro = Σ round(1e6/d) over reached nodes, an
    * order-independent integer sum. Returns
    * (source, n_reached, harmonic_micro). State is |sources|·|nodes|
    * rows max; `sources` must be bounded (sampled) — exact all-pairs
    * closeness is Θ(V·E) by definition, not a plan defect.
    *
    * r13 round 2: with ≤64 sources (the catalog samples 16) the walk
    * runs BIT-PACKED — one long mask per node, bit b = "source b has
    * reached this node" — so the per-round frame is NODE-sized instead
    * of (source, node) PAIR-sized: the edge join emits one row per
    * frontier edge (not one per edge × reaching source), the pair
    * DISTINCT becomes a map-side-combinable `bit_or` per dst, and the
    * visited anti-join becomes mask arithmetic against node-sized
    * state — on the dense fixture graph (every source's frontier ≈ all
    * nodes at depth 2) that is a ~|sources|× cut of the dedup volume.
    * Exactly equal to the pair walk: the 16 BFS traversals are
    * independent, bit b's level trace IS source b's BFS (bit_or ∘
    * mask-subtract = per-source "reached this round and not before"),
    * and BFS level order is min-distance — GraphSpec pins bitset ==
    * pair spelling on hand graphs and the fixture. Wider source sets
    * fall back to the pair spelling ([[harmonicClosenessPairs]]).
    * The source sample rides as plan constants (a ≤64-row bounded
    * collect — the broadcast-constant pattern, same as the node-count
    * folds above).
    */
  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String, depth: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    // r14 (advice): the collect is BOUNDED (65 rows answers "more than
    // 64?" without pulling an unbounded frame to the driver), and this
    // ONE evaluation is the single source of truth for the bitset walk —
    // the bit mapping and the level-0 frontier are both built from it,
    // so a non-deterministic sources frame cannot disagree with itself.
    // >64 values, duplicates, or nulls route to the pair spelling (which
    // keeps the (null, 0, 0) output row for a null source).
    val srcField = sources.select(col(sourceCol)).schema.head
    val srcVals = sources.select(col(sourceCol)).limit(65).collect()
      .map(_.get(0))
    if (srcVals.nonEmpty && srcVals.length <= 64 && !srcVals.contains(null) &&
        srcVals.distinct.length == srcVals.length)
      harmonicClosenessBitset(edges, srcCol, dstCol, srcField.dataType,
        depth, srcVals)
    else
      harmonicClosenessPairs(edges, srcCol, dstCol, sources, sourceCol, depth)
  }

  /** Bit-packed BFS (≤64 distinct sources): per-node long masks, one
    * `bit_or` aggregate per round. See [[harmonicCloseness]].
    */
  private def harmonicClosenessBitset(edges: DataFrame, srcCol: String,
      dstCol: String, srcType: org.apache.spark.sql.types.DataType,
      depth: Int, srcVals: Array[Any]): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // bit index -> source value as a folded CASE chain (≤64 literals;
    // bit assignment is arbitrary — every per-source statistic is
    // invariant under it, the output re-maps bit → value at the end)
    val sourceOf = coalesce(srcVals.zipWithIndex.map {
      case (v, i) => when(col("bit") === lit(i), lit(v))
    }: _*)
    // Level-0 frontier straight from the collected values (advice fix:
    // no re-scan of sources): a ≤64-row LocalRelation — stats-visible,
    // zero jobs, and bit mapping == frontier by construction.
    val f0 = srcVals.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(v, 1L << i)
    }
    var frontier = spark.createDataFrame(
      java.util.Arrays.asList(f0: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", srcType),
        org.apache.spark.sql.types.StructField("mask",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // Frontier/visited row counts gate the per-round broadcasts
    // (maybeBroadcast): the count replaces the old isEmpty probe — same
    // one job per round over the pinned frontier — and Σ level counts
    // bounds the visited fold's row count from above.
    var frontierN = srcVals.length.toLong
    var visitedN = frontierN
    val levels = scala.collection.mutable.ArrayBuffer(
      frontier.withColumn("d", lit(0)))
    var i = 1
    while (i <= depth && frontierN > 0) {
      // visited state: node-sized OR-fold of the checkpointed levels
      // (a node can gain bits across several levels, so the fold is a
      // groupBy, not a bare union)
      val visited = levels.map(_.select(col("node"), col("mask")))
        .reduce(_ unionAll _)
        .groupBy(col("node")).agg(expr("bit_or(mask)").as("vmask"))
      val cand = e
        .join(maybeBroadcast(
            frontier.select(col("node").as("src"), col("mask")), frontierN),
          Seq("src"))
        .groupBy(col("dst")).agg(expr("bit_or(mask)").as("cmask"))
        .withColumnRenamed("dst", "node")
      frontier = cand
        .join(maybeBroadcast(visited, visitedN), Seq("node"), "left")
        .select(col("node"),
          col("cmask").bitwiseAND(bitwise_not(coalesce(col("vmask"), lit(0L))))
            .as("mask"))
        .where(col("mask") =!= 0L)
        .localCheckpoint(false)
      frontierN = frontier.count()
      visitedN += frontierN
      levels += frontier.withColumn("d", lit(i))
      i += 1
    }
    levels.reduce(_ unionByName _)
      .select(explode(expr(
        s"filter(sequence(0, ${srcVals.length - 1})," +
          " b -> (shiftright(mask, b) & 1) = 1)")).as("bit"), col("d"))
      .groupBy(col("bit"))
      .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_reached"),
        coalesce(sum(expr(harmonicCaseSql(depth))), lit(0L))
          .as("harmonic_micro"))
      .select(sourceOf.as("source"), col("n_reached"), col("harmonic_micro"))
  }

  /** The general (source, node) pair spelling — any source-set size;
    * the bitset walk's equality target in GraphSpec.
    */
  private[graft] def harmonicClosenessPairs(edges: DataFrame, srcCol: String,
      dstCol: String, sources: DataFrame, sourceCol: String,
      depth: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // r13 (guide §2.3/§2.4): level-synchronous FRONTIER BFS. The old
    // spelling folded the WHOLE accumulated distance frame through a
    // (qsrc, node) min-aggregate every round — |sources|·|nodes| rows
    // re-shuffled depth times (116 MB of the query's shuffle at sf0.1)
    // — and joined frontier→edges as a sort-merge join that re-shuffled
    // the edge list every round. Now each round ships only the FRONTIER
    // (nodes first reached that round) as a broadcast into the edge
    // scan, dedups the candidate (qsrc, node) pairs, and drops
    // already-visited ones with a broadcast anti-join against the
    // accumulated per-level frames. BFS level order IS min-distance
    // (a node's first level = its shortest distance), so the union of
    // levels equals the old min-fold exactly. An empty frontier ends
    // the walk early — identical by induction (no new node can appear
    // after a round that found none). State stays |sources|·|nodes|
    // bounded; billion-node graphs flip the broadcasts to keyed
    // exchanges of the frontier side, the pageRank/kCore note.
    var frontier = sources
      .select(col(sourceCol).as("qsrc"), col(sourceCol).as("node"),
        lit(0).as("d"))
      .localCheckpoint(false)
    // Counts replace the old per-round isEmpty probes (same one job per
    // round over the pinned frontier) and gate the broadcasts: above the
    // driver budget the joins key an exchange of the frontier/visited
    // side instead (maybeBroadcast).
    var frontierN = frontier.count()
    var visitedN = frontierN
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    var i = 1
    while (i <= depth && frontierN > 0) {
      val visited = levels.map(_.select(col("qsrc"), col("node")))
        .reduce(_ unionAll _)
      frontier = e
        .join(maybeBroadcast(
            frontier.select(col("qsrc"), col("node").as("src")), frontierN),
          Seq("src"))
        .select(col("qsrc"), col("dst").as("node")).distinct()
        .join(maybeBroadcast(visited, visitedN), Seq("qsrc", "node"),
          "left_anti")
        .select(col("qsrc"), col("node"), lit(i).as("d"))
        .localCheckpoint(false)
      frontierN = frontier.count()
      visitedN += frontierN
      levels += frontier
      i += 1
    }
    levels.reduce(_ unionByName _)
      .groupBy(col("qsrc").as("source"))
      .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_reached"),
        coalesce(sum(expr(harmonicCaseSql(depth))), lit(0L))
          .as("harmonic_micro"))
  }
}
