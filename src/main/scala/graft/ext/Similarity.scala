package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.TextOps.hash32

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine is the exact baseline: a broadcast of the query
  * vector + one codegen'd projection per row + a top-k — embarrassingly
  * parallel, no shuffle except the final k-row ordering. The scale path is
  * sign-LSH bucketing: candidate generation becomes a key-equi join on
  * bucket signatures (one shuffle on small keys), with cosine verification
  * only inside buckets.
  *
  * All vector math uses higher-order functions over doubles (zip_with /
  * aggregate fold left-to-right) — deterministic summation order, matching
  * an index-based fold in DuckDB for oracle parity. No UDFs.
  */
object Similarity {

  /** A constant codebook / centroid set: (id, full-dim vector) rows sorted
    * by id — KB-sized, collected driver-side once and shipped to tasks as
    * codegen reference objects (the broadcast-constant pattern).
    */
  type Book = Array[(Long, Array[Double])]

  /** Cast a float array to double for exact, portable arithmetic. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product via the native codegen expression (graft.functions
    * .VectorDot) — same left-to-right summation as the zip_with+aggregate
    * fold it replaces, minus the interpreted-lambda overhead per element.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vector_dot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine against one query vector (broadcast 1-row
    * frame; ties broken by id for determinism).
    */
  def topKCosine(embeddings: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(asDouble(col(queryVecCol)).as("_qvec")))
    embeddings
      .crossJoin(q)
      .select(col(idCol),
        round(cosine(asDouble(col(vecCol)), col("_qvec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) ANN: partition vectors into `numCells` Voronoi
    * cells around deterministic seed centroids (the first `numCells` ids —
    * a k-means iteration would refine them, the plan shape is identical),
    * then answer a query by probing only the `nprobe` cells nearest to it.
    * At scale: assignment is a broadcast of `numCells` centroids + one
    * argmax per row — a PURE PROJECTION, zero shuffle: the centroids
    * arrive as a single broadcast row holding a sorted array<struct>, and
    * the argmax is `array_min` over (1 - cosine, cell_id) structs
    * (lexicographic struct ordering = max cosine, ties to the lowest cell
    * id; 1-x keeps the sort key non-negative so no -0.0 ordering edge).
    * An earlier form used a row_number window per vector — an exchange
    * plus two sorts of vector-sized rows that the projection form deletes
    * outright. Cell choice rounds cosine to 6 before the argmax so
    * cross-engine ulp noise can't flip assignments.
    */
  def ivfAssign(embeddings: DataFrame, idCol: String, vecCol: String,
      numCells: Int): DataFrame = {
    val staged = embeddings
      .select(col(idCol), asDouble(col(vecCol)).as("vecd"))
      .select(col(idCol), col("vecd"), norm(col("vecd")).as("nrm"))
    val centArr = broadcast(staged.where(col(idCol) < numCells)
      .agg(array_sort(collect_list(struct(col(idCol).as("cell_id"),
        col("vecd").as("cvec"), col("nrm").as("cnrm")))).as("_cents")))
    staged.crossJoin(centArr)
      .withColumn("_best", array_min(transform(col("_cents"), c =>
        struct((lit(1.0) - round(dot(col("vecd"), c("cvec")) / (col("nrm") * c("cnrm")), 6)).as("inv"),
          c("cell_id").as("cell_id")))))
      .select(col(idCol), col("vecd"), col("nrm"), col("_best.cell_id").as("cell"))
  }

  /** Two-level (coarse-then-fine) IVF assignment — the scale form of
    * [[ivfAssign]] for callers that derive `numCells` from the corpus
    * size (cells ∝ n). The flat broadcast argmax does n·cells dot
    * products, which with cells ∝ n is O(n²/pop) — the quadratic term
    * the r11 scale rehearsal measured emerging in semdedup_pairs /
    * dedup_embed_pairs. Here the centroid set is quantized
    * hierarchically: `nCoarse = ceil(sqrt(numCells))` coarse seeds (a
    * PREFIX of the fine seeds, same deterministic id-prefix rule), each
    * fine centroid argmaxes to a coarse group (a coarse seed is pinned
    * to its own group so no group is empty), and a vector argmaxes first
    * over the coarse seeds, then only over that group's fine centroids —
    * n·(√cells + avg-group) ≈ n·2√cells dot products, back to ~linear
    * when cells ∝ n.
    * Assignment is a clustering heuristic, so two-level ≠ flat cell ids
    * is acceptable by design; near-identical vectors still co-assign
    * (identical inputs take identical argmax paths), which is the only
    * property the SemDeDup blocking argument needs — measured recall vs
    * exact all-pairs is pinned by `ExtSpec`. Every argmax rounds cosine
    * to 6 and breaks ties to the lowest id, exactly like [[ivfAssign]],
    * so DuckDB replays both levels verbatim.
    *
    * TWO SPELLINGS of the fine (leaf) lookup, dispatched on cell count.
    * The compute term is n·2√cells in both; they differ in where the
    * fine-centroid PAYLOAD lives:
    *
    *  - `numCells <= broadcastMaxCells` (default [[TwoLevelBroadcastCells]]):
    *    both centroid tables arrive as single broadcast rows (a sorted
    *    coarse array + a coarse→fines map) and the whole assignment is a
    *    PURE PROJECTION over the vector stream — zero vector-side
    *    shuffle, whole-stage codegen. Optimal at bounded cell counts and
    *    pinned so by `PlanAuditSpec`.
    *  - above the threshold: the groups map is Θ(cells·d) bytes COLLECTED
    *    INTO ONE ROW — with cells ∝ n that is corpus-proportional driver/
    *    executor memory and eventually Spark's 2 GiB single-row bound
    *    (the r12 verdict's carried scale-killer). The joined spelling
    *    ([[ivfAssignTwoLevelJoined]]) keeps fines as a TABLE of √cells
    *    rows (one per coarse group, each holding only its own ~√cells
    *    fine centroids) and shuffle-hash-joins the vector stream,
    *    repartitioned by its coarse argmax `_co`, to its group's row —
    *    ONE bounded shuffle on ~√cells evenly-populated keys (Voronoi
    *    groups of a prefix-seeded quantizer; no skew term), and per-task
    *    memory drops to the groups resident in that partition,
    *    Θ(√cells·d) per group instead of Θ(cells·d) total.
    *
    * Both spellings run the identical rounded argmax math, so results
    * are bit-equal (spec-pinned by `ExtSpec`) and the DuckDB oracle
    * replays either.
    *
    * The construction generalizes: k levels of fanout cells^(1/k) cost
    * n·k·cells^(1/k) dot products (this function is k=2), and the
    * joined leaf spelling bounds the payload at any depth — each level
    * holds Θ(cells^(1/k)·d) per group row, never Θ(cells) in one row.
    * At billion-vector scale with cells = n/32, √cells ≈ 10⁴ per-vector
    * dots starts to bite and k=3 (≈ 10³ fanout per level, n·3·10³
    * work) is the same code shape one level deeper. Two levels are what
    * the current corpus sizes need; the depth is a constant in the
    * plan, not an architectural limit.
    */
  def ivfAssignTwoLevel(embeddings: DataFrame, idCol: String, vecCol: String,
      numCells: Int,
      broadcastMaxCells: Int = TwoLevelBroadcastCells): DataFrame =
    if (numCells <= broadcastMaxCells)
      ivfAssignTwoLevelBroadcast(embeddings, idCol, vecCol, numCells)
    else ivfAssignTwoLevelJoined(embeddings, idCol, vecCol, numCells)

  /** Dispatch threshold for [[ivfAssignTwoLevel]]: the largest fine-
    * centroid count whose single-row groups map is still a trivially
    * cheap broadcast. Derived from a ~64 MB payload budget at production
    * embedding widths — 1024 cells × 4096 dims × 8 B ≈ 32 MB (and at the
    * fixture's 64 dims only ~0.5 MB) — comfortably inside executor
    * memory and far from the 2 GiB single-row bound, while anything
    * larger is by construction a corpus-derived cell count (cells ∝ n)
    * on its way past both.
    */
  val TwoLevelBroadcastCells = 1024

  private def stageVectors(embeddings: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    embeddings
      .select(col(idCol), asDouble(col(vecCol)).as("vecd"))
      .select(col(idCol), col("vecd"), norm(col("vecd")).as("nrm"))

  private def coarseArgmax(vec: Column, nrm: Column): Column =
    array_min(transform(col("_coarse"), g =>
      struct((lit(1.0) - round(dot(vec, g("gvec")) / (nrm * g("gnrm")), 6)).as("inv"),
        g("co_id").as("co_id"))))("co_id")

  /** Sorted coarse-seed array as a broadcast 1-row frame — √cells
    * entries, bounded at any corpus size (Θ(√cells·d) bytes).
    */
  private def coarseSeeds(staged: DataFrame, idCol: String,
      nCoarse: Long): DataFrame =
    broadcast(staged.where(col(idCol) < nCoarse)
      .agg(array_sort(collect_list(struct(col(idCol).as("co_id"),
        col("vecd").as("gvec"), col("nrm").as("gnrm")))).as("_coarse")))

  /** Fine centroids keyed by their coarse group: (co, fines) rows, one
    * per coarse group. Each ROW is Θ(√cells·d) bytes; the TABLE is never
    * collected into a single row.
    */
  private def finesByCoarse(staged: DataFrame, idCol: String,
      numCells: Int, nCoarse: Long): DataFrame =
    staged.where(col(idCol) < numCells)
      .crossJoin(coarseSeeds(staged, idCol, nCoarse))
      .select(col(idCol).as("cell_id"), col("vecd").as("cvec"),
        col("nrm").as("cnrm"),
        when(col(idCol) < nCoarse, col(idCol))
          .otherwise(coarseArgmax(col("vecd"), col("nrm"))).as("co"))
      .groupBy(col("co"))
      .agg(array_sort(collect_list(struct(col("cell_id"), col("cvec"),
        col("cnrm")))).as("fines"))

  private def fineArgmax(fines: Column): Column =
    array_min(transform(fines, c =>
      struct((lit(1.0) - round(dot(col("vecd"), c("cvec")) / (col("nrm") * c("cnrm")), 6)).as("inv"),
        c("cell_id").as("cell_id"))))("cell_id")

  /** The bounded-cells spelling: fines collapse into one broadcast map
    * row; assignment is a zero-shuffle projection. See
    * [[ivfAssignTwoLevel]] for when this is (and stops being) the right
    * physical form.
    */
  def ivfAssignTwoLevelBroadcast(embeddings: DataFrame, idCol: String,
      vecCol: String, numCells: Int): DataFrame = {
    val nCoarse = math.ceil(math.sqrt(numCells.toDouble)).toLong
    val staged = stageVectors(embeddings, idCol, vecCol)
    val groupsMap = broadcast(finesByCoarse(staged, idCol, numCells, nCoarse)
      .agg(map_from_entries(collect_list(struct(col("co"), col("fines"))))
        .as("_groups")))
    staged.crossJoin(coarseSeeds(staged, idCol, nCoarse)).crossJoin(groupsMap)
      .withColumn("_co", coarseArgmax(col("vecd"), col("nrm")))
      .withColumn("_best_cell", fineArgmax(element_at(col("_groups"), col("_co"))))
      .select(col(idCol), col("vecd"), col("nrm"), col("_best_cell").as("cell"))
  }

  /** The corpus-proportional-cells spelling: fines stay a co-keyed
    * TABLE; the vector stream computes its coarse argmax (broadcast
    * projection), then shuffle-hash-joins on `_co` — √cells evenly-
    * populated keys, one bounded shuffle — to fetch only its own group's
    * fine centroids. Per-task memory is Θ(groups-per-partition·√cells·d),
    * never Θ(cells·d). The shuffle_hash hint (build side = the fines
    * table) keeps the planner from re-introducing the very broadcast
    * this spelling exists to avoid, and from sorting 64-dim double
    * arrays for a sort-merge on a small key.
    */
  def ivfAssignTwoLevelJoined(embeddings: DataFrame, idCol: String,
      vecCol: String, numCells: Int): DataFrame = {
    val nCoarse = math.ceil(math.sqrt(numCells.toDouble)).toLong
    val staged = stageVectors(embeddings, idCol, vecCol)
    val fines = finesByCoarse(staged, idCol, numCells, nCoarse)
    staged.crossJoin(coarseSeeds(staged, idCol, nCoarse))
      .withColumn("_co", coarseArgmax(col("vecd"), col("nrm")))
      .drop("_coarse")
      .join(fines.hint("shuffle_hash"), col("_co") === fines("co"))
      .withColumn("_best_cell", fineArgmax(col("fines")))
      .select(col(idCol), col("vecd"), col("nrm"), col("_best_cell").as("cell"))
  }

  /** IVF top-k cosine search for one query vector. */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, numCells: Int, nprobe: Int, k: Int): DataFrame = {
    val assign = ivfAssign(embeddings, idCol, vecCol, numCells)
    val q = broadcast(assign.where(col(idCol) === queryId)
      .select(col("vecd").as("qvec"), col("nrm").as("qnrm")))
    // nearest nprobe cells to the query, by centroid cosine
    val probeCells = broadcast(
      embeddings
        .select(col(idCol), asDouble(col(vecCol)).as("cvec"))
        .where(col(idCol) < numCells)
        .withColumn("cnrm", norm(col("cvec")))
        .crossJoin(q)
        .select(col(idCol).as("cell"),
          round(dot(col("cvec"), col("qvec")) / (col("cnrm") * col("qnrm")), 6).as("qcos"))
        .orderBy(col("qcos").desc, col("cell"))
        .limit(nprobe)
        .select(col("cell")))
    assign.join(probeCells, Seq("cell"))
      .crossJoin(q)
      .select(col(idCol),
        round(dot(col("vecd"), col("qvec")) / (col("nrm") * col("qnrm")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** One Lloyd (k-means) refinement iteration over an IVF assignment:
    * new centroid = per-cell mean of member vectors, computed as a
    * grouped aggregate over (cell, dimension) rows — posexplode turns the
    * vector column into rows so the mean is a plain partial-aggregated
    * `avg`, shuffling only (cell, dim) keys. At scale this is the
    * canonical iterative-ML shape: assignment (broadcast centroids, no
    * shuffle) + refinement (one keyed shuffle per iteration).
    * Output: (cell, dim, centroid) rounded to 6 (O(1) magnitude).
    */
  def kmeansCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      numCells: Int): DataFrame = {
    val assign = ivfAssign(embeddings, idCol, vecCol, numCells)
    assign
      .select(col("cell"), posexplode(col("vecd")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(round(avg(col("v")), 6).as("centroid"))
  }

  /** Product quantization (PQ) — the billion-vector memory-compression
    * half of IVF-PQ (Jégou et al. 2011): each D-dim vector is split into
    * `m` subspaces of D/m dims, and each subvector is replaced by the id
    * of its nearest codeword from a per-subspace codebook of `k` entries.
    * Storage per vector drops from D×4 bytes to m codes (m bytes at
    * k ≤ 256) — the representation that lets an ANN index hold 10^9+
    * vectors in RAM.
    *
    * Codebooks here are deterministic seed codewords (the first `k` ids,
    * sliced per subspace — the same seeding rule as [[ivfAssign]]; a
    * Lloyd pass per subspace would refine them with the identical plan
    * shape as [[kmeansCentroids]]). Encoding is a PURE PROJECTION: the
    * constant-sized codebook ships to every task as a codegen reference
    * object and the per-row argmin runs as ONE native expression
    * ([[graft.functions.PqEncode]]) — zero shuffles, embarrassingly
    * parallel at any corpus size.
    *
    * Distances are squared L2 expanded as a·a − 2·a·b + b·b with
    * left-to-right per-subspace folds (the summation order the DuckDB
    * oracle replays), rounded to 6 before the argmin so cross-engine ulp
    * noise can't flip a code; ties go to the lowest code id.
    *
    * Output: (id, codes array — codes[j] = codeword id of subspace j).
    */
  def pqEncode(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val staged = embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
    // Constant-sized codebook (k×D doubles, KB-range) collected at plan
    // time and shipped as a codegen reference object — the
    // broadcast-constant pattern (quantile boundaries, LSH planes). The
    // encode itself is then ONE native expression per row inside
    // whole-stage codegen; the declarative spelling it replaces (nested
    // transform/array_min over slices, the DuckDB oracle's staging,
    // proved bit-identical in VectorExpressionsSpec) is CodegenFallback
    // and paid ~1,300 interpreted lambda evaluations per row.
    val bookRows = staged.where(col(idCol) < k)
      .select(col(idCol).cast("long"), col("vecd")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(bookRows.nonEmpty, s"no codebook rows: no $idCol < $k")
    staged.select(col(idCol),
      graft.functions.VectorExpressions.pq_codes(col("vecd"),
        bookRows.map(_._2), bookRows.map(_._1), m).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays full
    * precision, and its distance to any database vector is approximated
    * from the codes alone — dist(q, x) ≈ Σ_j ‖q_j − codebook[j][codes_j]‖²
    * — so the per-vector serving cost is `m` table lookups, never a
    * D-dim float read. The m×k lookup table (query-to-codeword partial
    * distances) derives from two CONSTANT serving inputs — the codebook
    * and the query vector — so it is built driver-side and shipped with
    * the native [[graft.functions.PqAdcSum]] kernel: the whole query is
    * scan → encode → LUT-sum projection → TakeOrdered. ZERO shuffles,
    * zero joins — the plan shape that scans 10^9 codes flat. (An earlier
    * spelling exploded codes into an (id, subspace, code) join against a
    * broadcast LUT frame; correct, but it paid three broadcast sub-jobs
    * plus a keyed aggregation for what is arithmetically `m` array reads
    * per row.)
    *
    * Partial distances snap to integer micro-units so the per-row sum is
    * exact integer math — order-independent, bit-stable across engines.
    */
  def pqAdcTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, m: Int, k: Int, dims: Int, topK: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val staged = embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
    val (bookRows, lut) = pqServingInputs(staged, idCol, queryId, m, k)
    pqEncode(embeddings, idCol, vecCol, m, k, dims)
      .select(col(idCol),
        (graft.functions.VectorExpressions.pq_adc_sum(col("codes"), lut,
          bookRows.map(_._1)) / 1e6).as("adc_l2sq"))
      .orderBy(col("adc_l2sq").asc, col(idCol))
      .limit(topK)
  }

  /** The two CONSTANT serving inputs of an ADC query — the sorted
    * codebook rows (id, vector) and the m×k LUT of query-to-codeword
    * partial squared distances in integer micro-units. LUT entry (j, c):
    * round((q_j·q_j − 2·q_j·c_j + c_j·c_j) · 1e6) with left-to-right
    * folds and the same BigDecimal HALF_UP rounding as Spark's `round`
    * (and the DuckDB oracle).
    */
  private def pqServingInputs(staged: DataFrame, idCol: String, queryId: Long,
      m: Int, k: Int): (Array[(Long, Array[Double])], Array[Long]) = {
    val bookRows = staged.where(col(idCol) < k)
      .select(col(idCol).cast("long"), col("vecd")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(bookRows.nonEmpty, s"no codebook rows: no $idCol < $k")
    val qvec = staged.where(col(idCol) === queryId)
      .select(col("vecd")).collect() match {
      case Array(r) => r.getSeq[Double](0).toArray
      case other => throw new IllegalArgumentException(
        s"query id $queryId matched ${other.length} rows, want exactly 1")
    }
    (bookRows, adcLut(bookRows, qvec, m))
  }

  /** IVF-PQ top-k — the two halves composed into the actual
    * billion-vector serving plan (Jégou et al. 2011): the IVF coarse
    * quantizer prunes the search to the `nprobe` cells nearest the query
    * (compute touches numCells/nprobe-th of the corpus), and within the
    * probed cells distances come from PQ codes via the constant ADC LUT
    * (memory touches m bytes per vector, never the floats). Plan:
    * broadcast-argmax cell assignment (pure projection) → semi-filter on
    * the nprobe-row probed-cell set → native encode + LUT-sum projection
    * → TakeOrdered. The only data-sized transfer is the scan itself.
    */
  def ivfPqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, numCells: Int, nprobe: Int, m: Int, k: Int, dims: Int,
      topK: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val assign = ivfAssign(embeddings, idCol, vecCol, numCells)
    val q = broadcast(assign.where(col(idCol) === queryId)
      .select(col("vecd").as("qvec"), col("nrm").as("qnrm")))
    // nearest nprobe cells by centroid cosine (same rule as ivfTopK)
    val probeCells = broadcast(
      embeddings
        .select(col(idCol), asDouble(col(vecCol)).as("cvec"))
        .where(col(idCol) < numCells)
        .withColumn("cnrm", norm(col("cvec")))
        .crossJoin(q)
        .select(col(idCol).as("cell"),
          round(dot(col("cvec"), col("qvec")) / (col("cnrm") * col("qnrm")), 6).as("qcos"))
        .orderBy(col("qcos").desc, col("cell"))
        .limit(nprobe)
        .select(col("cell")))
    // constant serving inputs: codebook + query vector → driver-side LUT
    val staged = embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
    val (bookRows, lut) = pqServingInputs(staged, idCol, queryId, m, k)
    assign.join(probeCells, Seq("cell"))
      .select(col(idCol),
        (graft.functions.VectorExpressions.pq_adc_sum(
          graft.functions.VectorExpressions.pq_codes(col("vecd"),
            bookRows.map(_._2), bookRows.map(_._1), m),
          lut, bookRows.map(_._1)) / 1e6).as("adc_l2sq"))
      .orderBy(col("adc_l2sq").asc, col(idCol))
      .limit(topK)
  }

  /** Materialize the IVF-PQ index to disk: `(id, codes)` rows PARTITIONED
    * BY CELL (one directory per Voronoi cell, in-file sorted by id via
    * `ops/Layout.writePartitioned`) in a manifest-committed codes
    * directory (`base` on a fresh path, a new generation over a live
    * index), plus the centroid and codebook side tables serving needs.
    * This is what turns IVF pruning from a compute bound into an I/O
    * bound: [[ivfPqTopKFromIndex]] reads ONLY the
    * `nprobe` probed partitions — at 10^9 vectors the other
    * numCells − nprobe directories are never opened, and each row read
    * is m code bytes, not D floats.
    */
  def writeIvfPqIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      numCells: Int, m: Int, k: Int, dims: Int, path: String,
      trainIters: Int = 0): Unit = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val cents =
      if (trainIters == 0) seedBook(embeddings, idCol, vecCol, numCells)
      else trainIvfCentroids(embeddings, idCol, vecCol, numCells, trainIters)
    val book =
      if (trainIters == 0) seedBook(embeddings, idCol, vecCol, k)
      else trainPqBook(embeddings, idCol, vecCol, m, k, dims, trainIters)
    writeIvfPqIndexWith(embeddings, idCol, vecCol, cents, book, m, path,
      trainIters = trainIters)
  }

  /** [[writeIvfPqIndex]] against EXPLICIT (e.g. frozen) centroids and
    * codebook — the rebuild path that keeps serving constants fixed, and
    * the equality reference for [[appendIvfPqIndex]]. Besides the codes
    * table, writes the four side tables serving and maintenance need:
    * `centroids`, `codebook`, `meta` (id/vector column names plus the
    * FULL build hyperparameters — m, num_cells, pq_k, dims, train_iters
    * — so maintenance never trusts caller-supplied shape values that
    * could silently rebuild a differently-shaped index at the same
    * path; r12 advice) and `health` (per-cell build-time reconstruction
    * error, the staleness baseline appends are judged against).
    */
  def writeIvfPqIndexWith(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: Book, book: Book, m: Int, path: String,
      encoding: String = "raw", trainIters: Int = 0): Unit = {
    require(encoding == "raw" || encoding == "residual",
      s"unknown index encoding '$encoding' (raw | residual)")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // r13 (guide §1.2 step 1): ONE assign+encode pass serves both the
    // codes table and the health baseline — the old spelling ran the
    // full corpus argmax-assign + PQ-encode TWICE (once for codes, once
    // more for the reconstruction-error baseline). The fused per-row
    // frame is CODE-sized (cell + id + m code bytes + one long — no
    // vectors), so pinning it is inside the §8 sketch-frame allowance.
    val indexed = codesWithErr(
      stageForEncode(embeddings, idCol, vecCol, cents, encoding), Seq(idCol), book, m)
      .localCheckpoint(false)
    // codes live in manifest-committed DELTA directories (the inverted
    // index's segment model): a build on a fresh path is delta "base",
    // appends add deltas, and the live set is codes.manifest — so an
    // append that crashes mid-write is never served half-done
    // (SaveMode.Append into shared cell partitions would be), and a
    // retried append overwrites its own delta idempotently. A rebuild
    // over a LIVE index writes a new generation beside the live deltas
    // and swaps the live set to it in one commit that keeps the
    // streaming watermark; the superseded deltas are vacuumed below.
    graft.ops.Manifest.ingest(codesManifest(path), batchId = None) { live =>
      val name =
        if (live.isEmpty) "base"
        else s"refresh${graft.ops.Manifest.nextGeneration(live, "refresh", first = 1)}"
      graft.ops.Layout.writePartitioned(
        indexed.select(col("cell"), col(idCol), col("codes")),
        s"$path/codes/$name", Seq("cell"), Seq(idCol))
      Seq(name)
    }
    cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cell_id", "vecd")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    book.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("code", "vecd")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    Seq((idCol, vecCol, m, encoding, cents.length, book.length,
        cents.head._2.length, trainIters))
      .toDF("id_col", "vec_col", "m", "encoding", "num_cells", "pq_k",
        "dims", "train_iters")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    healthAgg(indexed)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/health")
    vacuumCodes(path)
  }

  /** The index's code encoding — "raw" (codes of the vectors) or
    * "residual" (IVFADC: codes of v − centroid(cell)).
    */
  def readIndexEncoding(spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    spark.read.parquet(s"$path/meta").select(col("encoding")).head().getString(0)

  private def codesManifest(path: String): java.io.File =
    new java.io.File(s"$path/codes.manifest")

  /** An index path is input from outside the program: one with no codes
    * manifest was not built by [[writeIvfPqIndex]] (or is no index at
    * all), and every read or maintenance entry point fails on it here.
    */
  private def requireIndex(path: String): Unit =
    require(codesManifest(path).exists(),
      s"no IVF-PQ index at $path (no codes.manifest): build it with writeIvfPqIndex")

  /** STREAMING ANN ingest — the vector twin of
    * `Retrieval.ingestStream`: each micro-batch appends one
    * manifest-committed delta named by its batch id, encoding against
    * the index's frozen constants. Effectively-once across every crash
    * window by the commit step all manifest stores share
    * (`ops/Manifest.ingest`): an uncommitted delta is invisible
    * (rewritten on replay), and the manifest's batch watermark makes a
    * replayed batch id a no-op — so a retry can never double-insert
    * vectors. The index must exist (base build) before the stream
    * starts; the health/staleness baseline governs when to retrain and
    * rebuild.
    */
  def ingestStream(vectors: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, path)
      }

  /** One streaming ANN ingest step (the [[ingestStream]] foreachBatch
    * body, exposed for direct testing): the batch appends delta
    * `b<batchId>` as that batch's commit.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    appendIvfPqIndex(batch, path, f"b$batchId%09d", watermark = Some(batchId))

  /** Garbage-collect code-delta directories the manifest does not
    * reference (the residue of a crashed append).
    */
  def vacuumCodes(path: String): Unit =
    graft.ops.Manifest.vacuum(codesManifest(path),
      new java.io.File(s"$path/codes"))

  /** The LIVE codes table: union of the manifest's delta directories —
    * each delta scan keeps its own cell-partition pruning, so a filter
    * on `cell` above the union still opens only probed directories.
    */
  def readCodes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    requireIndex(path)
    graft.ops.Manifest.read(codesManifest(path)).get.entries
      .map(d => spark.read.parquet(s"$path/codes/$d"))
      .reduce(_ unionByName _)
  }

  /** Read back the constant side tables of a materialized index. */
  def readIndexSides(spark: org.apache.spark.sql.SparkSession,
      path: String): (String, String, Int, Book, Book) = {
    requireIndex(path)
    val metaRows = spark.read.parquet(s"$path/meta").collect()
    require(metaRows.length == 1,
      s"index at $path: expected exactly 1 meta row, got ${metaRows.length}")
    val meta = metaRows.head
    val idCol = meta.getAs[String]("id_col")
    val vecCol = meta.getAs[String]("vec_col")
    val m = meta.getAs[Int]("m")
    def side(name: String): Book = {
      val rows = spark.read.parquet(s"$path/$name")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      require(rows.nonEmpty, s"index at $path: empty $name side table")
      rows
    }
    (idCol, vecCol, m, side("centroids"), side("codebook"))
  }

  /** Incremental index maintenance — the 100-TB serving reality is
    * appends, not rebuilds. New vectors are assigned and encoded against
    * the index's FROZEN centroids/codebook (read back from the side
    * tables) into a cell-partitioned DELTA directory made live by one
    * atomic manifest commit — crash-safe and retry-idempotent the same
    * way the inverted index's segments are (a raw SaveMode.Append into
    * shared cell partitions would serve half-written files immediately
    * and duplicate the batch on retry). Serving unions the live deltas
    * with per-delta cell pruning intact, with no downtime, and the
    * result is row-identical to a full [[writeIvfPqIndexWith]] rebuild
    * of the union corpus under the same constants (proved in
    * LayoutSpec).
    *
    * Returns the staleness report: per cell, the appended rows'
    * reconstruction error against the build-time `health` baseline.
    * Frozen constants can't track drift — RETRAIN-TRIGGER RULE: rebuild
    * with fresh training when cells holding a material share of appended
    * rows show err_ratio (appended avg_err / build avg_err) above ~1.5,
    * or when the corpus-weighted mean ratio exceeds ~1.2.
    */
  def appendIvfPqIndex(newVectors: DataFrame, path: String,
      deltaName: String, watermark: Option[Long] = None): DataFrame = {
    // deltaName is REQUIRED and must be unique per logical append: the
    // manifest's .distinct + writePartitioned's Overwrite make a reused
    // name REPLACE that delta (the retry semantics) — a defaulted name
    // would silently destroy the previous append's vectors.
    val spark = newVectors.sparkSession
    require(deltaName != "base", "delta name 'base' is reserved")
    val (idCol, vecCol, m, cents, book) = readIndexSides(spark, path)
    val encoding = readIndexEncoding(spark, path)
    // r13: one fused assign+encode pass serves the delta write AND the
    // staleness report (the writeIvfPqIndexWith note) — the pinned
    // frame is code-sized.
    val indexed = codesWithErr(
      stageForEncode(newVectors, idCol, vecCol, cents, encoding), Seq(idCol), book, m)
      .localCheckpoint(false)
    // delta fully written first, THEN the manifest commit makes it live
    // (crash before the commit leaves the old view serving; a retried
    // append overwrites this delta and re-commits the name). An empty
    // append writes no delta: a dataless directory (a lone _SUCCESS, no
    // parquet footers) would make every later readCodes fail schema
    // inference.
    graft.ops.Manifest.ingest(codesManifest(path), watermark, indexed.isEmpty) { live =>
      graft.ops.Layout.writePartitioned(
        indexed.select(col("cell"), col(idCol), col("codes")),
        s"$path/codes/$deltaName", Seq("cell"), Seq(idCol))
      live :+ deltaName
    }
    val appended = healthAgg(indexed)
      .withColumnRenamed("n_vecs", "n_appended")
      .withColumnRenamed("avg_err", "appended_err")
    val baseline = spark.read.parquet(s"$path/health")
      .select(col("cell"), col("avg_err").as("baseline_err"))
    appended.join(baseline, Seq("cell"), "left")
      .select(col("cell"), col("n_appended"), col("appended_err"),
        col("baseline_err"),
        round(col("appended_err") / col("baseline_err"), 6).as("err_ratio"))
      .orderBy("cell")
  }

  /** Outcome of a staleness-gated refresh: whether anything retrained,
    * which rung ("none" | "partial" | "full"), the hot cell ids, and the
    * PINNED (eagerly materialized) staleness report — callers must read
    * the report through this copy, because a triggered refresh
    * overwrites the index files the original lazy plan reads (r12
    * advice).
    */
  final case class RefreshOutcome(retrained: Boolean, mode: String,
      hotCells: Seq[Long], report: DataFrame)

  /** Act on [[appendIvfPqIndex]]'s staleness report — the retrain
    * trigger the report's docstring specifies, CLOSED as an operator:
    * retrain fires when cells whose err_ratio exceeds
    * `hotErrRatio` (≈1.5) hold at least 1/`hotShareDen` of the appended
    * rows, or when the append-weighted mean err_ratio exceeds
    * `meanErrRatio` (≈1.2). A cell the build-time health baseline has
    * never seen (null err_ratio) counts as hot — unknown baseline is
    * staleness, not health. `corpus` must be the full live vector set
    * (PQ codes are lossy; an index cannot re-derive its own training
    * data). Build hyperparameters (num_cells, m, pq_k, dims,
    * train_iters) are READ FROM THE INDEX META, never trusted from the
    * caller — a mismatched caller value would silently rebuild a
    * differently-shaped index at the same path (r12 advice).
    *
    * TWO RETRAIN RUNGS, picked by how concentrated the staleness is:
    *
    *  - staleness confined to a few cells (hot cells ≤
    *    `partialMaxCellShare` of the index; set 0.0 to disable) →
    *    PARTIAL refresh ([[refreshHotCells]]): one local Lloyd step
    *    refines only the hot centroids from their live members, only
    *    hot-cell members re-encode, cold-cell code files are carried
    *    into the consolidated delta as byte-identical copies. Compute
    *    cost ∝ hot-cell membership, not corpus — the 100 TB answer to
    *    "one ingest region drifted, don't re-k-means the other 99%".
    *  - broad staleness → FULL rebuild with fresh training (same
    *    deterministic md5-seeded k-means, so rebuild-from-scratch over
    *    the same corpus produces the identical index — the `LayoutSpec`
    *    equality proof): the new codes land in a new generation
    *    directory, one commit swaps the live set to it, and the
    *    superseded deltas are vacuumed — the live codes are never
    *    rewritten in place.
    *
    * Either rung preserves the manifest's streaming batch watermark, so
    * a replayed ingest batch remains a no-op after a retrain. The
    * decision reads a KB-sized report (pinned eagerly before any file
    * is touched); only the chosen rung pays data cost.
    */
  def refreshIfStale(corpus: DataFrame, path: String, report: DataFrame,
      hotErrRatio: Double = 1.5, meanErrRatio: Double = 1.2,
      hotShareDen: Int = 5,
      partialMaxCellShare: Double = 0.25): RefreshOutcome = {
    val spark = corpus.sparkSession
    // pin BEFORE any aggregate or rebuild: the caller's lazy report plan
    // reads the index's health/meta files, which a triggered refresh
    // overwrites mid-flight
    val pinned = report.localCheckpoint(true)
    val r = pinned.agg(
      sum(col("n_appended")).as("n_tot"),
      sum(when(coalesce(col("err_ratio"),
          lit(Double.PositiveInfinity)) > hotErrRatio, col("n_appended"))
        .otherwise(lit(0L))).as("n_hot"),
      sum(when(col("err_ratio").isNotNull,
          col("err_ratio") * col("n_appended")).otherwise(lit(0.0))).as("wsum"),
      sum(when(col("err_ratio").isNotNull, col("n_appended"))
        .otherwise(lit(0L))).as("n_known")).head()
    if (r.isNullAt(0)) // empty report: nothing appended
      return RefreshOutcome(retrained = false, "none", Nil, pinned)
    val (nTot, nHot) = (r.getLong(0), r.getLong(1))
    val meanRatio =
      if (r.getLong(3) == 0L) Double.PositiveInfinity
      else r.getDouble(2) / r.getLong(3)
    val trigger = nHot * hotShareDen >= nTot || meanRatio > meanErrRatio
    if (!trigger) return RefreshOutcome(retrained = false, "none", Nil, pinned)

    requireIndex(path)
    val metaRow = spark.read.parquet(s"$path/meta").head()
    val (idCol, vecCol) =
      (metaRow.getAs[String]("id_col"), metaRow.getAs[String]("vec_col"))
    val (numCells, m, k, dims, trainIters) = (
      metaRow.getAs[Int]("num_cells"), metaRow.getAs[Int]("m"),
      metaRow.getAs[Int]("pq_k"), metaRow.getAs[Int]("dims"),
      metaRow.getAs[Int]("train_iters"))
    val hot = pinned.where(coalesce(col("err_ratio"),
        lit(Double.PositiveInfinity)) > hotErrRatio)
      .select(col("cell")).collect().map(_.getLong(0)).toSeq.sorted
    val partial = hot.nonEmpty &&
      hot.size <= (numCells * partialMaxCellShare).floor.toInt
    // the full rung is a rebuild over the live index: a new codes
    // generation, committed with the streaming watermark kept
    if (partial) refreshHotCells(corpus, path, hot)
    else writeIvfPqIndex(corpus, idCol, vecCol, numCells, m, k, dims, path,
      trainIters)
    RefreshOutcome(retrained = true, if (partial) "partial" else "full",
      hot, pinned)
  }

  /** Partial (hot-cells-only) retrain — the middle rung between "serve
    * stale" and a full re-k-means (r12 verdict #6). Mechanics:
    *
    *  1. Hot-cell MEMBERSHIP comes from the live codes table with its
    *     cell-partition pruning intact (only hot directories are read),
    *     joined to the corpus by id for the raw vectors — PQ codes are
    *     lossy, so re-encoding needs the originals.
    *  2. One LOCAL Lloyd step refines each hot centroid to the mean of
    *     its live members (same avg + round(6) spelling as
    *     [[trainIvfCentroids]]); cold centroids are untouched.
    *  3. Hot members re-encode against the refined centroid with their
    *     CELL PINNED (no re-argmax — partition stability is the point:
    *     a member list may drift from its centroid, which is normal IVF
    *     aging; the full rebuild is the rung that re-partitions).
    *  4. The result consolidates into ONE new delta: hot-cell
    *     partitions are the re-encoded output; cold-cell parquet files
    *     are carried over as BYTE-IDENTICAL file copies (renamed with
    *     their source delta prefix — parquet readers scan by directory,
    *     not filename). The manifest then swaps to the new delta in one
    *     atomic replace, preserving the streaming batch watermark;
    *     [[vacuumCodes]] garbage-collects the superseded deltas.
    *  5. `health` baselines recompute for hot cells only (under the
    *     refined centroid); cold rows carry over unchanged.
    *
    * Compute cost ∝ hot-cell member count (one Lloyd pass + one encode
    * pass over those members); everything else is sequential file IO.
    * Cold-cell byte identity, cold-query serving equality, and
    * hot-query recall restoration are pinned in `LayoutSpec`.
    */
  def refreshHotCells(corpus: DataFrame, path: String,
      hotCells: Seq[Long]): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(hotCells.nonEmpty, "refreshHotCells: empty hot-cell set")
    val (idCol, vecCol, m, cents, book) = readIndexSides(spark, path)
    val encoding = readIndexEncoding(spark, path)
    val hotSet = hotCells.toSet

    // 1. hot membership (partition-pruned codes read) + raw vectors.
    // cell casts back to long: parquet partition-directory inference
    // reads small `cell=N` values as int
    val hotIds = readCodes(spark, path)
      .where(col("cell").isin(hotCells: _*))
      .select(col("cell").cast("long").as("cell"), col(idCol))
    val members = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("vecd"))
      .join(hotIds, Seq(idCol))

    // 2. local Lloyd step over hot members only
    val means = members
      .select(col("cell"), posexplode(col("vecd")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(round(avg(col("v")), 6).as("centroid"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    val newCents: Book = cents.map { case (cid, cv) =>
      if (!hotSet.contains(cid)) (cid, cv)
      else {
        val nv = cv.clone()
        for (dd <- nv.indices) means.get((cid, dd)).foreach(nv(dd) = _)
        (cid, nv)
      }
    }

    // 3. re-encode hot members, cell pinned
    val hotCentDf = broadcast(
      newCents.filter(c => hotSet.contains(c._1)).toSeq
        .map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cell", "cvec"))
    val encInput =
      if (encoding == "residual")
        members.join(hotCentDf, Seq("cell"))
          .select(col("cell"), col(idCol),
            zip_with(col("vecd"), col("cvec"), (a, b) => a - b).as("_v"))
      else members.select(col("cell"), col(idCol), col("vecd").as("_v"))
    val reEncoded = encInput.select(col("cell"), col(idCol),
      graft.functions.VectorExpressions.pq_codes(col("_v"),
        book.map(_._2), book.map(_._1), m).as("codes"))

    // 5 (computed before any file moves). carry cold health, recompute hot
    val oldHealth = spark.read.parquet(s"$path/health")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filterNot(h => hotSet.contains(h._1))
    val hotHealth = reconErrorCore(
        encInput.select(col("cell"), col("_v")), book, m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // 4. consolidated delta: Spark-written hot partitions + byte-copied
    // cold files, then one atomic manifest swap (watermark preserved)
    graft.ops.Manifest.ingest(codesManifest(path), batchId = None) { live =>
      val dname =
        s"refresh${graft.ops.Manifest.nextGeneration(live, "refresh", first = 1)}"
      graft.ops.Layout.writePartitioned(reEncoded, s"$path/codes/$dname",
        Seq("cell"), Seq(idCol))
      val codesDir = new java.io.File(s"$path/codes")
      val target = new java.io.File(codesDir, dname)
      for {
        d <- live
        cellDir <- Option(new java.io.File(codesDir, d).listFiles())
          .getOrElse(Array.empty[java.io.File])
        if cellDir.isDirectory && cellDir.getName.startsWith("cell=") &&
          !hotSet.contains(cellDir.getName.stripPrefix("cell=").toLong)
        f <- Option(cellDir.listFiles()).getOrElse(Array.empty[java.io.File])
        if f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
      } {
        val dst = new java.io.File(new java.io.File(target, cellDir.getName),
          s"$d-${f.getName}")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.copy(f.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      Seq(dname)
    }

    // side tables: refined centroids, merged health (both KB-sized and
    // fully collected above — no read-overwrite hazard)
    newCents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cell_id", "vecd")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    (oldHealth ++ hotHealth).sortBy(_._1).toSeq
      .toDF("cell", "n_vecs", "avg_err")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/health")
  }

  /** Serve a top-k ANN query from a materialized [[writeIvfPqIndex]]
    * index, by VECTOR (the honest serving signature — the query need not
    * exist in the corpus). Probe-cell selection and the ADC LUT are
    * driver-side arithmetic over the two constant side tables (identical
    * fold order and HALF_UP rounding as the in-plan spellings, so the
    * answer matches [[ivfPqTopK]] bit-for-bit for an indexed query
    * vector); the distributed work is a scan of ONLY the probed cell
    * partitions — the plan carries `PartitionFilters` on `cell` and
    * never touches the rest of the index.
    */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queryVec: Array[Double], nprobe: Int,
      topK: Int): DataFrame = {
    def dotLtr(a: Array[Double], b: Array[Double]): Double = Exact.ltrDot(a, b)
    def r6(x: Double): Double = Exact.r6(x)
    // ONE read of the constant side tables: id column and m come from the
    // meta table writeIvfPqIndexWith persisted (never inferred by
    // exclusion from the codes schema), and an empty/absent index fails
    // loudly inside readIndexSides.
    val (idCol, _, m, cents, bookRows) = readIndexSides(spark, path)
    val encoding = readIndexEncoding(spark, path)
    val qn = math.sqrt(dotLtr(queryVec, queryVec))
    // top-nprobe cells by round-6 centroid cosine, ties to the lowest id
    val probedPairs = cents.map { case (cid, cv) =>
      ((-r6(dotLtr(cv, queryVec) / (math.sqrt(dotLtr(cv, cv)) * qn)), cid),
        (cid, cv))
    }.sortBy(_._1).take(nprobe).map(_._2)
    val probed = probedPairs.map(_._1)
    val scan = readCodes(spark, path)
      .where(col("cell").isin(probed.map(Long.box): _*))
    // raw codes share ONE query LUT; residual codes get a LUT per probed
    // cell built from (q − centroid_cell), dispatched by the partition
    // column in a nested CASE — same literal-only codegen projection
    val adcMicro =
      if (encoding == "residual")
        probedPairs.foldLeft(lit(null).cast("long")) {
          case (acc, (cid, cv)) =>
            val qres = Array.tabulate(queryVec.length)(i => queryVec(i) - cv(i))
            when(col("cell") === cid,
              graft.functions.VectorExpressions.pq_adc_sum(col("codes"),
                adcLut(bookRows, qres, m), bookRows.map(_._1))).otherwise(acc)
        }
      else
        graft.functions.VectorExpressions.pq_adc_sum(col("codes"),
          adcLut(bookRows, queryVec, m), bookRows.map(_._1))
    scan
      .select(col(idCol), (adcMicro / 1e6).as("adc_l2sq"))
      .orderBy(col("adc_l2sq").asc, col(idCol))
      .limit(topK)
  }

  /** Per-cell PQ reconstruction error — the index-health metric: average
    * quantization SSE ‖x − decode(codes(x))‖² per Voronoi cell. Rising
    * error in a cell means its vectors drifted from the codebooks (time
    * to re-run [[pqTrainCodebooks]]); comparing cells finds regions the
    * coarse quantizer serves badly. One scan: assignment + native encode
    * + an m-term per-row distance fold (each row touches only its OWN
    * chosen codeword per subspace — m distance evaluations, not the
    * encoder's m×k), then a keyed per-cell average. Distances snap to
    * integer micro-units before summing, so every aggregation is exact
    * integer math until the final divide.
    *
    * Requires dense codebook ids 0..k-1 (the seeding rule) so codes
    * index the broadcast codebook literal directly.
    */
  def pqReconError(embeddings: DataFrame, idCol: String, vecCol: String,
      numCells: Int, m: Int, k: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sub = dims / m
    val staged = embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
    val bookRows = staged.where(col(idCol) < k)
      .select(col(idCol).cast("long"), col("vecd")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(bookRows.map(_._1).toSeq == (0L until k.toLong),
      s"pqReconError requires dense codebook ids 0..${k - 1}")
    val bookLit = typedlit(bookRows.map(_._2.toSeq).toSeq)
    val withCodes = ivfAssign(embeddings, idCol, vecCol, numCells)
      .select(col("cell"), col(idCol), col("vecd"),
        graft.functions.VectorExpressions.pq_codes(col("vecd"),
          bookRows.map(_._2), bookRows.map(_._1), m).as("codes"))
    val errMicro = aggregate(
      transform(sequence(lit(0), lit(m - 1)), j => {
        val sa = slice(col("vecd"), j * lit(sub) + 1, lit(sub))
        val cb = element_at(bookLit, (get(col("codes"), j) + 1).cast("int"))
        val sb = slice(cb, j * lit(sub) + 1, lit(sub))
        round((dot(sa, sa) - lit(2.0) * dot(sa, sb) + dot(sb, sb)) * 1e6, 0)
          .cast("long")
      }), lit(0L), (acc, x) => acc + x)
    withCodes.select(col("cell"), errMicro.as("err_micro"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("err_micro")) / count(lit(1)) / 1e6, 6).as("avg_err"))
      .orderBy("cell")
  }

  /** One Lloyd refinement iteration over the PQ codebooks — the
    * per-subspace twin of [[kmeansCentroids]]: new codeword (j, c) = mean
    * of the subspace-j slices of all vectors currently encoding to c in
    * subspace j. Assignment is the native [[pqEncode]] projection (zero
    * shuffle); refinement is one keyed shuffle of (subspace, code, dim)
    * rows — the canonical iterative-ML shape, now per subspace. Iterating
    * assignment+refinement trains the codebooks (k-means per subspace,
    * Jégou et al. 2011 §III); one deterministic iteration is the
    * oracle-checked representative.
    * Output: (j, code, dim, centroid) — dim is subspace-local [0, D/m).
    */
  def pqTrainCodebooks(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sub = dims / m
    val staged = embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
    val bookRows = staged.where(col(idCol) < k)
      .select(col(idCol).cast("long"), col("vecd")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(bookRows.nonEmpty, s"no codebook rows: no $idCol < $k")
    // codes computed inline (no join-back against a separate encode pass)
    staged
      .select(col("vecd"),
        posexplode(graft.functions.VectorExpressions.pq_codes(col("vecd"),
          bookRows.map(_._2), bookRows.map(_._1), m)).as(Seq("j", "code")))
      .select(col("j"), col("code"),
        posexplode(slice(col("vecd"), col("j") * sub + 1, lit(sub)))
          .as(Seq("dim", "v")))
      .groupBy(col("j"), col("code"), col("dim"))
      .agg(round(avg(col("v")), 6).as("centroid"))
  }

  // ------------------------------------------------------------------
  // Trained codebooks / centroids, and serving against an EXPLICIT book.
  //
  // The seed-book functions above fix the codebook to the first k (or
  // numCells) vectors by id — the executable spec the oracles replay.
  // Training refines those seeds by Lloyd iterations: assignment is the
  // zero-shuffle native-encode projection, refinement is ONE keyed
  // (subspace, code, dim) shuffle per iteration, and only the KB-sized
  // codebook ever reaches the driver (k-means at 100 TB: per-iteration
  // cost = one scan + one small-key shuffle; driver state is constant).
  // The *With serving variants take the trained book explicitly, so the
  // training→serving edge is a value, not a convention.
  // ------------------------------------------------------------------

  /** Collect the seed book: the first `limit` vectors by id (the same
    * seeding rule every oracle mirrors with `WHERE vec_id < limit`).
    */
  def seedBook(embeddings: DataFrame, idCol: String, vecCol: String,
      limit: Int): Book = {
    val rows = embeddings
      .select(col(idCol), asDouble(col(vecCol)).as("vecd"))
      .where(col(idCol) < limit)
      .select(col(idCol).cast("long"), col("vecd")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, s"no seed rows: no $idCol < $limit")
    rows
  }

  /** Train the PQ codebooks: `iters` Lloyd iterations per subspace from
    * the seed book (k-means-per-subspace, Jégou et al. 2011 §III). Each
    * iteration: native-encode every vector against the current book (pure
    * projection), then new codeword (j, c) = per-dimension mean of the
    * subspace-j slices encoding to c, rounded to 6 (the determinism
    * contract the DuckDB training mirror replays); a codeword no vector
    * chose keeps its previous value (the standard empty-cluster rule).
    * Per-iteration driver traffic is the k×D book — constant — so the
    * loop is scale-safe at any corpus size. SSE is non-increasing by the
    * k-means argument; the measured SSE ladder is in SURVEY §8 ("ANN
    * trained-vs-seed").
    */
  def trainPqBook(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dims: Int, iters: Int): Book = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sub = dims / m
    val staged = embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
    var book: Book = seedBook(embeddings, idCol, vecCol, k)
    for (_ <- 1 to iters) {
      val means = staged
        .select(col("vecd"),
          posexplode(graft.functions.VectorExpressions.pq_codes(col("vecd"),
            book.map(_._2), book.map(_._1), m)).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(slice(col("vecd"), col("j") * sub + 1, lit(sub)))
            .as(Seq("dim", "v")))
        .groupBy(col("j"), col("code"), col("dim"))
        .agg(round(avg(col("v")), 6).as("centroid"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      book = book.map { case (cid, cv) =>
        val nv = cv.clone()
        for (j <- 0 until m; d <- 0 until sub)
          means.get((j, cid, d)).foreach(nv(j * sub + d) = _)
        (cid, nv)
      }
    }
    book
  }

  /** Train the IVF coarse centroids: `iters` Lloyd iterations from the
    * seed centroids. Assignment = [[ivfAssignWith]] (broadcast argmax,
    * zero shuffle); refinement = one keyed (cell, dim) shuffle; new
    * centroid = per-dimension cell mean rounded to 6; an empty cell keeps
    * its previous centroid. Driver traffic per iteration: numCells×D.
    */
  def trainIvfCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      numCells: Int, iters: Int): Book = {
    var cents: Book = seedBook(embeddings, idCol, vecCol, numCells)
    for (_ <- 1 to iters) {
      val means = ivfAssignWith(embeddings, idCol, vecCol, cents)
        .select(col("cell"), posexplode(col("vecd")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(round(avg(col("v")), 6).as("centroid"))
        .collect()
        .map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2)))
        .toMap
      cents = cents.map { case (cid, cv) =>
        val nv = cv.clone()
        for (d <- nv.indices) means.get((cid, d)).foreach(nv(d) = _)
        (cid, nv)
      }
    }
    cents
  }

  /** [[pqEncode]] against an EXPLICIT codebook (e.g. a [[trainPqBook]]
    * result) — the same zero-shuffle native-kernel projection.
    */
  def pqEncodeWith(embeddings: DataFrame, idCol: String, vecCol: String,
      book: Book, m: Int): DataFrame =
    embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
      .select(col(idCol),
        graft.functions.VectorExpressions.pq_codes(col("vecd"),
          book.map(_._2), book.map(_._1), m).as("codes"))

  /** [[ivfAssign]] against EXPLICIT centroids: identical broadcast-argmax
    * projection, with the centroid rows supplied as a constant frame
    * (their norms recomputed with the same left-to-right fold, so a
    * round-6 trained centroid assigns identically across engines).
    */
  def ivfAssignWith(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: Book): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val staged = embeddings
      .select(col(idCol), asDouble(col(vecCol)).as("vecd"))
      .select(col(idCol), col("vecd"), norm(col("vecd")).as("nrm"))
    val centDf = cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cell_id", "cvec")
      .select(col("cell_id"), col("cvec"), norm(col("cvec")).as("cnrm"))
    val centArr = broadcast(centDf
      .agg(array_sort(collect_list(struct(col("cell_id"), col("cvec"),
        col("cnrm")))).as("_cents")))
    staged.crossJoin(centArr)
      .withColumn("_best", array_min(transform(col("_cents"), c =>
        struct((lit(1.0) - round(dot(col("vecd"), c("cvec")) / (col("nrm") * c("cnrm")), 6)).as("inv"),
          c("cell_id").as("cell_id")))))
      .select(col(idCol), col("vecd"), col("nrm"), col("_best.cell_id").as("cell"))
  }

  /** Collect the single query vector (as doubles) for id `queryId` —
    * shared by every serving path that builds a driver-side LUT or
    * literal from it; fails loudly on 0 or >1 matches.
    */
  private def collectQueryVec(embeddings: DataFrame, idCol: String,
      vecCol: String, queryId: Long): Array[Double] =
    embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
      .where(col(idCol) === queryId)
      .select(col("vecd")).collect() match {
      case Array(r) => r.getSeq[Double](0).toArray
      case other => throw new IllegalArgumentException(
        s"query id $queryId matched ${other.length} rows, want exactly 1")
    }

  /** [[ivfPqTopK]] with EXPLICIT trained centroids and codebook — the
    * serving plan is unchanged (broadcast-argmax assign → nprobe-cell
    * semi-filter → native encode+LUT-sum projection → TakeOrdered); only
    * the constants are the trained ones.
    */
  def ivfPqTopKWith(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, cents: Book, nprobe: Int, book: Book, m: Int,
      topK: Int): DataFrame =
    ivfPqTopKWithQvec(embeddings, idCol, vecCol, queryId,
      collectQueryVec(embeddings, idCol, vecCol, queryId), cents, nprobe,
      book, m, topK)

  private def ivfPqTopKWithQvec(embeddings: DataFrame, idCol: String,
      vecCol: String, queryId: Long, qvec: Array[Double], cents: Book,
      nprobe: Int, book: Book, m: Int, topK: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val assign = ivfAssignWith(embeddings, idCol, vecCol, cents)
    val q = broadcast(assign.where(col(idCol) === queryId)
      .select(col("vecd").as("qvec"), col("nrm").as("qnrm")))
    val centDf = cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cell_id", "cvec")
      .select(col("cell_id"), col("cvec"), norm(col("cvec")).as("cnrm"))
    val probeCells = broadcast(centDf.crossJoin(q)
      .select(col("cell_id").as("cell"),
        round(dot(col("cvec"), col("qvec")) / (col("cnrm") * col("qnrm")), 6).as("qcos"))
      .orderBy(col("qcos").desc, col("cell"))
      .limit(nprobe)
      .select(col("cell")))
    val lut = adcLut(book, qvec, m)
    assign.join(probeCells, Seq("cell"))
      .select(col(idCol),
        (graft.functions.VectorExpressions.pq_adc_sum(
          graft.functions.VectorExpressions.pq_codes(col("vecd"),
            book.map(_._2), book.map(_._1), m),
          lut, book.map(_._1)) / 1e6).as("adc_l2sq"))
      .orderBy(col("adc_l2sq").asc, col(idCol))
      .limit(topK)
  }

  /** Two-stage retrieval: IVF-PQ ADC SHORTLIST → EXACT re-rank — the
    * standard production serving plan (compressed codes answer "which
    * ~shortlist candidates", full-precision vectors answer "in what
    * order"). Stage 1 is [[ivfPqTopKWith]] widened to `shortlist`
    * candidates (cells bound compute, codes bound memory); stage 2
    * broadcast-joins the shortlist ids back to the vector table and
    * scores exact cosine against the query — per-query work is
    * O(shortlist · dims) regardless of corpus size, and the join is a
    * broadcast (shortlist rows), so the whole rerank adds zero shuffles.
    * Recovers the ADC quantization loss: recall is bounded by cell
    * pruning (what the shortlist missed), not by code precision — see
    * SURVEY §8 ("IVF-PQ two-stage rerank").
    */
  def ivfPqRerankWith(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, cents: Book, nprobe: Int, book: Book, m: Int,
      shortlist: Int, topK: Int): DataFrame = {
    val qvec = collectQueryVec(embeddings, idCol, vecCol, queryId)
    val shortIds = ivfPqTopKWithQvec(embeddings, idCol, vecCol, queryId,
      qvec, cents, nprobe, book, m, topK = shortlist).select(col(idCol))
    val staged = embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
    val qlit = typedlit(qvec.toSeq)
    staged.join(broadcast(shortIds), Seq(idCol))
      .select(col(idCol),
        round(dot(col("vecd"), qlit) / (norm(col("vecd")) * norm(qlit)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(topK)
  }

  /** [[ivfPqRerankWith]] with a RESIDUAL (IVFADC) stage 1: the ADC
    * shortlist is ordered by residual codes — which actually rank
    * within-cell candidates on clustered data, where raw codes collapse
    * to ties — then the exact-cosine re-rank orders what the shortlist
    * caught. Same zero-extra-shuffle shape (shortlist ids broadcast back
    * onto the vector table); the shortlist finally contains the right
    * candidates (SURVEY §8, "Clustered ANN fixture": rerank@50 recall
    * 0.40 with the raw-trained shortlist → 0.82 with the k=256 residual
    * shortlist, against the nprobe=2 IVF ceiling of 1.00).
    */
  def ivfPqResidualRerankWith(embeddings: DataFrame, idCol: String,
      vecCol: String, queryId: Long, cents: Book, nprobe: Int, book: Book,
      m: Int, shortlist: Int, topK: Int): DataFrame = {
    val qvec = collectQueryVec(embeddings, idCol, vecCol, queryId)
    val shortIds = ivfPqResidualTopKWith(embeddings, idCol, vecCol, queryId,
      cents, nprobe, book, m, topK = shortlist).select(col(idCol))
    val staged = embeddings.select(col(idCol), asDouble(col(vecCol)).as("vecd"))
    val qlit = typedlit(qvec.toSeq)
    staged.join(broadcast(shortIds), Seq(idCol))
      .select(col(idCol),
        round(dot(col("vecd"), qlit) / (norm(col("vecd")) * norm(qlit)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(topK)
  }

  /** [[pqReconError]] with EXPLICIT centroids and codebook — the
    * index-health metric evaluated against the constants a deployment is
    * actually serving with. Comparing this on the same corpus before and
    * after [[trainPqBook]] is the SSE-drop proof that training improved
    * the quantizer.
    */
  def pqReconErrorWith(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: Book, book: Book, m: Int): DataFrame =
    reconErrorCore(stageForEncode(embeddings, idCol, vecCol, cents, "raw"), book, m)

  /** The (cell, id, `_v`) frame a PQ encode reads: each vector's nearest
    * cell, with `_v` the raw vector for a "raw" index or the residual
    * from the cell's centroid for a "residual" (IVFADC) one.
    */
  private def stageForEncode(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Book, encoding: String): DataFrame =
    if (encoding == "residual")
      residuals(vectors, idCol, vecCol, cents)
        .select(col("cell"), col(idCol), col("resd").as("_v"))
    else
      ivfAssignWith(vectors, idCol, vecCol, cents)
        .select(col("cell"), col(idCol), col("vecd").as("_v"))

  /** Per-row (…, cell, codes, err_micro) frame: codes and quantization
    * SSE computed in ONE projection over the staged vectors. `keep`
    * names staged columns to carry through (e.g. the id for a build).
    */
  private def codesWithErr(staged: DataFrame, keep: Seq[String], book: Book,
      m: Int): DataFrame = {
    val dims = book.head._2.length
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sub = dims / m
    require(book.map(_._1).toSeq == (0L until book.length.toLong),
      s"reconError requires dense codebook ids 0..${book.length - 1}")
    val bookLit = typedlit(book.map(_._2.toSeq).toSeq)
    val withCodes = staged
      .select(keep.map(col) ++ Seq(col("cell"), col("_v"),
        graft.functions.VectorExpressions.pq_codes(col("_v"),
          book.map(_._2), book.map(_._1), m).as("codes")): _*)
    val errMicro = aggregate(
      transform(sequence(lit(0), lit(m - 1)), j => {
        val sa = slice(col("_v"), j * lit(sub) + 1, lit(sub))
        val cb = element_at(bookLit, (get(col("codes"), j) + 1).cast("int"))
        val sb = slice(cb, j * lit(sub) + 1, lit(sub))
        round((dot(sa, sa) - lit(2.0) * dot(sa, sb) + dot(sb, sb)) * 1e6, 0)
          .cast("long")
      }), lit(0L), (acc, x) => acc + x)
    withCodes.select(keep.map(col) ++ Seq(col("cell"), col("codes"),
      errMicro.as("err_micro")): _*)
  }

  /** The health aggregate over a per-row (cell, err_micro) frame. */
  private def healthAgg(rows: DataFrame): DataFrame =
    rows.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("err_micro")) / count(lit(1)) / 1e6, 6).as("avg_err"))
      .orderBy("cell")

  private def reconErrorCore(staged: DataFrame, book: Book,
      m: Int): DataFrame =
    healthAgg(codesWithErr(staged, Seq.empty, book, m))

  /** Residual frame for IVFADC-style encoding: per vector,
    * r = v − centroid(cell(v)) — assignment via [[ivfAssignWith]]
    * (broadcast argmax, zero shuffle), centroid lookup a broadcast join
    * on the cells-sized constant frame, subtraction a codegen zip_with.
    * Output (id, cell, resd).
    */
  def residuals(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: Book): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val centDf = broadcast(cents.toSeq
      .map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cell", "_cvec"))
    ivfAssignWith(embeddings, idCol, vecCol, cents)
      .join(centDf, Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col("vecd"), col("_cvec"), (a, b) => a - b).as("resd"))
  }

  /** Seed codebook for RESIDUAL encoding: the residual vectors of ids
    * [k, 2k), re-keyed to dense codes 0..k−1. The plain [[seedBook]]
    * range (ids < k) is DEGENERATE here whenever the coarse centroids
    * were seeded from the same ids: vector i < k sits in its own cell i,
    * so its residual is exactly the zero vector — an all-zero book
    * encodes every vector to code 0 and ADC collapses. The shifted
    * range keeps seeding deterministic and id-driven while guaranteeing
    * the seeds are genuine (nonzero) residuals.
    */
  def seedResidualBook(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: Book, k: Int): Book = {
    val rows = residuals(embeddings, idCol, vecCol, cents)
      .where(col(idCol) >= k && col(idCol) < 2 * k)
      .select(col(idCol).cast("long"), col("resd")).collect()
      .map(r => (r.getLong(0) - k, r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(rows.length == k,
      s"seedResidualBook: want ids $k until ${2 * k} dense, got ${rows.length}")
    rows
  }

  /** Residual IVF-PQ serving (IVFADC): probe the nprobe nearest cells by
    * centroid cosine, then rank candidates by ADC over RESIDUAL codes —
    * each probed cell gets its own lookup table built from
    * (q − centroid_cell), since the residual of the query differs per
    * cell. The per-cell LUT/codes dispatch is one nested-CASE projection
    * over `cell` (nprobe branches, all codegen; no join, no extra
    * shuffle) on the single assign-filter scan; everything else is the
    * [[ivfPqTopKWith]] plan — broadcast-argmax assign → cell semi-filter
    * → native encode+LUT-sum → TakeOrdered.
    */
  def ivfPqResidualTopKWith(embeddings: DataFrame, idCol: String,
      vecCol: String, queryId: Long, cents: Book, nprobe: Int, book: Book,
      m: Int, topK: Int): DataFrame = {
    val qvec = collectQueryVec(embeddings, idCol, vecCol, queryId)
    val qn = math.sqrt(qvec.map(x => x * x).sum)
    // probe by ROUNDED centroid cosine (ties by cell id) — the identical
    // convention as ivfTopK / ivfPqTopKWith and the DuckDB mirrors, so
    // an oracle replay selects the same cells at rounding boundaries
    val probed: Seq[(Long, Array[Double])] = cents.map { case (cid, cv) =>
      var d = 0.0; var nn = 0.0; var i = 0
      while (i < cv.length) { d += cv(i) * qvec(i); nn += cv(i) * cv(i); i += 1 }
      val qcos = BigDecimal(d / (math.sqrt(nn) * qn))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      ((-qcos, cid), (cid, cv))
    }.sortBy(_._1).take(nprobe).map(_._2).toSeq
    val assign = ivfAssignWith(embeddings, idCol, vecCol, cents)
      .where(col("cell").isin(probed.map(_._1): _*))
    val adcMicro = probed.foldLeft(lit(null).cast("long")) {
      case (acc, (cid, cv)) =>
        val centLit = array(cv.map(lit(_)): _*)
        val resid = zip_with(col("vecd"), centLit, (a, b) => a - b)
        val codes = graft.functions.VectorExpressions.pq_codes(resid,
          book.map(_._2), book.map(_._1), m)
        val qres = Array.tabulate(qvec.length)(i => qvec(i) - cv(i))
        val lut = adcLut(book, qres, m)
        when(col("cell") === cid,
          graft.functions.VectorExpressions.pq_adc_sum(codes, lut,
            book.map(_._1))).otherwise(acc)
    }
    assign.select(col(idCol), (adcMicro / 1e6).as("adc_l2sq"))
      .orderBy(col("adc_l2sq").asc, col(idCol))
      .limit(topK)
  }

  /** The m×k ADC lookup table for one query vector against a book:
    * entry (j, c) = round-to-long of 1e6 × ‖q_j − book[c]_j‖², with the
    * identical left-to-right folds and BigDecimal HALF_UP rounding as
    * Spark's `round` and the DuckDB oracle.
    */
  private def adcLut(book: Book, qvec: Array[Double], m: Int): Array[Long] = {
    val sub = book.head._2.length / m
    def dotOff(a: Array[Double], b: Array[Double], base: Int): Double = {
      var s = 0.0; var i = 0
      while (i < sub) { s += a(base + i) * b(base + i); i += 1 }
      s
    }
    val kk = book.length
    val lut = new Array[Long](m * kk)
    for (j <- 0 until m; c <- 0 until kk) {
      val base = j * sub
      val cv = book(c)._2
      val d = dotOff(qvec, qvec, base) - 2.0 * dotOff(qvec, cv, base) +
        dotOff(cv, cv, base)
      lut(j * kk + c) = BigDecimal(d * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    lut
  }

  /** Sign-LSH bucket signature: `planes` pseudo-random hyperplanes whose
    * components are derived deterministically from hash32(plane:dim) mapped
    * to [-1, 1); the signature is the concatenation of dot-product signs.
    * Vectors in the same bucket are ANN candidates. At 100 TB: groupBy
    * bucket (small keys), verify cosine within buckets only.
    */
  def lshSignature(vec: Column, dims: Int, planes: Int): Column = {
    val sigBits = (0 until planes).map { p =>
      val planeVec = array((0 until dims).map { d =>
        (hash32(lit(s"$p:$d")) / lit(2147483648.0)) - 1.0
      }: _*)
      when(dot(asDouble(vec), planeVec) >= 0, lit(1)).otherwise(lit(0))
    }
    concat_ws("", sigBits.map(_.cast("string")): _*)
  }

  /** ANN candidate pairs: same LSH bucket, verified by exact cosine.
    *
    * The per-vector work (float→double cast, L2 norm, bucket signature) is
    * staged BEFORE the self-join so the pairwise loop evaluates exactly one
    * dot-product fold per candidate — not three folds plus six casts
    * (higher-order functions are interpreted, so per-pair expression count
    * dominates at scale).
    */
  def annPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      dims: Int, planes: Int, minCos: Double): DataFrame = {
    val sig = embeddings
      .select(col(idCol), asDouble(col(vecCol)).as("vecd"))
      .select(col(idCol), col("vecd"), norm(col("vecd")).as("nrm"),
        lshSignature(col("vecd"), dims, planes).as("bucket"))
    val l = sig.select(col("bucket"), col(idCol).as("id_a"),
      col("vecd").as("vec_a"), col("nrm").as("nrm_a"))
    val r = sig.select(col("bucket"), col(idCol).as("id_b"),
      col("vecd").as("vec_b"), col("nrm").as("nrm_b"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 6).as("cos_sim"))
      .where(col("cos_sim") >= minCos)
  }
}
