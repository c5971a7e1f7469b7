package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Logistic quality-classifier TRAINING — the training→serving edge for
  * the corpus quality filter, the same edge round 8 wired for PQ/IVF.
  *
  * `quality_logistic` scores docs with FIXED weights; a real pipeline
  * trains those weights (fastText-style: a cheap linear model distilled
  * from heuristic labels, then run over the whole corpus). The engine
  * shape is standardize-then-batch-gradient-descent where every step is
  * one aggregation over the corpus:
  *
  *   - ONE text pass featurizes each doc; the resulting frame is
  *     doc-count-sized (id + 4 doubles), inside the engine's
  *     localCheckpoint rule, so the iterations never rescan text;
  *   - feature means/stds come from ONE aggregation (integer micro-unit
  *     sums); a zero-variance feature standardizes to 0 and therefore
  *     keeps weight exactly 0 — collinearity with the bias is dropped
  *     instead of fitted;
  *   - each gradient iteration is a pure projection + 4-long reduction:
  *     the weight vector is a handful of driver doubles broadcast as
  *     literals, and driver traffic per iteration is constant — the
  *     same training pattern as `Similarity.trainPqBook` /
  *     `Bpe.trainMerges`.
  *
  * Cross-engine exactness (the DuckDB oracle replays the whole chain):
  *
  *   - the sigmoid is the RATIONAL fast sigmoid σ̃(z) = 0.5 + 0.5·(z /
  *     (1 + |z|)) — +, ·, /, abs (and sqrt, for the stds) are
  *     exact-rounded IEEE ops, identical on any engine, where exp() is
  *     libm and differs in the last ulp across runtimes (fine under a
  *     final round(6), NOT fine inside a training loop where ulps
  *     compound across iterations);
  *   - per-row gradient/stat contributions are rounded to integer
  *     MICRO-UNITS and summed as longs — integer addition is
  *     order-independent, so every reduction is partition- and
  *     engine-invariant (the PQ/ADC micro-unit trick);
  *   - mean/std/weight updates run identical left-to-right expressions
  *     on both engines, so the constants stay bit-identical by
  *     induction.
  *
  * Labels are the heuristic quality score thresholded at 0.5 (the
  * distillation shape: train a smooth model to reproduce a hand-tuned
  * filter, then keep only the model at serving time).
  */
object QualityModel {

  /** Training iterations / learning rate for the catalog queries. */
  val TrainIters = 8
  val Lr = 2.0

  /** Trained model: weights [bias, w_len, w_punct, w_stop] over
    * STANDARDIZED features, plus the feature means/stds serving must
    * apply (a deployed model ships its scaler).
    */
  case class Model(w: Array[Double], mu: Array[Double], sd: Array[Double])

  /** Feature frame: doc_id, x1 (length, saturating), x2 (punctuation
    * cleanliness), x3 (stopword density) — the same deterministic text
    * features the fixed-weight queries use — plus the heuristic label y.
    */
  def features(docs: DataFrame): DataFrame =
    docs
      .withColumn("_toks", TextOps.tokens(col("text")))
      .withColumn("_nt", size(col("_toks")).cast("double"))
      .withColumn("_nc", length(col("text")).cast("double"))
      .withColumn("_np", TextOps.punctCount(col("text")).cast("double"))
      .withColumn("_ns", TextOps.stopwordCount(col("_toks")).cast("double"))
      // a doc with no characters or no tokens carries no quality signal
      // and would put NULL/NaN divisions into the training sums — drop
      // loudly-by-rule rather than silently-by-null (oracle mirrors the
      // same predicate)
      .where(col("_nt") > 0 && col("_nc") > 0)
      .withColumn("x1", least(col("_nt") / 100.0, lit(1.0)))
      .withColumn("x2", lit(1.0) - col("_np") / col("_nc"))
      .withColumn("x3", col("_ns") / col("_nt"))
      .withColumn("y",
        when(round(col("x1") * 0.3 + col("x2") * 0.4 + col("x3") * 0.3, 6) >= 0.5,
          lit(1.0)).otherwise(lit(0.0)))
      .drop("_toks", "_nt", "_nc", "_np", "_ns")
      // column-preserving on purpose: streaming callers carry their
      // event-time column through featurization (stream/ModelServing)

  private def microSum(x: Column): Column = sum(round(x * lit(1e6), 0).cast("long"))

  /** Feature means and stds from ONE aggregation (micro-unit sums; see
    * object doc). Returns (n, mu, sd) for features x1..x3.
    */
  def stats(f: DataFrame): (Long, Array[Double], Array[Double]) = {
    val row = f.agg(
      count(lit(1)).as("n"),
      microSum(col("x1")).as("s11"), microSum(col("x2")).as("s12"),
      microSum(col("x3")).as("s13"),
      microSum(col("x1") * col("x1")).as("s21"),
      microSum(col("x2") * col("x2")).as("s22"),
      microSum(col("x3") * col("x3")).as("s23")).head()
    val n = row.getLong(0)
    val mu = Array.tabulate(3)(j => row.getLong(j + 1).toDouble / 1e6 / n)
    val sd = Array.tabulate(3) { j =>
      math.sqrt(math.max(row.getLong(j + 4).toDouble / 1e6 / n - mu(j) * mu(j), 0.0))
    }
    (n, mu, sd)
  }

  /** Standardized features: (x − mu) / sd; a zero-variance feature maps
    * to 0 (no information — dropped rather than collinear with bias).
    */
  def standardize(f: DataFrame, mu: Array[Double], sd: Array[Double]): DataFrame = {
    def std(c: String, j: Int): Column =
      if (sd(j) > 0) (col(c) - lit(mu(j))) / lit(sd(j)) else lit(0.0)
    f.select(col("doc_id"), std("x1", 0).as("x1"), std("x2", 1).as("x2"),
      std("x3", 2).as("x3"), col("y"))
  }

  /** σ̃(z) — the rational fast sigmoid (exact-portable; see object doc). */
  def sigmoidFast(z: Column): Column =
    lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z)))

  private def zOf(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") + lit(w(3)) * col("x3")

  /** One batch-gradient step over a STANDARDIZED feature frame: the
    * corpus aggregation (4 micro-unit longs + a count) and the weight
    * update. Shared by [[train]] and the online mini-batch refinement
    * (`stream/ModelServing.OnlineQualityTrainer`) — mini-batch GD is
    * the same step applied per micro-batch.
    */
  def gradientStep(fs: DataFrame, w: Array[Double], lr: Double): Array[Double] = {
    val r = (sigmoidFast(zOf(w)) - col("y")).as("r")
    val row = fs.select(col("x1"), col("x2"), col("x3"), r)
      .agg(count(lit(1)).as("n"),
        microSum(col("r")).as("g0"),
        microSum(col("r") * col("x1")).as("g1"),
        microSum(col("r") * col("x2")).as("g2"),
        microSum(col("r") * col("x3")).as("g3"))
      .head()
    val n = row.getLong(0)
    if (n == 0L) w.clone()
    else Array.tabulate(4)(j => w(j) - lr * (row.getLong(j + 1).toDouble / 1e6 / n))
  }

  /** Standardize + batch gradient descent from zero init. One corpus
    * text pass total; one tiny aggregation per iteration.
    */
  def train(docs: DataFrame, iters: Int = TrainIters, lr: Double = Lr): Model = {
    // Doc-count-sized (id + 4 doubles): inside the localCheckpoint rule —
    // iterating on a checkpointed feature frame beats iters× text rescans.
    val f = features(docs).localCheckpoint(false)
    val (_, mu, sd) = stats(f)
    val fs = standardize(f, mu, sd)
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to iters) w = gradientStep(fs, w, lr)
    Model(w, mu, sd)
  }

  /** Serving: score docs with a (trained) model — scaler and weights
    * enter the plan as broadcast constants, scoring is a zero-shuffle
    * projection with the identical plan shape as `quality_logistic`.
    */
  def score(docs: DataFrame, m: Model): DataFrame =
    standardize(features(docs), m.mu, m.sd)
      .select(col("doc_id"), round(sigmoidFast(zOf(m.w)), 6).as("score"))
      .withColumn("keep", col("score") >= 0.5)

  /** Serving with the heuristic label retained: evaluation queries
    * (calibration) need (score, y) side by side from ONE text pass —
    * same plan as [[score]] plus the label column.
    */
  def scoreLabeled(docs: DataFrame, m: Model): DataFrame =
    standardize(features(docs), m.mu, m.sd)
      .select(col("doc_id"), round(sigmoidFast(zOf(m.w)), 6).as("score"),
        col("y"))

  /** Round-half-up to 6 places, matching Spark's `round` and DuckDB. */
  def r6(x: Double): Double = Exact.r6(x)
}
