package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus drift measurement — the SINGLE source of truth for the
  * feature-histogram + PSI convention shared by the batch `drift_psi`
  * catalog query and the streaming monitor
  * (`stream/ModelServing.windowedFeatureBins`): 10 fixed bins over the
  * [0,1] quality features, add-0.5 smoothing, round-6 output. Keeping
  * one spelling is what makes the streaming monitor comparable against
  * batch baselines by construction.
  */
object Drift {

  val Features: Seq[String] = Seq("len", "stop", "quality")
  val Bins = 10

  /** Long-form (timeCol, feature, bin) rows of the quality features —
    * works on batch and streaming frames (pure projections).
    */
  def binned(docs: DataFrame, timeCol: String): DataFrame =
    QualityModel.features(docs)
      .withColumn("_q",
        round(col("x1") * 0.3 + col("x2") * 0.4 + col("x3") * 0.3, 6))
      .select(col(timeCol).as("event_time"), explode(array(
        struct(lit("len").as("feature"), col("x1").as("v")),
        struct(lit("stop").as("feature"), col("x3").as("v")),
        struct(lit("quality").as("feature"), col("_q").as("v")))).as("fv"))
      .select(col("event_time"), col("fv.feature").as("feature"),
        least(floor(col("fv.v") * Bins), lit(Bins - 1)).cast("long").as("bin"))

  /** Batch (feature, bin) histogram of a static corpus — the FROZEN
    * baseline a deployment captures at training time, and the equality
    * reference for the streaming bins.
    */
  def featureBins(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("_t",
      lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    binned(d, "_t").groupBy(col("feature"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** PSI of observed bins against a baseline histogram: full bin grid
    * (empty bins at 0), add-0.5 smoothing, psi = (p−q)·ln(p/q), round 6.
    * Inputs are (feature, bin, cnt) frames, KB-sized.
    */
  def psiVsBaseline(observed: DataFrame, baseline: DataFrame): DataFrame = {
    val spark = observed.sparkSession
    import spark.implicits._
    val grid = Features
      .flatMap(f => (0L until Bins.toLong).map(b => (f, b)))
      .toDF("feature", "bin")
    def filled(df: DataFrame, cName: String): DataFrame =
      grid.join(df, Seq("feature", "bin"), "left")
        .select(col("feature"), col("bin"),
          coalesce(col("cnt"), lit(0L)).as(cName))
    val cc = filled(baseline, "ct").join(filled(observed, "cv"), Seq("feature", "bin"))
    val tot = cc.groupBy("feature")
      .agg(sum(col("ct")).as("nt"), sum(col("cv")).as("nv"))
    val p = (col("ct").cast("double") + 0.5) / (col("nt").cast("double") + 5.0)
    val q = (col("cv").cast("double") + 0.5) / (col("nv").cast("double") + 5.0)
    cc.join(broadcast(tot), "feature")
      .select(col("feature"), col("bin"),
        round(p, 6).as("p"), round(q, 6).as("q"),
        round((p - q) * log(p / q), 6).as("psi"))
  }
}
