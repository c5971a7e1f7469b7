package graft

import org.apache.spark.sql.functions._
import graft.ext.QualityModel

/** Logistic quality-classifier training (`ext/QualityModel`): exact
  * determinism, convergence, the hand-computed gradient step, and the
  * zero-variance-feature guarantee.
  */
class QualityModelSpec extends SparkSpec {

  private lazy val docs = graft.Tables.documents(spark, sf0001)

  /** Mean log-loss of model `m` over the corpus — the quantity gradient
    * descent minimizes; σ̃ never saturates to 0/1 so the logs are finite.
    */
  private def logLoss(m: QualityModel.Model): Double = {
    val p = QualityModel.sigmoidFast(lit(m.w(0)) + lit(m.w(1)) * col("x1") +
      lit(m.w(2)) * col("x2") + lit(m.w(3)) * col("x3"))
    QualityModel.standardize(QualityModel.features(docs), m.mu, m.sd)
      .select((-(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p))).as("l"))
      .agg(avg(col("l"))).head().getDouble(0)
  }

  test("training is bit-deterministic across runs") {
    val m1 = QualityModel.train(docs)
    val m2 = QualityModel.train(docs)
    assert(m1.w.toSeq == m2.w.toSeq)
    assert(m1.mu.toSeq == m2.mu.toSeq)
    assert(m1.sd.toSeq == m2.sd.toSeq)
  }

  test("training reduces log-loss below the zero-weight baseline (ln 2)") {
    val m = QualityModel.train(docs)
    val zero = QualityModel.Model(Array(0.0, 0.0, 0.0, 0.0), m.mu, m.sd)
    val l0 = logLoss(zero)
    val lT = logLoss(m)
    assert(math.abs(l0 - math.log(2.0)) < 1e-12) // σ̃(0) = 0.5 exactly
    assert(lT < l0, s"trained loss $lT should beat baseline $l0")
  }

  test("trained model separates: both classes predicted, accuracy beats majority") {
    val m = QualityModel.train(docs)
    val scored = QualityModel.score(docs, m)
    val joined = scored.join(
      QualityModel.features(docs).select(col("doc_id"), col("y")), "doc_id")
    val agg = joined.agg(
      sum(when(col("keep") === (col("y") === 1.0), 1L).otherwise(0L)),
      count(lit(1)),
      sum(when(col("keep"), 1L).otherwise(0L))).head()
    val (correct, n, kept) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val posFrac = joined.agg(avg(col("y"))).head().getDouble(0)
    val majority = math.max(posFrac, 1 - posFrac)
    assert(kept > 0 && kept < n, "model should predict both classes")
    assert(correct.toDouble / n > majority,
      s"accuracy ${correct.toDouble / n} should beat majority $majority")
  }

  test("one gradient iteration matches the hand-computed update") {
    val m1 = QualityModel.train(docs, iters = 1, lr = QualityModel.Lr)
    // Hand-replay: collect standardized features, fold the micro-unit
    // gradient exactly as the engine defines it.
    val f = QualityModel.standardize(QualityModel.features(docs), m1.mu, m1.sd)
      .select(col("x1"), col("x2"), col("x3"), col("y")).collect()
    val n = f.length
    val g = Array.fill(4)(0L)
    f.foreach { r =>
      val x = Array(1.0, r.getDouble(0), r.getDouble(1), r.getDouble(2))
      val y = r.getDouble(3)
      val p = 0.5 // zero weights => z = 0 => sigmoid exactly 0.5
      for (j <- 0 to 3)
        g(j) += BigDecimal((p - y) * x(j) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val expected = Array.tabulate(4)(j =>
      0.0 - QualityModel.Lr * (g(j).toDouble / 1e6 / n))
    assert(m1.w.toSeq == expected.toSeq)
  }

  test("zero-variance feature keeps weight exactly 0.0") {
    val m = QualityModel.train(docs)
    // On the fixture corpus the punctuation-cleanliness feature is
    // constant (no punctuation in the generated text) => sd = 0 => the
    // standardized feature is identically 0 => its gradient is always 0.
    val zeroVar = m.sd.zipWithIndex.filter(_._1 == 0.0).map(_._2)
    zeroVar.foreach(j => assert(m.w(j + 1) == 0.0))
  }
}
