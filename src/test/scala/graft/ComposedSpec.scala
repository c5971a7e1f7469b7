package graft

import org.apache.spark.sql.functions._
import graft.queries.ExtensionQueries

/** Corpus-prep v2 composite: algebraic invariants the oracle hash can't
  * express directly — pack-count identity, mixing normalization, and
  * non-degeneracy of the composed gates (correctness of the per-gate
  * values is the DuckDB oracle's job, at all three SFs).
  */
class ComposedSpec extends SparkSpec {

  private lazy val rows =
    ExtensionQueries.queries("pipeline_training_corpus_v2")(spark, sf0001)
      .collect()

  test("n_packs is the concat-and-chunk identity ceil(tokens/budget)") {
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tokens = r.getAs[Long]("n_tokens")
      val packs = r.getAs[Long]("n_packs")
      val b = ExtensionQueries.PackBudget
      assert(packs == (tokens + b - 1) / b, s"source ${r.getAs[String]("source")}")
    }
  }

  test("smoothed source shares normalize to 1 and upsample the tail") {
    val pAlpha = rows.map(_.getAs[Double]("p_alpha"))
    assert(math.abs(pAlpha.sum - 1.0) < 1e-4)
    val byRaw = rows.sortBy(_.getAs[Double]("p_raw"))
    // α=0.5 smoothing: the smallest raw share gets oversampled (>1),
    // the largest damped (<1)
    assert(byRaw.head.getAs[Double]("oversample") > 1.0)
    assert(byRaw.last.getAs[Double]("oversample") < 1.0)
  }

  test("the composed gates are active but not degenerate") {
    val surviving = rows.map(_.getAs[Long]("n_docs")).sum
    val corpus = Tables.documents(spark, sf0001)
      .where(col("doc_id") % 97 =!= 0).count()
    assert(surviving > 0L)
    assert(surviving < corpus, "gates dropped nothing")
    assert(surviving * 20 > corpus, "gates wiped the corpus (<5% survive)")
  }
}
