package graft

import graft.ext.Pca

/** Power-iteration PCA (`ext/Pca`): determinism, unit norm, Rayleigh
  * ascent, recovery of a planted dominant direction, and the projection
  * serving path.
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf0001)

  private def ltrDot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }; s
  }

  test("component is bit-deterministic and unit-norm") {
    val c1 = Pca.firstComponent(emb, "embedding", 64)
    val c2 = Pca.firstComponent(emb, "embedding", 64)
    assert(c1.v.toSeq == c2.v.toSeq)
    assert(c1.mu.toSeq == c2.mu.toSeq)
    assert(c1.lambda == c2.lambda)
    assert(math.abs(ltrDot(c1.v, c1.v) - 1.0) < 1e-12)
  }

  test("Rayleigh quotient is non-decreasing over power iterations") {
    val lambdas = (1 to 4).map(it =>
      Pca.firstComponent(emb, "embedding", 64, iters = it).lambda)
    lambdas.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"Rayleigh quotient fell: $lambdas")
    }
  }

  test("recovers a planted dominant direction") {
    // variance 100x larger along dim 7 than anywhere else
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian().toFloat * 0.1f)
      v(7) = (rnd.nextGaussian() * 10.0).toFloat
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val c = Pca.firstComponent(df, "embedding", 64)
    assert(math.abs(c.v(7)) > 0.99,
      s"dominant loading ${c.v(7)} should be ~±1 on the planted axis")
    assert(c.lambda > 50.0, s"eigenvalue ${c.lambda} should see the 10^2 variance")
  }

  test("deflation: first component matches firstComponent; components near-orthogonal") {
    val c1 = Pca.firstComponent(emb, "embedding", 64)
    val (mu, comps) = Pca.topComponents(emb, "embedding", 64, k = 3)
    assert(mu.toSeq == c1.mu.toSeq)
    assert(comps.head._1.toSeq == c1.v.toSeq) // identical arithmetic chain
    // each pair of distinct components ~orthogonal (deflation removes the
    // found direction; tolerance covers finite iterations + micro rounding)
    for (a <- comps.indices; b <- comps.indices if a < b)
      assert(math.abs(ltrDot(comps(a)._1, comps(b)._1)) < 0.05,
        s"components $a,$b not orthogonal: ${ltrDot(comps(a)._1, comps(b)._1)}")
    // every component unit-norm; eigenvalue estimates non-negative
    comps.foreach { case (v, l) =>
      assert(math.abs(ltrDot(v, v) - 1.0) < 1e-12)
      assert(l >= 0.0)
    }
  }

  test("reduce: residual-chain coordinates match the driver-side replay") {
    val (mu, comps) = Pca.topComponents(emb, "embedding", 64, k = 2)
    val got = Pca.reduce(emb, "vec_id", "embedding", mu, comps.map(_._1))
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    vecs.take(30).foreach { case (id, raw) =>
      var xc = raw.toArray.map(_.toDouble).zip(mu).map { case (x, m) => x - m }
      val expect = comps.map { case (v, _) =>
        val p = ltrDot(xc, v)
        xc = xc.zip(v).map { case (x, vj) => x - p * vj }
        r6(p)
      }
      assert(got(id) == expect, s"vec $id coords")
    }
  }

  test("projection equals the driver-side centered dot") {
    val c = Pca.firstComponent(emb, "embedding", 64)
    val got = Pca.project(emb, "vec_id", "embedding", c)
      .as[(Long, Double)].collect().toMap
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    vecs.take(50).foreach { case (id, v) =>
      val centered = v.toArray.map(_.toDouble).zip(c.mu).map { case (x, m) => x - m }
      assert(got(id) == r6(ltrDot(centered, c.v)), s"mismatch at $id")
    }
  }
}
