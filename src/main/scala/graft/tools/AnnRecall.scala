package graft.tools

import graft.ext.Similarity

/** ANN quality measurement (dev tool): recall@k of the approximate
  * retrieval paths against the EXACT ranking in each path's own metric
  * (IVF ranks by cosine; PQ/ADC rank by squared L2), averaged over a set
  * of query vectors — the standard ANN acceptance metric, complementing
  * the oracle checks (which pin determinism, not retrieval quality).
  * Exact baselines are computed driver-side over the collected fixture
  * (thousands of vectors); the approximate paths run their real
  * distributed plans.
  *
  * Caveat on the fixture: embeddings are near-isotropic random vectors
  * (no planted cluster structure), the WORST case for coarse quantizers
  * — production corpora with real semantic clusters sit well above these
  * numbers. The point of recording them is the shape of the tradeoff
  * (nprobe up → recall up, scan fraction up), not the absolute values.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nQueries = args.headOption.map(_.toInt).getOrElse(20)
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus.toInt, "graft-ann-recall")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, d)
    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }
    val byId = vecs.toMap
    val n = vecs.length
    val qids = (0 until nQueries).map(i => i.toLong * (n / nQueries))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def exactTopK(q: Long, metric: String): Set[Long] = {
      val qv = byId(q)
      val qn = math.sqrt(dot(qv, qv))
      vecs.map { case (id, v) =>
        val key = metric match {
          case "cos" => -(dot(v, qv) / (math.sqrt(dot(v, v)) * qn))
          case "l2" => dot(qv, qv) - 2.0 * dot(qv, v) + dot(v, v)
        }
        (key, id)
      }.sorted.take(k).map(_._2).toSet
    }
    def recallOf(name: String, metric: String)(approx: Long => Seq[Long]): Unit = {
      val rs = qids.map(q => (approx(q).toSet & exactTopK(q, metric)).size.toDouble / k)
      println(f"[recall] $name%-22s mean recall@$k = ${rs.sum / rs.size}%.2f  " +
        f"(min ${rs.min}%.2f, max ${rs.max}%.2f, $nQueries queries, n=$n)")
    }
    recallOf("ivf nprobe=4/16", "cos") { q =>
      Similarity.ivfTopK(e, "vec_id", "embedding", q, 16, 4, k)
        .select($"vec_id").as[Long].collect().toSeq
    }
    // codebook-size ladder: recall rises with k (code bytes stay m=8;
    // codebook memory is k×D doubles — still KB-range at k=256)
    for (kBook <- Seq(16, 64, 256)) {
      recallOf(s"pq adc k=$kBook", "l2") { q =>
        Similarity.pqAdcTopK(e, "vec_id", "embedding", q, 8, kBook, 64, k)
          .select($"vec_id").as[Long].collect().toSeq
      }
    }
    recallOf("ivfpq nprobe=4/16", "l2") { q =>
      Similarity.ivfPqTopK(e, "vec_id", "embedding", q, 16, 4, 8, 16, 64, k)
        .select($"vec_id").as[Long].collect().toSeq
    }
    recallOf("ivfpq nprobe=8/16", "l2") { q =>
      Similarity.ivfPqTopK(e, "vec_id", "embedding", q, 16, 8, 8, 16, 64, k)
        .select($"vec_id").as[Long].collect().toSeq
    }

    // --- trained vs seed at FIXED (m=8, k=16, nprobe=4): does wiring the
    // Lloyd-trained codebooks/centroids into serving beat the seed
    // constants? SSE is the k-means objective (non-increasing per
    // iteration — the plateau says when to stop); recall is the serving
    // acceptance metric.
    def pqSse(book: Similarity.Book): Double = {
      val m = 8; val sub = 8
      vecs.iterator.map { case (_, v) =>
        var tot = 0.0
        var j = 0
        while (j < m) {
          val base = j * sub
          var best = Double.MaxValue
          for ((_, cv) <- book) {
            var aa = 0.0; var ab = 0.0; var bb = 0.0
            var i = 0
            while (i < sub) {
              val x = v(base + i); val b = cv(base + i)
              aa += x * x; ab += x * b; bb += b * b; i += 1
            }
            val dd = aa - 2.0 * ab + bb
            if (dd < best) best = dd
          }
          tot += best
          j += 1
        }
        tot
      }.sum
    }
    val seedB = Similarity.seedBook(e, "vec_id", "embedding", 16)
    println(f"[sse] pq k=16 seed      SSE = ${pqSse(seedB)}%.1f")
    val booksByIters = Seq(1, 2, 4, 8).map { it =>
      val b = Similarity.trainPqBook(e, "vec_id", "embedding", 8, 16, 64, it)
      println(f"[sse] pq k=16 trained@$it%-2d SSE = ${pqSse(b)}%.1f")
      it -> b
    }.toMap
    val book2 = booksByIters(2)
    val cents2 = Similarity.trainIvfCentroids(e, "vec_id", "embedding", 16, 2)
    recallOf("pq adc k=16 trained@2", "l2") { q =>
      Similarity.pqAdcTopKWith(e, "vec_id", "embedding", q, book2, 8, k)
        .select($"vec_id").as[Long].collect().toSeq
    }
    recallOf("pq adc k=16 trained@8", "l2") { q =>
      Similarity.pqAdcTopKWith(e, "vec_id", "embedding", q, booksByIters(8), 8, k)
        .select($"vec_id").as[Long].collect().toSeq
    }
    recallOf("ivfpq 4/16 trained@2", "l2") { q =>
      Similarity.ivfPqTopKWith(e, "vec_id", "embedding", q, cents2, 4, book2, 8, k)
        .select($"vec_id").as[Long].collect().toSeq
    }

    // --- two-stage rerank (ADC shortlist → exact cosine re-rank),
    // measured against the TRUE exact-cosine top-k: recall becomes
    // bounded by what the shortlist contains (cell pruning + shortlist
    // width), not by compressed-code ordering precision — it should
    // climb toward the full-precision IVF nprobe=4 ceiling as the
    // shortlist widens.
    for (sl <- Seq(20, 50, 100)) {
      recallOf(s"ivfpq 4/16 rerank@$sl", "cos") { q =>
        Similarity.ivfPqRerankWith(e, "vec_id", "embedding", q, cents2, 4,
            book2, 8, sl, k)
          .select($"vec_id").as[Long].collect().toSeq
      }
    }

    // --- CLUSTERED fixture (r8-verdict task #5): 32 planted modes,
    // md5-seeded centers in [-0.5,0.5)^64 with ±0.1 per-dim jitter —
    // inter-center distance ≈ 3.3 vs within-cluster ≈ 0.65, the regime
    // coarse quantizers exist for. The isotropic fixture above makes
    // composed IVF-PQ flat by construction (every cell boundary cuts
    // through uniform density); here trained centroids must beat the
    // seed at fixed nprobe. ivfTopKWith is full-precision, isolating
    // the CENTROID effect from PQ ranking error; the composed
    // ivfPqTopKWith rung shows the effect surviving compression.
    {
      def h(s: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.nio.ByteBuffer.wrap(md).getLong
      }
      def u(seed: String, span: Int): Double = // uniform in [-span/2000, span/2000)
        (((h(seed) % span) + span) % span).toDouble / 1000.0 - span / 2000.0
      val dim = 64; val modes = 32; val nC = 4096
      val centers = Array.tabulate(modes, dim)((m, j) => u(s"c:$m:$j", 1000))
      val cvecs: Array[(Long, Array[Double])] = Array.tabulate(nC) { i =>
        val m = (((h(s"m:$i") % modes) + modes) % modes).toInt
        (i.toLong, Array.tabulate(dim)(j => centers(m)(j) + u(s"j:$i:$j", 200)))
      }
      val ce = cvecs.toSeq
        .map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
        .toDF("vec_id", "embedding")
        .repartition(8).localCheckpoint(false)
      val cById = cvecs.toMap
      val cQids = (0 until nQueries).map(i => i.toLong * (nC / nQueries))
      def cExact(qid: Long, metric: String): Set[Long] = {
        val qv = cById(qid)
        val qn = math.sqrt(dot(qv, qv))
        cvecs.map { case (id, v) =>
          val key = metric match {
            case "cos" => -(dot(v, qv) / (math.sqrt(dot(v, v)) * qn))
            case "l2" => dot(qv, qv) - 2.0 * dot(qv, v) + dot(v, v)
          }
          (key, id)
        }.sorted.take(k).map(_._2).toSet
      }
      def cRecall(name: String, metric: String = "cos")(approx: Long => Seq[Long]): Unit = {
        val rs = cQids.map(q => (approx(q).toSet & cExact(q, metric)).size.toDouble / k)
        println(f"[recall] $name%-26s mean recall@$k = ${rs.sum / rs.size}%.2f  " +
          f"(min ${rs.min}%.2f, max ${rs.max}%.2f, $nQueries queries, n=$nC clustered)")
      }
      val seedC = Similarity.seedBook(ce, "vec_id", "embedding", 16)
      val trainC = Similarity.trainIvfCentroids(ce, "vec_id", "embedding", 16, 4)
      for (np <- Seq(1, 2, 4)) {
        cRecall(s"clu ivf seed    np=$np") { q =>
          Similarity.ivfTopKWith(ce, "vec_id", "embedding", q, seedC, np, k)
            .select($"vec_id").as[Long].collect().toSeq
        }
        cRecall(s"clu ivf trained np=$np") { q =>
          Similarity.ivfTopKWith(ce, "vec_id", "embedding", q, trainC, np, k)
            .select($"vec_id").as[Long].collect().toSeq
        }
      }
      val seedPq = Similarity.seedBook(ce, "vec_id", "embedding", 16)
      val trainPq = Similarity.trainPqBook(ce, "vec_id", "embedding", 8, 16, 64, 4)
      cRecall("clu ivfpq seed     np=2", "l2") { q =>
        Similarity.ivfPqTopKWith(ce, "vec_id", "embedding", q, seedC, 2,
            seedPq, 8, k)
          .select($"vec_id").as[Long].collect().toSeq
      }
      cRecall("clu ivfpq trained  np=2", "l2") { q =>
        Similarity.ivfPqTopKWith(ce, "vec_id", "embedding", q, trainC, 2,
            trainPq, 8, k)
          .select($"vec_id").as[Long].collect().toSeq
      }
      // residual (IVFADC) book: code bits spend themselves on the
      // WITHIN-cell variance — the fix for the raw-book collapse above
      val residPq = Similarity.trainPqBookResidual(ce, "vec_id", "embedding",
        trainC, 8, 16, 64, 4)
      for (np <- Seq(2, 4)) {
        cRecall(s"clu ivfpq RESID    np=$np", "l2") { q =>
          Similarity.ivfPqResidualTopKWith(ce, "vec_id", "embedding", q,
              trainC, np, residPq, 8, k)
            .select($"vec_id").as[Long].collect().toSeq
        }
      }
      // code-resolution ladder: k=256 residual book (finer within-cell
      // quantization) and exact rerank off the compressed shortlist
      val residPq256 = Similarity.trainPqBookResidual(ce, "vec_id",
        "embedding", trainC, 8, 256, 64, 4)
      cRecall("clu ivfpq RESID256 np=2", "l2") { q =>
        Similarity.ivfPqResidualTopKWith(ce, "vec_id", "embedding", q,
            trainC, 2, residPq256, 8, k)
          .select($"vec_id").as[Long].collect().toSeq
      }
      cRecall("clu ivfpq rerank@50 np=2") { q =>
        Similarity.ivfPqRerankWith(ce, "vec_id", "embedding", q, trainC, 2,
            trainPq, 8, 50, k)
          .select($"vec_id").as[Long].collect().toSeq
      }
      // residual shortlist + exact rerank: the shortlist finally CONTAINS
      // the true neighbors (raw codes collapsed to in-cell ties), so the
      // rerank should converge on the trained-IVF np=2 ceiling (1.00)
      cRecall("clu RESID rerank@50 np=2") { q =>
        Similarity.ivfPqResidualRerankWith(ce, "vec_id", "embedding", q,
            trainC, 2, residPq, 8, 50, k)
          .select($"vec_id").as[Long].collect().toSeq
      }
      cRecall("clu R256  rerank@50 np=2") { q =>
        Similarity.ivfPqResidualRerankWith(ce, "vec_id", "embedding", q,
            trainC, 2, residPq256, 8, 50, k)
          .select($"vec_id").as[Long].collect().toSeq
      }
      // r9-verdict task #2: shortlist-width ladder — is the residual-
      // rerank → trained-IVF-ceiling gap (0.82 vs 1.00 at @50) really
      // shortlist width, as SURVEY §8 attributes? If recall saturates
      // below ~0.95 as sl grows, width is NOT the cause (next suspect:
      // code resolution / rotation of the residual book).
      for (sl <- Seq(100, 200, 400)) {
        cRecall(f"clu RESID rerank@$sl%-3d np=2") { q =>
          Similarity.ivfPqResidualRerankWith(ce, "vec_id", "embedding", q,
              trainC, 2, residPq, 8, sl, k)
            .select($"vec_id").as[Long].collect().toSeq
        }
        cRecall(f"clu R256  rerank@$sl%-3d np=2") { q =>
          Similarity.ivfPqResidualRerankWith(ce, "vec_id", "embedding", q,
              trainC, 2, residPq256, 8, sl, k)
            .select($"vec_id").as[Long].collect().toSeq
        }
      }
    }
    spark.stop()
  }
}
