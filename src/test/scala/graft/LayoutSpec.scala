package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.ops.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("writePartitioned: directory keys, pruned reads, in-file ordering") {
    val out = graft.TempStores.newStorePath("graft_layout").toString + "/docs"
    Layout.writePartitioned(
      Tables.documents(spark, sf0001), out,
      partitionCols = Seq("lang"), sortCols = Seq("doc_id"))

    val back = spark.read.parquet(out)
    assert(back.count() == Tables.documents(spark, sf0001).count())

    // partition pruning: a lang filter reaches the scan as a PartitionFilter
    val pruned = back.where($"lang" === "en")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty,
      s"expected partition filters, got: ${scan.partitionFilters}")
    assert(pruned.count() ==
      Tables.documents(spark, sf0001).where($"lang" === "en").count())

    // in-file clustering: doc_id is non-decreasing within each file
    val disorder = back
      .select(input_file_name().as("f"), $"doc_id")
      .withColumn("prev", lag($"doc_id", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"f").orderBy(
          monotonically_increasing_id())))
      .where($"prev" > $"doc_id")
    assert(disorder.isEmpty)
  }

  test("IVF-PQ index on disk: pruned serving reads only probed cells, answer matches in-plan IVF-PQ") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf0001)
    val path = graft.TempStores.newStorePath("graft_ivfpq").toString + "/index"
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding",
      numCells = 16, m = 8, k = 16, dims = 64, path = path)

    // serve BY VECTOR (query vector = corpus id 0, so the in-plan
    // spelling is the executable expectation)
    val qvec = e.where($"vec_id" === 0L)
      .select($"embedding").head().getAs[scala.collection.Seq[Float]](0)
      .map(_.toDouble).toArray
    val served = Similarity.ivfPqTopKFromIndex(spark, path, qvec,
      nprobe = 4, topK = 10)
    val inPlan = Similarity.ivfPqTopK(e, "vec_id", "embedding",
      queryId = 0L, numCells = 16, nprobe = 4, m = 8, k = 16, dims = 64,
      topK = 10).as[(Long, Double)].collect().toSeq
    assert(served.as[(Long, Double)].collect().toSeq == inPlan)

    // the serving scan is partition-pruned: the index holds ~numCells
    // cell directories, and the probed-cell filter reaches the scan as a
    // PartitionFilter (same proof shape as the writePartitioned test) —
    // at 10^9 vectors the unprobed directories are never opened
    val cellDirs = new java.io.File(path + "/codes/base").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs > 4, s"expected many cell dirs, got $cellDirs")
    // recompute the probed cells with the serving rule (top-4 round-6
    // centroid cosine, ties to the lowest cell id)
    def dotLtr(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = spark.read.parquet(path + "/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qn = math.sqrt(dotLtr(qvec, qvec))
    val probed = cents.map { case (cid, cv) =>
      (-r6(dotLtr(cv, qvec) / (math.sqrt(dotLtr(cv, cv)) * qn)), cid)
    }.sorted.take(4).map(_._2)
    val prunedRead = Similarity.readCodes(spark, path)
      .where($"cell".isin(probed.map(Long.box): _*))
    val scan = prunedRead.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty,
      s"expected partition filters, got: ${scan.partitionFilters}")
  }

  test("IVF-PQ append: frozen-constant append + serve == full rebuild + serve on the union") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf0001)
    val half = e.count() / 2
    // contiguous split so the first half contains ids 0..15 (dense seeds)
    val first = e.where($"vec_id" < half)
    val rest = e.where($"vec_id" >= half)
    val tmp = graft.TempStores.newStorePath("graft_ivfpq_append").toString
    val base = tmp + "/idx"
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding",
      numCells = 16, m = 8, k = 16, dims = 64, path = base, trainIters = 2)

    // append encodes the new half against the FROZEN trained constants
    // and returns the staleness report vs the build-time health baseline
    val report = Similarity.appendIvfPqIndex(rest, base, "a1").collect()
    assert(report.nonEmpty)
    assert(report.forall(r => r.getAs[Long]("n_appended") > 0))
    // appended rows were never seen by training: their error should be
    // finite and comparable (ratio defined wherever the cell existed)
    assert(report.exists(r => !r.isNullAt(r.fieldIndex("err_ratio"))))

    // full rebuild of the UNION corpus under the SAME frozen constants
    val (_, _, m, cents, book) = Similarity.readIndexSides(spark, base)
    val rebuilt = tmp + "/idx_rebuild"
    Similarity.writeIvfPqIndexWith(e, "vec_id", "embedding", cents, book,
      m, rebuilt)

    // row-identical codes tables (append added a delta, not different rows)
    val aRows = Similarity.readCodes(spark, base)
      .select($"cell", $"vec_id", $"codes".cast("array<string>"))
      .as[(Long, Long, Seq[String])].collect().sortBy(r => (r._1, r._2)).toSeq
    val bRows = Similarity.readCodes(spark, rebuilt)
      .select($"cell", $"vec_id", $"codes".cast("array<string>"))
      .as[(Long, Long, Seq[String])].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(aRows == bRows)

    // identical serving answers from both indexes
    val qvec = e.where($"vec_id" === 0L)
      .select($"embedding").head().getAs[scala.collection.Seq[Float]](0)
      .map(_.toDouble).toArray
    val servedAppend = Similarity.ivfPqTopKFromIndex(spark, base, qvec,
      nprobe = 4, topK = 10).as[(Long, Double)].collect().toSeq
    val servedRebuild = Similarity.ivfPqTopKFromIndex(spark, rebuilt, qvec,
      nprobe = 4, topK = 10).as[(Long, Double)].collect().toSeq
    assert(servedAppend == servedRebuild)

    // CRASH SAFETY: an append that wrote its delta but died before the
    // manifest commit must be invisible to serving (the raw
    // SaveMode.Append design would serve its half-written files
    // immediately); vacuum then garbage-collects exactly that orphan
    val orphan = new java.io.File(base + "/codes/orphan")
    assert(new java.io.File(rebuilt + "/codes/base").renameTo(orphan))
    val withOrphan = Similarity.ivfPqTopKFromIndex(spark, base, qvec,
      nprobe = 4, topK = 10).as[(Long, Double)].collect().toSeq
    assert(withOrphan == servedAppend, "uncommitted delta leaked into serving")
    Similarity.vacuumCodes(base)
    assert(!orphan.exists())
    assert(new java.io.File(base + "/codes").listFiles()
      .map(_.getName).sorted.toSeq == Seq("a1", "base"))

    // a RETRIED append (same delta name) overwrites in place: still
    // row-identical to the rebuild, no duplicates
    Similarity.appendIvfPqIndex(rest, base, "a1")
    val afterRetry = Similarity.readCodes(spark, base)
      .select($"cell", $"vec_id").as[(Long, Long)].collect().sortBy(identity).toSeq
    assert(afterRetry == bRows.map(r => (r._1, r._2)).sorted)

    // an EMPTY append commits nothing — a dataless delta directory
    // would make every later readCodes fail schema inference
    Similarity.appendIvfPqIndex(e.where($"vec_id" < 0), base, "a9")
    assert(new java.io.File(base + "/codes").listFiles()
      .map(_.getName).sorted.toSeq == Seq("a1", "base"))
    assert(Similarity.readCodes(spark, base).count() == e.count())
  }

  test("retrain-under-ingest: drifted append trips the trigger, refresh == rebuild-from-scratch, recall restored") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding")
    val half = e.count() / 2
    val first = e.where($"vec_id" < half)
    val inDist = e.where($"vec_id" >= half)
    // drifted ingest: a distribution the frozen books never saw
    // (negated, 3x-scaled corpus vectors under fresh ids) — appended
    // codes reconstruct poorly, which is exactly what the staleness
    // report exists to catch
    val drifted = e.where($"vec_id" >= half)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => -x * lit(3.0f)).as("embedding"))
    val tmp = graft.TempStores.newStorePath("graft_ivfpq_refresh").toString
    val path = tmp + "/idx"
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding",
      numCells = 16, m = 8, k = 16, dims = 64, path = path, trainIters = 2)

    // CONTROL: an in-distribution append must NOT trip the trigger —
    // a gate that retrains on every append is just a slow rebuild loop
    val report0 = Similarity.appendIvfPqIndex(inDist, path, "a1")
      .localCheckpoint(true)
    val report0Rows = report0.collect().toSeq
    val corpus0 = first.unionByName(inDist)
    assert(!Similarity.refreshIfStale(corpus0, path, report0).retrained,
      s"in-distribution append must not retrain: ${report0Rows.mkString(", ")}")

    // stale serving snapshot BEFORE the refresh, for the recall delta
    val corpus = corpus0.unionByName(drifted)
    val qvec = drifted.select($"embedding").head()
      .getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray
    def recallOf(p: String): Double = {
      val served = Similarity.ivfPqTopKFromIndex(spark, p, qvec,
        nprobe = 4, topK = 10).select($"vec_id").as[Long].collect().toSet
      val vecs = corpus.select($"vec_id", $"embedding")
        .as[(Long, Seq[Float])].collect()
        .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
      def dotLtr(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }; s
      }
      val qn = math.sqrt(dotLtr(qvec, qvec))
      val exact = vecs.map { case (id, v) =>
          (dotLtr(v, qvec) / (math.sqrt(dotLtr(v, v)) * qn), id)
        }.sortBy(p => (-p._1, p._2)).take(10).map(_._2).toSet
      (served intersect exact).size.toDouble / exact.size
    }

    // pin the report rows BEFORE the refresh: the lazy plan reads the
    // index's health baseline, which a triggered refresh overwrites
    val report1 = Similarity.appendIvfPqIndex(drifted, path, "a2")
      .localCheckpoint(true)
    val report1Rows = report1.collect().toSeq
    val staleRecall = recallOf(path)
    // partialMaxCellShare = 0.0 pins THIS test to the full-rebuild rung
    // (its equality reference is rebuild-from-scratch); the partial rung
    // has its own test below. Hyperparameters (cells/m/k/dims/iters) are
    // read back from the index meta, not repeated here.
    val outcome = Similarity.refreshIfStale(corpus, path, report1,
      partialMaxCellShare = 0.0)
    assert(outcome.retrained && outcome.mode == "full",
      s"drifted append must trip the full retrain: ${report1Rows.mkString(", ")}")

    // the refreshed index IS the rebuild-from-scratch index: training is
    // deterministic (md5-seeded k-means over the same live corpus), so
    // codes and serving answers must be identical, not just close
    val rebuilt = tmp + "/rb"
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding",
      numCells = 16, m = 8, k = 16, dims = 64, path = rebuilt,
      trainIters = 2)
    def codesOf(p: String) = Similarity.readCodes(spark, p)
      .select($"cell", $"vec_id", $"codes".cast("array<string>"))
      .as[(Long, Long, Seq[String])].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(codesOf(path) == codesOf(rebuilt))
    val servedRefresh = Similarity.ivfPqTopKFromIndex(spark, path, qvec,
      nprobe = 4, topK = 10).as[(Long, Double)].collect().toSeq
    val servedRebuild = Similarity.ivfPqTopKFromIndex(spark, rebuilt, qvec,
      nprobe = 4, topK = 10).as[(Long, Double)].collect().toSeq
    assert(servedRefresh == servedRebuild)

    // recall against exact brute force: retraining on the drifted
    // corpus must serve the drifted query at least as well as the stale
    // frozen constants did. The absolute level is fixture-bound, not a
    // quality ceiling: on this isotropic fixture IVF-PQ recall@10 is
    // nprobe-limited (~0.23–0.27 at nprobe=4/16 cells, the r8 recall
    // grid in SURVEY §8) — the measured 0.4 here is deterministic and
    // pinned as the floor
    val freshRecall = recallOf(path)
    assert(freshRecall >= staleRecall,
      s"refresh regressed recall: stale=$staleRecall fresh=$freshRecall")
    assert(freshRecall >= 0.4,
      s"refreshed recall@10 below the pinned fixture level: $freshRecall " +
        s"(stale was $staleRecall)")
  }

  test("partial refresh: cold codes byte-identical, cold serving equal, hot recall restored, watermark kept") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val tmp = graft.TempStores.newStorePath("graft_ivfpq_partial").toString
    val path = tmp + "/idx"
    // residual encoding: the rung where a refined centroid actually
    // changes the codes (raw PQ codes are centroid-independent)
    val cents = Similarity.seedBook(e, "vec_id", "embedding", 16)
    val rbook = Similarity.seedResidualBook(e, "vec_id", "embedding",
      cents, 16)
    Similarity.writeIvfPqIndexWith(e, "vec_id", "embedding", cents, rbook,
      m = 8, path = path, encoding = "residual")

    // concentrated drift: positive multiples (3x..7x) of ONE centroid's
    // direction with a deterministic one-dimension jitter — cosine
    // argmax sends every one to that centroid's cell (magnitude doesn't
    // move a cosine argmax), where they reconstruct terribly against
    // the frozen residual book → exactly one hot cell
    val hotCell = cents(3)._1
    val cLit = typedlit(cents(3)._2.toSeq)
    val drifted = spark.range(0, 60).select(
      ($"id" + 500000L).as("vec_id"),
      transform(cLit, (x, j) =>
        (x * (lit(3.0) + ($"id" % 5)) +
          when(j === ($"id" % 64).cast("int"), lit(0.05)).otherwise(lit(0.0)))
          .cast("float")).as("embedding"))
    val report = Similarity.appendIvfPqIndex(drifted, path, "a1",
      watermark = Some(7L)).localCheckpoint(true)
    val corpus = e.unionByName(drifted)

    // pre-refresh snapshots
    def coldFileDigests(): Seq[String] = {
      val live = graft.ops.Manifest.read(
        new java.io.File(s"$path/codes.manifest")).get.entries
      (for {
        d <- live
        cellDir <- Option(new java.io.File(s"$path/codes/$d").listFiles())
          .getOrElse(Array.empty[java.io.File]).toSeq
        if cellDir.isDirectory && cellDir.getName.startsWith("cell=") &&
          cellDir.getName.stripPrefix("cell=").toLong != hotCell
        f <- cellDir.listFiles().toSeq
        if f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
      } yield java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString).sorted.toSeq
    }
    val coldBefore = coldFileDigests()
    assert(coldBefore.nonEmpty, "fixture produced no cold-cell files — weak test")
    // a cold-cell query: nprobe=1 on a cold centroid's own direction
    // probes exactly that (untouched) cell before and after
    val coldQ = cents(7)._2
    val coldServedBefore = Similarity.ivfPqTopKFromIndex(spark, path, coldQ,
      nprobe = 1, topK = 5).as[(Long, Double)].collect().toSeq
    val hotQ = drifted.where($"vec_id" === 500000L).select($"embedding")
      .head().getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray
    def recallOf(q: Array[Double]): Double = {
      // exact EUCLIDEAN ground truth: from-index serving ranks by ADC
      // L2 (adc_l2sq), and the planted magnitude spread makes L2 and
      // cosine orders genuinely different here (the earlier full-rung
      // test used cosine because its corpus is uniformly unit-ish)
      val served = Similarity.ivfPqTopKFromIndex(spark, path, q,
        nprobe = 4, topK = 10).select($"vec_id").as[Long].collect().toSet
      val vecs = corpus.as[(Long, Seq[Float])].collect()
        .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
      val exact = vecs.map { case (id, v) =>
          (v.indices.map(i => (v(i) - q(i)) * (v(i) - q(i))).sum, id)
        }.sortBy(identity).take(10).map(_._2).toSet
      (served intersect exact).size.toDouble / exact.size
    }
    val staleRecall = recallOf(hotQ)

    // the refresh must pick the PARTIAL rung: one hot cell out of 16
    val outcome = Similarity.refreshIfStale(corpus, path, report)
    assert(outcome.retrained && outcome.mode == "partial",
      s"expected the partial rung, got ${outcome.mode} " +
        s"(hot=${outcome.hotCells.mkString(",")})")
    assert(outcome.hotCells == Seq(hotCell),
      s"drift was planted in cell $hotCell only: ${outcome.hotCells}")

    // 1. cold-cell code files are BYTE-IDENTICAL carried copies — the
    // partial rung spent zero compute (and zero re-encode risk) on the
    // 15 untouched cells
    assert(coldFileDigests() == coldBefore,
      "cold-cell code bytes changed under a partial refresh")
    // 2. serving a cold-cell query is unchanged
    val coldServedAfter = Similarity.ivfPqTopKFromIndex(spark, path, coldQ,
      nprobe = 1, topK = 5).as[(Long, Double)].collect().toSeq
    assert(coldServedAfter == coldServedBefore)
    // 3. the hot query's recall is restored (refined centroid shrinks
    // the drifted residuals the frozen book couldn't code)
    val freshRecall = recallOf(hotQ)
    assert(freshRecall >= staleRecall,
      s"partial refresh regressed hot recall: stale=$staleRecall fresh=$freshRecall")
    assert(freshRecall >= 0.5,
      s"hot recall not restored: stale=$staleRecall fresh=$freshRecall")
    // 4. the streaming watermark survived the consolidation: a replayed
    // ingest batch must stay a no-op after the refresh
    assert(graft.ops.Manifest.read(
        new java.io.File(s"$path/codes.manifest")).get.maxBatch == Some(7L))
    val deltasNow = new java.io.File(s"$path/codes").listFiles()
      .map(_.getName).sorted.toSeq
    Similarity.ingestBatch(drifted, 7L, path)
    assert(new java.io.File(s"$path/codes").listFiles()
      .map(_.getName).sorted.toSeq == deltasNow)
    // vacuum garbage-collects the superseded pre-refresh deltas
    Similarity.vacuumCodes(path)
    assert(new java.io.File(s"$path/codes").listFiles()
      .map(_.getName).sorted.toSeq == Seq("refresh1"))
    assert(Similarity.readCodes(spark, path).count() == corpus.count())
  }

  test("residual (IVFADC) index: from-index serving == direct plan, append == rebuild, encoding recorded") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf0001)
    val tmp = graft.TempStores.newStorePath("graft_ivfpq_resid").toString
    val path = tmp + "/idx"
    val cents = Similarity.seedBook(e, "vec_id", "embedding", 16)
    val rbook = Similarity.seedResidualBook(e, "vec_id", "embedding",
      cents, 16)
    val half = e.count() / 2
    Similarity.writeIvfPqIndexWith(e.where($"vec_id" < half), "vec_id",
      "embedding", cents, rbook, m = 8, path = path, encoding = "residual")
    assert(Similarity.readIndexEncoding(spark, path) == "residual")

    // append encodes against the frozen constants WITH the recorded
    // encoding (a raw re-encode here would silently corrupt serving)
    val report = Similarity.appendIvfPqIndex(
      e.where($"vec_id" >= half), path, "a1").collect()
    assert(report.nonEmpty && report.forall(_.getAs[Long]("n_appended") > 0))

    val rebuilt = tmp + "/idx_rebuild"
    Similarity.writeIvfPqIndexWith(e, "vec_id", "embedding", cents, rbook,
      m = 8, path = rebuilt, encoding = "residual")
    def codesOf(p: String) = Similarity.readCodes(spark, p)
      .select($"cell", $"vec_id", $"codes".cast("array<string>"))
      .as[(Long, Long, Seq[String])].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(codesOf(path) == codesOf(rebuilt))

    // residual codes genuinely differ from a raw encode under the same
    // book (the encoding is real, not a metadata label)
    val rawIdx = tmp + "/idx_raw"
    Similarity.writeIvfPqIndexWith(e, "vec_id", "embedding", cents, rbook,
      m = 8, path = rawIdx)
    assert(Similarity.readIndexEncoding(spark, rawIdx) == "raw")
    assert(codesOf(rebuilt) != codesOf(rawIdx))

    // from-index serving (per-probed-cell LUT dispatch on the partition
    // column) must equal the direct in-plan residual query bit-for-bit
    val qvec = e.where($"vec_id" === 0L)
      .select($"embedding").head().getAs[scala.collection.Seq[Float]](0)
      .map(_.toDouble).toArray
    val served = Similarity.ivfPqTopKFromIndex(spark, path, qvec,
      nprobe = 4, topK = 10).as[(Long, Double)].collect().toSeq
    val direct = Similarity.ivfPqResidualTopKWith(e, "vec_id", "embedding",
      queryId = 0L, cents, nprobe = 4, rbook, m = 8, topK = 10)
      .as[(Long, Double)].collect().toSeq
    assert(served == direct)
  }

  test("streaming ANN ingest: per-batch deltas == frozen-constant rebuild; replay is a no-op") {
    import graft.ext.Similarity
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e = Tables.embeddings(spark, sf0001)
    val half = e.count() / 2
    val first = e.where($"vec_id" < half)
    val rest = e.where($"vec_id" >= half)
    val tmp = graft.TempStores.newStorePath("graft_ivfpq_stream").toString
    val base = tmp + "/idx"
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding",
      numCells = 16, m = 8, k = 16, dims = 64, path = base, trainIters = 2)

    // stream the remaining vectors in two micro-batches
    val restRows = rest.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val (rA, rB) = restRows.splitAt(restRows.length / 2)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = Similarity.ingestStream(
      input.toDF().toDF("vec_id", "embedding"), base).start()
    try {
      input.addData(rA.toSeq); q.processAllAvailable()
      input.addData(rB.toSeq); q.processAllAvailable()
    } finally q.stop()

    // serving == a rebuild of the union under the SAME frozen constants
    val (_, _, m, cents, book) = Similarity.readIndexSides(spark, base)
    val rebuilt = tmp + "/idx_rebuild"
    Similarity.writeIvfPqIndexWith(e, "vec_id", "embedding", cents, book,
      m, rebuilt)
    val qvec = e.where($"vec_id" === 0L)
      .select($"embedding").head().getAs[scala.collection.Seq[Float]](0)
      .map(_.toDouble).toArray
    val servedStream = Similarity.ivfPqTopKFromIndex(spark, base, qvec,
      nprobe = 4, topK = 10).as[(Long, Double)].collect().toSeq
    val servedRebuild = Similarity.ivfPqTopKFromIndex(spark, rebuilt, qvec,
      nprobe = 4, topK = 10).as[(Long, Double)].collect().toSeq
    assert(servedStream == servedRebuild)

    // a REPLAYED batch id is a no-op via the manifest watermark — a
    // re-insert would duplicate every vector of the batch
    val deltas = new java.io.File(base + "/codes").listFiles()
      .map(_.getName).sorted.toSeq
    Similarity.ingestBatch(rB.toSeq.toDF("vec_id", "embedding"), 1, base)
    assert(new java.io.File(base + "/codes").listFiles()
      .map(_.getName).sorted.toSeq == deltas)
    assert(Similarity.readCodes(spark, base).count() == e.count())
  }

  test("z-order layout prunes 2-d box predicates better than lexicographic sort") {
    // 150 users x 20 value-buckets; same file count both layouts.
    val ev = Tables.events(spark, sf0001)
      .select($"user_id".cast("long").as("x"),
        floor($"value" / 25.0).cast("long").as("y"))
    val base = graft.TempStores.newStorePath("graft_zorder").toString
    val nFiles = 16
    Layout.writeZOrdered(ev, s"$base/z", "x", "y", numFiles = nFiles, bits = 8)
    ev.repartitionByRange(nFiles, $"x", $"y").sortWithinPartitions($"x", $"y")
      .write.parquet(s"$base/lex")

    // Files whose (min,max) envelope intersects the box — what parquet
    // footer stats let a reader skip without opening the file.
    def filesIntersecting(dir: String, xlo: Long, xhi: Long, ylo: Long, yhi: Long): Long =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min($"x").as("x0"), max($"x").as("x1"), min($"y").as("y0"), max($"y").as("y1"))
        .where($"x1" >= xlo && $"x0" <= xhi && $"y1" >= ylo && $"y0" <= yhi)
        .count()

    // A y-only band: the lexicographic layout (x-leading) cannot prune it
    // — every file spans the full y range — while z-tiles bound y too.
    val zFiles = filesIntersecting(s"$base/z", 0, 1000, 2, 3)
    val lexFiles = filesIntersecting(s"$base/lex", 0, 1000, 2, 3)
    assert(lexFiles == nFiles, s"x-sorted layout should not prune a y-band ($lexFiles)")
    assert(zFiles < lexFiles, s"z=$zFiles lex=$lexFiles")
    // and the z layout still serves the x-leading box comparably.
    val zBox = filesIntersecting(s"$base/z", 40, 60, 0, 1000)
    assert(zBox < nFiles, s"z layout should bound x too ($zBox)")
    // layout changes bytes, never rows
    assert(spark.read.parquet(s"$base/z").count() == ev.count())
  }

  test("writePartitioned caps records per file") {
    val out = graft.TempStores.newStorePath("graft_layout").toString + "/capped"
    Layout.writePartitioned(
      Tables.documents(spark, sf0001), out,
      partitionCols = Seq.empty, sortCols = Seq("doc_id"),
      maxRecordsPerFile = 10L)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name()).count().agg(max($"count")).head().getLong(0)
    assert(perFile <= 10L)
  }
}
