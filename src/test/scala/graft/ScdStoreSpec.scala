package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Scd, ScdStore}

/** Incremental SCD2 maintenance (`ops/ScdStore`): after any batch
  * sequence the folded dimension must equal `Scd.type2` over the union
  * of accepted rows — including cross-batch version continuation,
  * interval re-closing, and duplicate collapse — with late arrivals
  * quarantined instead of rewriting committed history, replay
  * idempotence, and compaction transparency.
  */
class ScdStoreSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (String, Long, Long, String)*): DataFrame =
    rows.toDF("k", "t", "tb", "a")

  /** One-shot reference over the union feed. */
  private def reference(union: DataFrame): Set[(String, Int, String, Long, Option[Long])] =
    Scd.type2(union, "k", "t", "tb", "a")
      .as[(String, Int, String, Long, Option[Long])].collect().toSet

  private def view(path: String): Set[(String, Int, String, Long, Option[Long])] =
    ScdStore.readDim(spark, path).get
      .select(col("key"), col("version"), col("attr"),
        col("valid_from"), col("valid_to"))
      .as[(String, Int, String, Long, Option[Long])].collect().toSet

  private def ingest(path: String, b: DataFrame, id: Long,
      maxDeltas: Int = 4): Unit =
    ScdStore.ingestBatch(spark, path, b, "k", "t", "tb", "a", id, maxDeltas)

  test("folded view equals the one-shot build across batches") {
    val dir = graft.TempStores.newStorePath("scdstore").toFile.getAbsolutePath
    // u1: version continues across batches (x -> y at t=30) and the
    //     open interval at t=20 is RE-CLOSED by batch 1;
    // u2: attr UNCHANGED across the batch boundary — no new version;
    // u3: born in batch 1.
    val b0 = df(("u1", 10L, 1L, "x"), ("u1", 20L, 2L, "x"),
      ("u2", 15L, 3L, "p"))
    val b1 = df(("u1", 30L, 4L, "y"), ("u2", 40L, 5L, "p"),
      ("u3", 35L, 6L, "q"))
    val b2 = df(("u1", 50L, 7L, "x"), ("u3", 60L, 8L, "q"))
    val batches = Seq(b0, b1, b2)
    batches.zipWithIndex.foreach { case (b, i) =>
      ingest(dir, b, i.toLong)
      val union = batches.take(i + 1).reduce(_.unionByName(_))
      assert(view(dir) == reference(union), s"after batch $i")
    }
    // non-vacuous: u1 has 3 versions (x,y,x), u2 exactly 1 (p,p collapse)
    val got = view(dir)
    assert(got.count(_._1 == "u1") == 3)
    assert(got.count(_._1 == "u2") == 1)
    // the batch-0 open interval was re-closed by batch 1's change
    assert(got.contains(("u1", 1, "x", 10L, Some(30L))))
  }

  test("late arrivals quarantine instead of rewriting committed history") {
    val dir = graft.TempStores.newStorePath("scdstore").toFile.getAbsolutePath
    // u1's batch-0 feed ends with a NON-change row at t=20 (dropped as a
    // duplicate, but it advanced the high water): a t=15 arrival in
    // batch 1 would silently rewrite history if only change points were
    // consulted — the store must quarantine it.
    ingest(dir, df(("u1", 10L, 1L, "x"), ("u1", 20L, 2L, "x")), 0L)
    val before = view(dir)
    ingest(dir, df(("u1", 15L, 3L, "y"), ("u1", 30L, 4L, "z")), 1L)
    // t=30 accepted (new version), t=15 quarantined
    assert(view(dir) == reference(
      df(("u1", 10L, 1L, "x"), ("u1", 20L, 2L, "x"), ("u1", 30L, 4L, "z"))))
    assert(view(dir) != before)
    val quar = ScdStore.readQuarantine(spark, dir).get
      .as[(String, Long, Long, String)].collect().toSet
    assert(quar == Set(("u1", 15L, 3L, "y")))
    // an exact duplicate of the high-water row also quarantines
    ingest(dir, df(("u1", 30L, 4L, "z")), 2L)
    assert(ScdStore.readQuarantine(spark, dir).get.count() == 2)
  }

  test("replayed batch ids are no-ops; empty batches advance the watermark") {
    val dir = graft.TempStores.newStorePath("scdstore").toFile.getAbsolutePath
    ingest(dir, df(("u1", 10L, 1L, "x")), 0L)
    val before = view(dir)
    ingest(dir, df(("u1", 99L, 9L, "z")), 0L) // replay with different data
    assert(view(dir) == before)
    ingest(dir, spark.emptyDataset[(String, Long, Long, String)]
      .toDF("k", "t", "tb", "a"), 1L)
    // watermark advanced: batch 1 replayed later is a no-op too
    ingest(dir, df(("u1", 99L, 9L, "z")), 1L)
    assert(view(dir) == before)
  }

  test("compaction folds the delta chain without changing the view") {
    val dir = graft.TempStores.newStorePath("scdstore").toFile.getAbsolutePath
    val batches = (0 until 6).map(i =>
      df(("u1", 10L * (i + 1), i.toLong, s"v$i"),
        (s"w$i", 100L + i, 50L + i, "c")))
    batches.zipWithIndex.foreach { case (b, i) =>
      ingest(dir, b, i.toLong, maxDeltas = 2)
      val union = batches.take(i + 1).reduce(_.unionByName(_))
      assert(view(dir) == reference(union), s"after batch $i")
    }
    ScdStore.vacuum(dir)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val gens = dirs.filter(_.startsWith("dim-g"))
    assert(gens.size == 1 && gens.head != "dim-g0", s"dirs=$dirs")
    // view unchanged by vacuum; u1 carries one version per batch
    assert(view(dir).count(_._1 == "u1") == 6)
  }

  test("time travel: readDimAt replays every committed batch view, incl. through compaction") {
    val dir = graft.TempStores.newStorePath("scdstore").toFile.getAbsolutePath
    val batches = (0 until 5).map(i =>
      df(("u1", 10L * (i + 1), i.toLong, s"v$i"), (s"w$i", 100L + i, 50L + i, "c")))
    // maxDeltas=2 forces a mid-sequence compaction: snapshots must keep
    // resolving across the base rewrite (old deltas stay on disk until
    // vacuum)
    val captured = batches.zipWithIndex.map { case (b, i) =>
      ingest(dir, b, i.toLong, maxDeltas = 2); view(dir)
    }
    for (i <- batches.indices) {
      val got = ScdStore.readDimAt(spark, dir, i.toLong).map(v =>
        v.select(col("key"), col("version"), col("attr"),
          col("valid_from"), col("valid_to"))
          .as[(String, Int, String, Long, Option[Long])].collect().toSet)
      assert(got.contains(captured(i)), s"as-of batch $i")
    }
    // asOf beyond the last batch resolves to the latest; before batch 0
    // resolves to nothing
    assert(ScdStore.readDimAt(spark, dir, 99L).isDefined)
    assert(ScdStore.readDimAt(spark, dir, -1L).isEmpty)
    // vacuum keeps the current view serving and prunes broken history
    ScdStore.vacuum(dir)
    assert(view(dir) == captured.last)
    val prefix = "scd2_manifest.v"
    val survivors = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith(prefix)).map(_.getName)
    // the current snapshot survives; every surviving snapshot still resolves
    assert(survivors.contains(s"$prefix${batches.size - 1}"))
    survivors.foreach { s =>
      val b = s.stripPrefix(prefix).toLong
      assert(ScdStore.readDimAt(spark, dir, b).isDefined, s"broken snapshot $s")
    }
  }

  test("streaming dimIngest equals the one-shot build over the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = graft.TempStores.newStorePath("scdstore").toFile.getAbsolutePath
    val ms = MemoryStream[(String, Long, Long, String)](spark)
    val q = graft.stream.ScdStream
      .dimIngest(ms.toDF().toDF("k", "t", "tb", "a"), dir, "k", "t", "tb", "a")
      .option("checkpointLocation",
        graft.TempStores.newStorePath("scd_ck").toString)
      .start()
    try {
      ms.addData(("u1", 10L, 1L, "x"), ("u2", 15L, 2L, "p"))
      q.processAllAvailable()
      ms.addData(("u1", 30L, 3L, "y"), ("u2", 40L, 4L, "p"))
      q.processAllAvailable()
      val union = df(("u1", 10L, 1L, "x"), ("u2", 15L, 2L, "p"),
        ("u1", 30L, 3L, "y"), ("u2", 40L, 4L, "p"))
      assert(view(dir) == reference(union))
    } finally q.stop()
  }
}
