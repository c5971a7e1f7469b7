package graft

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.ext.{Dedup, Retrieval, Similarity}
import graft.ops.{Manifest, ScdStore}

/** The one commit protocol of the manifest stores (`ops/Manifest.ingest`)
  * as one table of cases run over all four: BM25 index segments, IVF-PQ
  * code deltas, near-dup cluster labels and the SCD2 dimension. Each
  * case is the replay contract of a foreachBatch sink seen from one
  * crash or retry window: a batch that runs again leaves the store as if
  * it had run once.
  */
class ManifestProtocolSpec extends SparkSpec {
  import spark.implicits._

  /** One manifest store as the protocol cases see it. `batch(i)` is a
    * non-empty batch of rows no other `i` carries, each row one served
    * row once committed; `settle` runs the store's compaction where it
    * is not part of the commit itself; `compacted` recognizes the live
    * set after it.
    */
  private case class Store(name: String, manifest: String => File,
      dataDir: String => File, fresh: String => Unit,
      ingest: (String, Long, DataFrame) => Unit, batch: Long => DataFrame,
      empty: () => DataFrame, settle: String => Unit,
      compacted: Seq[String] => Boolean, served: String => Long,
      vacuum: String => Unit)

  private def docs(i: Long): DataFrame =
    Seq((10 * i + 1, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"),
      (10 * i + 2, s"one$i two$i three$i four$i five$i six$i seven$i"))
      .toDF("doc_id", "text")
  private def noDocs(): DataFrame = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val half = emb.count() / 2
  // contiguous split: the base build holds ids 0..15 (the dense seeds)
  private lazy val restRows = emb.where($"vec_id" >= half)
    .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
  private def vectors(i: Long): DataFrame =
    restRows.slice(20 * i.toInt, 20 * i.toInt + 20).toSeq.toDF("vec_id", "embedding")

  private def buildIndex(path: String): Unit =
    Similarity.writeIvfPqIndex(emb.where($"vec_id" < half), "vec_id", "embedding",
      numCells = 16, m = 8, k = 16, dims = 64, path = path)

  private val scd = Store("SCD2 dimension",
    p => new File(p, "scd2_manifest"), p => new File(p), _ => (),
    (p, id, b) => ScdStore.ingestBatch(spark, p, b, "k", "t", "tb", "a", id, maxDeltas = 1),
    i => Seq((s"k$i", 10 * i, i, "x"), (s"j$i", 10 * i, i, "y")).toDF("k", "t", "tb", "a"),
    () => spark.emptyDataset[(String, Long, Long, String)].toDF("k", "t", "tb", "a"),
    _ => (), _.contains("dim-g1"),
    p => ScdStore.readDim(spark, p).fold(0L)(_.count()), ScdStore.vacuum)

  private val clusters = Store("cluster labels",
    p => new File(p, "clusters.manifest"), p => new File(p), _ => (),
    (p, id, b) => Dedup.ingestClusterBatch(spark, p, b, "doc_id", "text", id, maxDeltas = 1),
    docs, () => noDocs(), _ => (), _.contains("labels-g1"),
    p => Dedup.readClusterLabels(spark, p).fold(0L)(_.count()), Dedup.vacuumClusterStore)

  private val segments = Store("index segments",
    p => new File(p, "segments.manifest"), p => new File(p, "segments"), _ => (),
    (p, id, b) => Retrieval.ingestBatch(b, id, p, maxSegments = 2),
    docs, () => noDocs(), _ => (), _ == Seq("c000000002"),
    p => Retrieval.frozenStats(spark, p, Seq("alpha0"))._2, Retrieval.vacuumSegments)

  private val codes = Store("IVF-PQ codes",
    p => new File(p, "codes.manifest"), p => new File(p, "codes"), buildIndex,
    (p, id, b) => Similarity.ingestBatch(b, id, p),
    vectors, () => spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding"),
    p => Similarity.refreshHotCells(emb, p, Seq(0L)), _ == Seq("refresh1"),
    p => Similarity.readCodes(spark, p).count(), Similarity.vacuumCodes)

  private val stores = Seq(scd, clusters, segments, codes)

  private def newStore(st: Store): String = {
    val p = TempStores.newStorePath("manifest_protocol").toString + "/store"
    st.fresh(p)
    p
  }
  private def state(st: Store, p: String): Manifest.State =
    Manifest.read(st.manifest(p)).get
  private def dirs(st: Store, p: String): Set[String] =
    Option(st.dataDir(p).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).toSet

  for (st <- stores) {
    val name = st.name
    test(s"(a) a batch id replayed after compaction changes nothing: $name") {
      val p = newStore(st)
      (0L to 2L).foreach(i => st.ingest(p, i, st.batch(i)))
      st.settle(p)
      assert(st.compacted(state(st, p).entries), s"not compacted: ${state(st, p)}")
      val before = (state(st, p), dirs(st, p), st.served(p))
      st.ingest(p, 1L, st.batch(5L)) // batch 1 again, carrying other rows
      assert((state(st, p), dirs(st, p), st.served(p)) == before)
    }

    test(s"(b) an empty batch advances the watermark and adds no data directory: $name") {
      val p = newStore(st)
      st.ingest(p, 0L, st.batch(0L))
      val (entries0, dirs0, served0) = (state(st, p).entries, dirs(st, p), st.served(p))
      st.ingest(p, 1L, st.empty())
      assert(state(st, p) == Manifest.State(entries0, Some(1L)))
      assert(dirs(st, p) == dirs0)
      // the empty batch was committed: its id replayed is a no-op too
      st.ingest(p, 1L, st.batch(1L))
      assert(st.served(p) == served0)
    }

    test(s"(c) an uncommitted data directory is never served nor adopted: $name") {
      val p = newStore(st)
      st.ingest(p, 0L, st.batch(0L))
      val served0 = st.served(p)
      // a crash after a complete data write, before its commit: another
      // store's fully written directories appear under names no commit
      // of this store writes
      val other = newStore(st)
      st.ingest(other, 0L, st.batch(3L))
      val orphans = state(st, other).entries.map { e =>
        val o = e + "9"
        assert(new File(st.dataDir(other), e).renameTo(new File(st.dataDir(p), o)))
        o
      }
      assert(st.served(p) == served0, "orphan directory served")
      st.ingest(p, 1L, st.batch(1L))
      assert(orphans.forall(o => !state(st, p).entries.contains(o)), "orphan adopted")
      assert(st.served(p) == served0 + st.batch(1L).count())
      st.vacuum(p)
      assert(orphans.forall(o => !dirs(st, p).contains(o)), "orphan not vacuumed")
    }
  }

  test("(d) a full-rung refresh commits a new codes generation and keeps the watermark") {
    val p = newStore(codes)
    codes.ingest(p, 0L, vectors(0L))
    val report = Similarity.appendIvfPqIndex(vectors(1L), p, "a1", watermark = Some(4L))
    val before = state(codes, p)
    // every appended cell counts as hot and the partial rung is off
    val out = Similarity.refreshIfStale(emb, p, report, hotErrRatio = 0.0,
      meanErrRatio = 0.0, partialMaxCellShare = 0.0)
    assert(out.retrained && out.mode == "full")
    val after = state(codes, p)
    assert(after.entries.size == 1, s"live codes: ${after.entries}")
    val gen = after.entries.head
    assert(!before.entries.contains(gen), s"rebuilt in place: $gen of ${before.entries}")
    assert(after.maxBatch == before.maxBatch && after.maxBatch == Some(4L))
    // the superseded deltas are vacuumed; the new generation serves all
    assert(dirs(codes, p) == Set(gen))
    assert(Similarity.readCodes(spark, p).count() == emb.count())
  }
}
