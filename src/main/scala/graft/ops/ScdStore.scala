package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental Type-2 dimension maintenance — the streaming/CDC twin of
  * [[Scd.type2]], one of the four stores behind [[Manifest]]'s commit
  * step (with the index segments, IVF-PQ codes and cluster labels):
  * change-event batches arrive forever and the versioned dimension must
  * absorb them without re-versioning the whole history.
  *
  * Store layout under `path`, all governed by one manifest:
  *   - `dim-g<n>`  base generation: (key, version, attr, valid_from,
  *     valid_to, tb) for every key — tb is the tie-break of the row that
  *     opened the version, kept so later batches re-sort exactly.
  *   - `dim-b<id>` per-batch delta: the re-versioned rows of the keys the
  *     batch TOUCHED; in the folded view a delta REPLACES its keys' rows
  *     (key-level LSM, compacted into a new base every `maxDeltas`
  *     batches inside the same commit).
  *   - `kw-g<n>` / `kw-b<id>` per-key high-water marks (key, hw_t,
  *     hw_tb): the max (time, tieBreak) SEEN for the key — including
  *     non-change rows, which open no version but still order later
  *     arrivals (a row landing between a dropped duplicate and its
  *     predecessor would otherwise silently rewrite closed history).
  *   - `quar-b<id>` quarantined rows: arrivals at or below the key's
  *     high water. SCD2 ingest is in-order PER KEY by contract (the
  *     watermark discipline every streaming source here provides);
  *     violations are preserved for audit, never silently dropped, and
  *     never mutate committed intervals — the standard late-arriving-
  *     dimension policy.
  *
  * Equality contract (proved in `ScdStoreSpec`): after any batch
  * sequence, the folded view equals `Scd.type2` over the union of all
  * non-quarantined rows. The argument: per key, every accepted row sorts
  * strictly after every previously seen row (high-water invariant), so
  * type2(stored change points ∪ new rows) = type2(full feed) — interior
  * non-change rows can never become change points once a later row
  * exists, and the first new row compares against the last change
  * point's attr, which IS the key's last seen attr.
  *
  * Work per batch scales with the batch and its keys' CHANGE COUNTS,
  * never the fact volume: affected keys semi-join the dimension (change-
  * feed-sized, the small table of the warehouse by construction), the
  * re-version runs over (stored change points of affected keys ∪ batch),
  * and a non-compacting commit writes only affected-key-sized deltas.
  */
object ScdStore {

  private def manifest(path: String) = new File(path, "scd2_manifest")

  /** Fold a key-level LSM family: base generation then deltas in batch
    * order, a later entry replacing its keys' rows. Delta keys are
    * batch-affected-key-sized — broadcast into the anti-join.
    */
  private def foldByKey(spark: SparkSession, path: String,
      entries: Seq[String], basePrefix: String,
      deltaPrefix: String): Option[DataFrame] = {
    val base = entries.filter(_.startsWith(basePrefix))
      .sortBy(_.stripPrefix(basePrefix).toLong).lastOption
    val deltas = entries.filter(_.startsWith(deltaPrefix))
      .sortBy(_.stripPrefix(deltaPrefix).toLong)
    if (base.isEmpty && deltas.isEmpty) None
    else {
      val start = base.map(e => spark.read.parquet(s"$path/$e"))
      val frames = deltas.map(e => spark.read.parquet(s"$path/$e"))
      val init = start.getOrElse(frames.head)
      val rest = if (start.isEmpty) frames.tail else frames
      Some(rest.foldLeft(init) { (acc, d) =>
        acc.join(broadcast(d.select(col("key")).distinct()),
            Seq("key"), "left_anti")
          .unionByName(d)
      })
    }
  }

  /** The live dimension view: (key, version, attr, valid_from, valid_to,
    * tb), or None before the first committed batch.
    */
  def readDim(spark: SparkSession, path: String): Option[DataFrame] =
    Manifest.read(manifest(path)).flatMap(st =>
      foldByKey(spark, path, st.entries, "dim-g", "dim-b"))

  /** TIME TRAVEL: the dimension exactly as it stood after batch
    * `asOfBatch` (the newest committed snapshot at or below it), or
    * None if no such snapshot survives — vacuum trades history for
    * space, the Delta contract. Every manifest commit leaves a
    * snapshot, so un-vacuumed stores travel to ANY past batch,
    * including through compactions.
    */
  def readDimAt(spark: SparkSession, path: String,
      asOfBatch: Long): Option[DataFrame] =
    Manifest.readAt(manifest(path), asOfBatch).flatMap(st =>
      foldByKey(spark, path, st.entries, "dim-g", "dim-b"))

  /** The quarantine audit trail (rows rejected as below their key's high
    * water), or None if no batch ever quarantined anything.
    */
  def readQuarantine(spark: SparkSession, path: String): Option[DataFrame] =
    Manifest.read(manifest(path)).flatMap { st =>
      val dirs = st.entries.filter(_.startsWith("quar-b"))
      if (dirs.isEmpty) None
      else Some(spark.read.parquet(dirs.map(e => s"$path/$e"): _*))
    }

  /** Ingest one change-event batch through the store's commit step
    * ([[Manifest.ingest]]): a replayed batch id is a no-op and an empty
    * batch only advances the watermark. Columns are canonicalized on
    * write, so one store serves any (key, time, tieBreak, attr) source
    * schema.
    */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame,
      key: String, time: String, tieBreak: String, attr: String,
      batchId: Long, maxDeltas: Int = 4): Unit =
    Manifest.ingest(manifest(path), Some(batchId), batch.isEmpty) { entries =>
      // Batch staging, pinned (batch-sized; consumed by the key set, the
      // quarantine split, and the re-version).
      val rows = batch.select(col(key).as("key"), col(time).as("t"),
        col(tieBreak).as("tb"), col(attr).as("attr")).localCheckpoint(false)
      val affKeys = rows.select(col("key")).distinct()

      val curDim = foldByKey(spark, path, entries, "dim-g", "dim-b")
      val curKw = foldByKey(spark, path, entries, "kw-g", "kw-b")
      val storedCp = curDim.map(
        _.join(broadcast(affKeys), Seq("key"), "left_semi"))

      // Quarantine split against the per-key high water.
      val withHw = curKw match {
        case None => rows.withColumn("hw_t", lit(null).cast(rows.schema("t").dataType))
          .withColumn("hw_tb", lit(null).cast(rows.schema("tb").dataType))
        case Some(kw) => rows.join(
          broadcast(kw.join(broadcast(affKeys), Seq("key"), "left_semi")),
          Seq("key"), "left")
      }
      val accepted = withHw.where(col("hw_t").isNull ||
          col("t") > col("hw_t") ||
          (col("t") === col("hw_t") && col("tb") > col("hw_tb")))
        .select(col("key"), col("t"), col("tb"), col("attr"))
        .localCheckpoint(false)
      val quarantined = withHw.where(!(col("hw_t").isNull ||
          col("t") > col("hw_t") ||
          (col("t") === col("hw_t") && col("tb") > col("hw_tb"))))
        .select(col("key"), col("t"), col("tb"), col("attr"))

      // Re-version the affected keys: stored change points re-enter as
      // plain rows (their original time + tie-break), new rows append
      // strictly after them by the high-water invariant.
      val combined = storedCp match {
        case None => accepted
        case Some(cp) => cp.select(col("key"), col("valid_from").as("t"),
            col("tb"), col("attr"))
          .unionByName(accepted)
      }
      val redone = Scd.type2(combined, "key", "t", "tb", "attr",
        keepTieBreak = true)

      // New high water per key with accepted rows (all accepted rows sort
      // above the old mark, so the batch max IS the new mark); keys whose
      // rows all quarantined emit no row and keep their old mark via the
      // fold.
      val newKw = accepted.groupBy(col("key"))
        .agg(max(struct(col("t"), col("tb"))).as("m"))
        .select(col("key"), col("m.t").as("hw_t"), col("m.tb").as("hw_tb"))

      val quarEntry =
        if (quarantined.isEmpty) None
        else {
          val e = s"quar-b$batchId"
          quarantined.write.mode("overwrite").parquet(s"$path/$e")
          Some(e)
        }
      val deltaBatches = entries.count(_.startsWith("dim-b")) + 1
      if (curDim.isEmpty || deltaBatches > maxDeltas) {
        // Compacting commit: fold untouched keys + this batch's re-version
        // into a fresh base generation; delta entries leave the live set.
        val gen = Manifest.nextGeneration(entries, "dim-g")
        val dimAll = curDim match {
          case None => redone
          case Some(dim) => dim.join(broadcast(affKeys), Seq("key"), "left_anti")
            .unionByName(redone)
        }
        val kwAll = curKw match {
          case None => newKw
          case Some(kw) =>
            kw.join(broadcast(newKw.select(col("key"))), Seq("key"), "left_anti")
              .unionByName(newKw)
        }
        dimAll.write.mode("overwrite").parquet(s"$path/dim-g$gen")
        kwAll.write.mode("overwrite").parquet(s"$path/kw-g$gen")
        entries.filterNot(e => e.startsWith("dim-") || e.startsWith("kw-")) ++
          quarEntry :+ s"dim-g$gen" :+ s"kw-g$gen"
      } else {
        redone.write.mode("overwrite").parquet(s"$path/dim-b$batchId")
        newKw.write.mode("overwrite").parquet(s"$path/kw-b$batchId")
        entries ++ quarEntry :+ s"dim-b$batchId" :+ s"kw-b$batchId"
      }
    }

  /** Garbage-collect directories the manifest no longer references
    * (superseded generations and deltas, crash orphans).
    */
  def vacuum(path: String): Unit =
    Manifest.vacuum(manifest(path), new File(path))
}
