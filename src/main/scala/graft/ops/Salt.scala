package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Skew-mitigation pattern: two-phase salted aggregation. A hot grouping
  * key that would funnel into one reducer is split across `buckets`
  * partial groups (salt = hash of a row-unique column, deterministic),
  * partially aggregated, then combined — the classic manual counterpart to
  * AQE's skew-join splitting, for aggregations. Only mergeable aggregates
  * (sum/count/min/max) compose this way; the result is identical to the
  * direct groupBy.
  */
object Salt {

  /** Skew-mitigation for JOINS: the build side is replicated `buckets`
    * ways (one copy per salt value) and the probe side is salted
    * deterministically, so one hot join key fans out over `buckets`
    * reducers instead of funneling into one. The join result is identical
    * to the unsalted join — the salt column is an equi-join key match by
    * construction. Use when AQE skew splitting can't help (e.g. the skew
    * is in a grouping that follows the join and the join output must stay
    * co-partitioned).
    *
    * Partition scaling (the 16×-probe lesson, now in the API instead of
    * the probe): a fixed shuffle-partition count makes the per-partition
    * hash build grow linearly with the REPLICATED build side until it
    * overwhelms the heap — measured 34 s at 16× with 32 fixed partitions,
    * linear again once partitions scale with data. The join therefore
    * repartitions both sides on (key, _salt) to
    * max(session shuffle partitions, replicatedBytes / partitionBytes)
    * using optimizer size estimates; the explicit repartition satisfies
    * the join's required distribution, so no second exchange is added.
    * `partitionBytes` is Spark's AQE target partition size,
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, divided by 8
    * (8 MB at the 64 MB default): the estimate is parquet FILE size, and
    * snappy+dictionary compression understates the in-memory hash-build
    * footprint ~4-8×, so 8 MB of file bytes ≈ a comfortably-in-memory
    * build per task. PlanAuditSpec "saltedJoin repartition count follows
    * advisoryPartitionSizeInBytes" pins the scaling.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      saltSource: Column, buckets: Int): DataFrame = {
    val conf = probe.sparkSession.sessionState.conf
    val partitionBytes =
      math.max(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) / 8, 1L)
    val sessionParts = conf.numShufflePartitions
    def sizeOf(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Inputs without real statistics (in-memory/local relations, some DSv2
    // sources) report the defaultSizeInBytes sentinel (~Long.MaxValue); a
    // saturated estimate would schedule a pathological 65536-partition
    // shuffle on tiny data. Treat any estimate at or above the sentinel as
    // "unknown" and fall back to the session partition count.
    val sentinel = BigInt(conf.defaultSizeInBytes)
    val sizes = Seq(sizeOf(build), sizeOf(probe))
    val parts =
      if (sizes.exists(_ >= sentinel)) sessionParts
      else {
        val dataBytes = sizes.head * buckets + sizes(1)
        (dataBytes / partitionBytes).max(BigInt(sessionParts))
          .min(BigInt(1 << 16)).toInt
      }
    val salted = probe.withColumn("_salt", pmod(hash(saltSource), lit(buckets)))
      .repartition(parts, col(key), col("_salt"))
    // Spread the build BEFORE replicating: the explode multiplies rows
    // buckets×, so left on the scan's task layout (one task per ~128 MB
    // file split) a single map task would serially generate and
    // shuffle-write the whole replicated side. A cheap pre-explode
    // round-robin shuffle of the un-replicated rows makes the expensive
    // explode→exchange map side `parts`-parallel.
    val replicated = build.repartition(parts)
      .withColumn("_salt", explode(array((0 until buckets).map(lit(_)): _*)))
      .repartition(parts, col(key), col("_salt"))
    // shuffle_hash: a salted join exists to feed downstream aggregation,
    // so the sort-merge sort of both (replicated!) sides is pure waste —
    // hash-build the replicated side per partition instead.
    salted.join(replicated.hint("shuffle_hash"), Seq(key, "_salt")).drop("_salt")
  }

  def saltedAgg(df: DataFrame, keyCols: Seq[String], saltSource: Column,
      buckets: Int, sums: Seq[String] = Nil, counts: Boolean = true,
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil): DataFrame = {
    val salt = pmod(hash(saltSource), lit(buckets)).as("_salt")
    val partialAggs =
      sums.map(c => sum(col(c)).as(s"_sum_$c")) ++
        (if (counts) Seq(count(lit(1)).as("_cnt")) else Nil) ++
        mins.map(c => min(col(c)).as(s"_min_$c")) ++
        maxs.map(c => max(col(c)).as(s"_max_$c"))
    val partial = df
      .groupBy((keyCols.map(col) :+ salt): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs =
      sums.map(c => sum(col(s"_sum_$c")).as(s"sum_$c")) ++
        (if (counts) Seq(sum(col("_cnt")).as("n")) else Nil) ++
        mins.map(c => min(col(s"_min_$c")).as(s"min_$c")) ++
        maxs.map(c => max(col(s"_max_$c")).as(s"max_$c"))
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }
}
