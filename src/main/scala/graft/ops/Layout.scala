package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Output-layout control for pipeline sinks — at 100 TB the layout of
  * what you WRITE decides the cost of every later read.
  *
  * The reference's only sinks are one-row CSV appends; an engine feeding
  * training pipelines needs real table layout: partition pruning for
  * selective reads (`partitionBy`), clustering within files for range
  * scans and better compression (`sortWithinPartitions`), and bounded
  * file sizes so a skewed partition can't produce one giant file
  * (`maxRecordsPerFile`).
  */
object Layout {

  /** Write `df` as a partitioned, internally-sorted parquet table.
    *
    *  - `partitionCols` become directory keys: readers filtering on them
    *    scan only matching directories (partition pruning, visible as
    *    `PartitionFilters` in the scan node).
    *  - `sortCols` cluster rows inside each output file: parquet min/max
    *    page stats make range predicates skip pages, and sorted columns
    *    compress better.
    *  - `maxRecordsPerFile` caps file size without a global repartition;
    *    0 = no cap.
    *
    * `repartition(partitionCols)` first, so each task writes at most one
    * file per partition key instead of every task writing a sliver of
    * every key (the small-files explosion).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      sortCols: Seq[String], maxRecordsPerFile: Long = 0L,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val arranged = df
      .repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    val writer = arranged.write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
  }

  /** 2-d Z-order (Morton) value: interleave the low `bits` bits of two
    * non-negative integer columns. Rows close in BOTH dimensions get close
    * z-values, so range-partitioning + sorting by z clusters the data into
    * spatial tiles — parquet file/page min-max stats then prune 2-d box
    * predicates on EITHER dimension, where a lexicographic sort only
    * prunes its leading column. Unrolled literal shifts: pure codegen
    * integer ops, no UDF.
    */
  def zorder2(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { j =>
      shiftright(x, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j)) +
        shiftright(y, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j + 1))
    }.reduce(_ + _)

  /** Write `df` Z-order-clustered on two integer columns: compute the
    * Morton value, range-partition into `numFiles` contiguous z-ranges
    * (= spatial tiles), sort within each, drop the helper column. The
    * LayoutSpec proof: a 2-d box predicate intersects fewer files' min/max
    * envelopes than under a lexicographic layout of the same file count.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_z", zorder2(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
}
