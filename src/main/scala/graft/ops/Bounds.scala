package graft.ops

import org.apache.spark.sql.SparkSession

/** The one policy behind the engine's scale-adaptive switches: may a frame
  * of `rows` rows of `rowBytes` bytes each live on the driver, or ride a
  * broadcast? Yes iff `rows × rowBytes ≤ spark.sql.autoBroadcastJoinThreshold`;
  * a threshold below 0 means never, as it does for Spark's own size-based
  * broadcasts. A broadcast join already collects its build side to the
  * driver, so this is the driver exposure Spark itself accepts, and one
  * setting moves the planner's broadcasts and the engine's switches
  * together (`Dedup.connectedComponents`' driver union-find,
  * `Graph.maybeBroadcast`'s node-state hint).
  */
object Bounds {

  /** The most rows of `rowBytes` bytes each that fit the budget; -1 when
    * the threshold is below 0, so no row count fits.
    */
  def maxRows(spark: SparkSession, rowBytes: Long): Long = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) -1L else threshold / rowBytes
  }

  /** `rows × rowBytes ≤ threshold`, without overflowing the product. */
  def fits(spark: SparkSession, rows: Long, rowBytes: Long): Boolean =
    rows <= maxRows(spark, rowBytes)
}
