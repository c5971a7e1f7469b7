package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join — an operator Spark SQL lacks natively. For every
  * left row, attach the payload of the latest right row whose time is <=
  * the left row's time, per key.
  *
  * Implementation is the declarative union-and-fill plan, not a custom
  * physical operator: tag both sides, union, and `last(payload,
  * ignoreNulls) OVER (PARTITION BY key ORDER BY time, side ROWS UNBOUNDED
  * PRECEDING)`. That is one shuffle on the key (both inputs co-partitioned
  * by definition of the window) and one in-partition sort — exactly the
  * shape a hand-written merge-asof SparkPlan would produce, but it
  * composes with Catalyst (pushdown through the union, AQE on the
  * shuffle) for free. Right rows sort before left rows at equal
  * timestamps, giving inclusive (<=) match semantics — the same contract
  * as DuckDB's `ASOF JOIN ... ON l.k = r.k AND l.t >= r.t`.
  */
object AsOfJoin {

  /** @param left       left frame
    * @param right      right frame; must share `key` columns with left and
    *                   have no other column names in common
    * @param key        equi-join key columns
    * @param leftTime   left ordering column name
    * @param rightTime  right ordering column name (consumed; re-exposed in
    *                   the payload)
    * @return left rows + right payload columns (null where no right row
    *         precedes the left row)
    */
  def backward(left: DataFrame, right: DataFrame, key: Seq[String],
      leftTime: String, rightTime: String): DataFrame = {
    val rightPayloadCols = right.columns.filterNot(key.contains).toSeq
    val keyCols = key.map(col)

    val taggedRight = right.select(
      keyCols :+ col(rightTime).as("_asof_t") :+ lit(0).as("_asof_side") :+
        struct(rightPayloadCols.map(col): _*).as("_asof_payload"): _*)
    val taggedLeft = left
      .withColumn("_asof_t", col(leftTime))
      .withColumn("_asof_side", lit(1))
      .withColumn("_asof_payload",
        lit(null).cast(taggedRight.schema("_asof_payload").dataType))

    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("_asof_t"), col("_asof_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    taggedLeft.unionByName(taggedRight, allowMissingColumns = true)
      .withColumn("_asof_match", last(col("_asof_payload"), ignoreNulls = true).over(w))
      .where(col("_asof_side") === 1)
      .drop("_asof_t", "_asof_side", "_asof_payload")
      .withColumn("_m", col("_asof_match")).drop("_asof_match")
      .select(col("*"), col("_m.*")).drop("_m")
  }
}
