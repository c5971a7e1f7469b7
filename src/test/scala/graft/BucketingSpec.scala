package graft

import org.apache.spark.sql.functions._

/** Bucketing: pre-partitioning both sides of a recurring fact-fact join on
  * the join key removes the per-query shuffle entirely — the on-disk
  * layout IS the exchange. This is the 100 TB strategy for the
  * orders⋈lineitem family of joins when they run repeatedly.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed co-located join plans without a shuffle exchange") {
    val li = Tables.lineitem(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the shuffle question is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("o_bucketed")

      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must read bucket-aligned inputs: no shuffle before it
      assert(!plan.split("SortMergeJoin")(1).contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle, plan:\n$plan")
      // every lineitem matches its order
      assert(joined.agg(sum($"n")).head().getLong(0) == li.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }
}
