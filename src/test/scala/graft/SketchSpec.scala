package graft

import org.apache.spark.sql.functions._

/** Sketch coverage beyond the GK quantile sketch: HyperLogLog distinct
  * counting — at 100 TB, exact `count(DISTINCT)` is a full shuffle of all
  * distinct values, while an HLL sketch is O(KB) per partition and
  * MERGEABLE, so per-partition/per-day sketches roll up without touching
  * rows again (the property these tests pin down).
  */
class SketchSpec extends SparkSpec {

  private lazy val ev = Tables.events(spark, sf0001)

  test("approx_count_distinct lands within 5% of exact") {
    val exact = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    val approx = ev.select(approx_count_distinct(col("user_id"), 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("approx_top_k heavy hitters match exact top-k on a skewed column") {
    // 5 distinct event types << maxItemsTracked, so the sketch is exact —
    // the property that makes approx_top_k a drop-in for "top pages /
    // top errors" dashboards at 100 TB (O(k) mergeable state vs a full
    // value shuffle for the exact grouped count).
    val approx = ev.select(expr("approx_top_k(event_type, 3, 100)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").cast("string"), col("e.count").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = ev.groupBy(col("event_type")).count()
      .orderBy(col("count").desc, col("event_type"))
      .limit(3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(approx.sortBy(-_._2).map(_._2) == exact.map(_._2),
      s"approx=$approx exact=$exact")
    assert(approx.map(_._1).toSet == exact.map(_._1).toSet)
  }

  test("Sketches.groupSketches+rollup pins to the exact distinct_users_daily twin") {
    // The catalog's oracle-checked exact twin vs the sketch path at the
    // same grouping, and the merged global rollup vs global exact — both
    // within HLL rel-error (3 sigma at lgK=12 ≈ 5%).
    val exact = SparkEntry.queries("distinct_users_daily")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sketches = graft.ext.Sketches.groupSketches(
      ev.withColumn("day", (Tables.tsMillis(col("ts")) / 86400000L).cast("long")),
      Seq(col("day")), col("user_id"))
    val est = graft.ext.Sketches.rollup(sketches, Seq(col("day")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(est.keySet == exact.keySet)
    for ((day, n) <- exact)
      assert(math.abs(est(day) - n) <= math.max(3, 0.05 * n),
        s"day=$day est=${est(day)} exact=$n")
    val globalExact = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    val globalEst = graft.ext.Sketches.rollup(sketches, Nil).head().getLong(0)
    assert(math.abs(globalEst - globalExact) <= math.max(3, 0.05 * globalExact),
      s"global est=$globalEst exact=$globalExact")
  }

  test("theta set algebra pins to the exact user_type_overlap twin") {
    // Two presummarized theta sketches (clickers, viewers) answer
    // union/intersection/difference vs the oracle-checked exact twin —
    // the question HLL cannot answer (it only unions). Rel-error bound:
    // theta at lgNomEntries=12 keeps ~4k retained hashes; at fixture
    // cardinalities (< 4k distinct users) the sketches are in EXACT mode.
    val exact = SparkEntry.queries("user_type_overlap")(spark, sf0001).head()
    val sk = graft.ext.Sketches.thetaSketches(
      ev.where(col("event_type").isin("click", "view")),
      Seq(col("event_type")), col("user_id"))
    val est = sk.groupBy().pivot("event_type", Seq("click", "view"))
      .agg(first(col("sketch")))
      .select(graft.ext.Sketches.thetaSetOps(col("click"), col("view")): _*)
      .head()
    assert(est.getLong(0) == exact.getLong(0),
      s"union est=${est.getLong(0)} exact=${exact.getLong(0)}")
    assert(est.getLong(1) == exact.getLong(1),
      s"intersect est=${est.getLong(1)} exact=${exact.getLong(1)}")
    assert(est.getLong(2) == exact.getLong(2),
      s"diff est=${est.getLong(2)} exact=${exact.getLong(2)}")
  }

  test("KLL mergeable quantiles: per-type rollup pins to exact global percentiles") {
    // Per-type KLL sketches merged to a GLOBAL quantile read vs the exact
    // percentile over all values — the mergeability that per-day quantile
    // state needs to answer any date range. KLL k=200 normalized rank
    // error ≈ 1.7%; assert the estimate's rank is within 3% of target.
    val values = ev.select(col("value")).na.drop()
      .collect().map(_.getDouble(0)).sorted
    val sk = graft.ext.Sketches.kllSketches(
      ev, Seq(col("event_type")), col("value"))
    val merged = graft.ext.Sketches.kllRollup(sk, Nil, Seq(0.5, 0.95)).head()
    for ((q, got) <- Seq(0.5 -> merged.getDouble(0), 0.95 -> merged.getDouble(1))) {
      val rank = values.count(_ <= got).toDouble / values.length
      assert(math.abs(rank - q) <= 0.03, s"q=$q est=$got rank=$rank")
    }
  }

  test("frequent-items accumulate+combine pins to the exact frequent_users_topk twin") {
    // Per-type mergeable states combined to a global top-10 vs the
    // oracle-checked exact twin: below maxItemsTracked distinct users the
    // sketch counts are exact, so item->count maps must agree (ordering
    // among equal counts is the sketch's own, so compare as a map and
    // pin the count multiset).
    val exact = SparkEntry.queries("frequent_users_topk")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val states = graft.ext.Sketches.topkAccumulate(
      ev, Seq(col("event_type")), col("user_id"))
    val got = graft.ext.Sketches.topkCombine(states, Nil, k = 10)
      .select(explode(col("topk")).as("e"))
      .select(col("e.item").cast("long"), col("e.count").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).sorted.toSeq == exact.map(_._2).sorted.toSeq,
      s"counts got=${got.toSeq} exact=${exact.toSeq}")
    val exactMap = ev.groupBy(col("user_id")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for ((u, n) <- got) assert(exactMap(u) == n, s"user=$u sketch=$n exact=${exactMap(u)}")
  }

  test("HLL sketches merge: per-type sketch union == global estimate") {
    // Build one sketch per event_type, union them, compare to the global
    // sketch — bit-identical estimates because union of partials IS the
    // global sketch (the mergeability that makes sketches scale).
    val global = ev.select(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n")).head().getLong(0)
    val merged = ev.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .select(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n"))
      .head().getLong(0)
    assert(merged == global, s"merged=$merged global=$global")
  }

  test("count-min: merged per-day sketches give exact counts at tiny cardinality") {
    // 5 distinct event types against a 2000-counter width and a FIXED
    // seed: the collision structure is deterministic and empty, so the
    // merged estimate equals the exact grouped count — the
    // exact-below-capacity property the cms_type_counts oracle pins.
    import graft.ext.Sketches
    val daily = Sketches.cmsSketches(ev,
      Seq(to_date(col("ts")).as("day")), col("event_type"))
    val probes = ev.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).toSeq
    val est = Sketches.cmsMergeEstimate(spark, daily, probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == exact, s"est=$est exact=$exact")
  }

  test("count-min: merging daily partials == one global sketch (mergeability)") {
    import graft.ext.Sketches
    val daily = Sketches.cmsSketches(ev,
      Seq(to_date(col("ts")).as("day")), col("event_type"))
    val whole = Sketches.cmsSketches(ev, Seq(lit(1).as("g")), col("event_type"))
    val probes = ev.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).toSeq
    val mergedDaily = Sketches.cmsMergeEstimate(spark, daily, probes).collect().toSeq
    val single = Sketches.cmsMergeEstimate(spark, whole, probes).collect().toSeq
    assert(mergedDaily == single)
  }
}
