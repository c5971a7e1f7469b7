package graft

/** Catalog-wide partition-count invariance: every driver-contract query
  * must produce IDENTICAL rows when the shuffle partitioning changes —
  * the property that makes results reproducible across cluster sizes.
  * Sensitive shapes this hunts: floating-point aggregation order (sums
  * reduced in partition order), rank ties broken by physical row order,
  * limits/top-k without a total order, collect_list without a sort.
  *
  * The same gate covers the bound flip of every scale-adaptive switch:
  * they all read `spark.sql.autoBroadcastJoinThreshold` (`ops/Bounds`), so
  * at -1 every connected-components call takes the distributed fixpoint,
  * no node state is hinted, and Spark's own size-based broadcasts are off —
  * and the rows must not move.
  *
  * Whole-catalog and executed (not plan-level): three runs collect at
  * sf0.001 — 32 and 5 shuffle partitions, then 32 at threshold -1.
  */
class DeterminismSpec extends SparkSpec {

  test("catalog results are shuffle-partition-count invariant") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    def runAll(parts: String, confs: (String, String)*): Map[String, Seq[String]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try names.map { n =>
        val rows =
          try SparkEntry.queries(n)(spark, sf0001)
            .collect().map(_.toString).sorted.toSeq
          catch { case e: Throwable => Seq(s"ERROR ${e.getClass.getName}") }
        n -> rows
      }.toMap
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
        confs.foreach { case (k, _) => spark.conf.unset(k) }
      }
    }
    def differing(label: String, a: Map[String, Seq[String]],
        b: Map[String, Seq[String]]): Seq[String] = {
      val diff = names.filter(n => a(n) != b(n))
      diff.foreach { n =>
        val firstDiff = a(n).zipAll(b(n), "<missing>", "<missing>")
          .find { case (x, y) => x != y }
        println(s"[determinism $label] $n rows ${a(n).length} vs ${b(n).length}; " +
          s"first diff: ${firstDiff.map { case (x, y) => s"$x  <>  $y" }.getOrElse("")}")
      }
      diff
    }
    val at32 = runAll("32")
    val at5 = runAll("5")
    val noBroadcast = runAll("32", threshold -> "-1")
    val diff = differing("32 vs 5", at32, at5)
    assert(diff.isEmpty,
      s"partition-count-sensitive queries: ${diff.mkString(", ")}")
    val flipped = differing("threshold -1", at32, noBroadcast)
    assert(flipped.isEmpty,
      s"queries that change at autoBroadcastJoinThreshold=-1: ${flipped.mkString(", ")}")
    // most of the catalog is non-empty at sf0.001 (a handful of pair
    // queries legitimately find no matches at the tiny SF), and no
    // query may ERROR under any run
    assert(names.count(n => at32(n).nonEmpty) > names.size * 3 / 4)
    val errored = names.filter(n => at32(n).headOption.exists(_.startsWith("ERROR")))
    assert(errored.isEmpty, s"errored: ${errored.mkString(", ")}")
  }
}
