package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** `Sessions.local`'s generated-code cache holds the benchmark catalog's
  * working set: once warm, re-running the same queries in one session
  * compiles (next to) nothing. At Spark's default of 100 entries every
  * round recompiled about 115 of the 128 classes of the first round.
  */
class SessionsSpec extends SparkSpec {

  test("codegen cache: warm rounds of the benchmark catalog compile nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
    val src = scala.io.Source.fromFile("perfbench/catalog.tsv")
    val names = try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")(0)).toList finally src.close()
    assert(names.size == 13)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val perRound = (1 to 4).map { _ =>
      val c0 = compiles
      names.foreach { q =>
        SparkEntry.queries(q)(spark, sf0001).write.format("noop").mode("overwrite").save()
      }
      compiles - c0
    }
    info(s"classes compiled per round: ${perRound.mkString(", ")}")
    // A warm round can still meet a plan variant it has not compiled yet
    // (seen once in the full suite: 84, 0, 6), so the check is that a warm
    // round compiles nothing and none re-misses the working set.
    val warm = perRound.drop(1)
    assert(warm.contains(0L) && warm.max < perRound.head / 4,
      s"classes compiled per round: ${perRound.mkString(", ")}")
  }
}
