package graft

import graft.ops.{AsOfJoin, Scd}

class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def dim = Scd.type2(
    Seq(
      (1L, 100L, 10L, "a"), // v1
      (1L, 200L, 11L, "a"), // no change — folded into v1
      (1L, 300L, 12L, "b"), // v2
      (1L, 300L, 13L, "b"), // same ts, tie-broken after 12, no change
      (1L, 400L, 14L, "a"), // v3 (re-change back to a is a NEW version)
      (2L, 150L, 20L, "x")) // other key: v1
      .toDF("k", "t", "id", "attr"),
    "k", "t", "id", "attr")

  test("type2 keeps change points only, versions them, and tiles intervals") {
    val got = dim.orderBy("k", "version")
      .as[(Long, Int, String, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 1, "a", 100L, Some(300L)),
      (1L, 2, "b", 300L, Some(400L)),
      (1L, 3, "a", 400L, None),
      (2L, 1, "x", 150L, None)))
  }

  test("leading null-attr run collapses to one version (struct-lag guard)") {
    val d = Scd.type2(
      Seq((1L, 100L, 1L, null), (1L, 200L, 2L, null), (1L, 300L, 3L, "a"))
        .toDF("k", "t", "id", "attr").withColumn("attr", $"attr".cast("string")),
      "k", "t", "id", "attr")
    val got = d.orderBy("version")
      .as[(Long, Int, Option[String], Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 1, None, 100L, Some(300L)),
      (1L, 2, Some("a"), 300L, None)))
  }

  test("point-in-time lookup via AsOfJoin returns the active version") {
    val probes = Seq(
      (1L, 50L),  // before first version -> null
      (1L, 100L), // inclusive boundary -> v1
      (1L, 299L), // just before the change -> v1
      (1L, 300L), // change instant -> v2
      (1L, 999L), // open current version -> v3
      (2L, 151L)) // other key -> its v1
      .toDF("k", "pt")
    val got = AsOfJoin.backward(probes, dim, Seq("k"), "pt", "valid_from")
      .select($"k", $"pt", $"version", $"attr")
      .orderBy("k", "pt")
      .as[(Long, Long, Option[Int], Option[String])].collect().toSeq
    assert(got == Seq(
      (1L, 50L, None, None),
      (1L, 100L, Some(1), Some("a")),
      (1L, 299L, Some(1), Some("a")),
      (1L, 300L, Some(2), Some("b")),
      (1L, 999L, Some(3), Some("a")),
      (2L, 151L, Some(1), Some("x"))))
  }

  test("build is one shuffle: all window passes share the key exchange") {
    val plan = dim.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected a single keyed exchange, got:\n$plan")
  }

  test("z-order layout bounds BOTH key spans per file; linear leaves time at full range") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.WarehouseQueries
      .queries("zorder_file_spans")(spark, sf0001)
      .as[(String, Long, Long, Long, Long)].collect()
    val (lin, zo) = rows.partition(_._1 == "linear")
    assert(lin.nonEmpty && zo.nonEmpty)
    val fullT = Tables.events(spark, sf0001)
      .select(Tables.tsMillis(col("ts")).as("t"))
      .agg(max(col("t")) - min(col("t"))).as[Long].collect().head
    // linear layout: at least one file's time span is ~the full range
    assert(lin.map(_._5).max > fullT * 9 / 10)
    // z-order: EVERY file's time span is a bounded fraction of the range
    // (16 files interleave to a 4x4 grid: expect ~range/4 per file)
    assert(zo.map(_._5).max < fullT / 2,
      s"zorder max t_span ${zo.map(_._5).max} vs full $fullT")
  }
}
