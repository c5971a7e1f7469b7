package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity}
import graft.ext.TextOps.hashAll
import graft.ops.Metrics

/** Declarative spellings of operators the engine runs as native codegen
  * kernels or in a cheaper physical shape: the executable specs the
  * engine's spellings are proved equal against (VectorExpressionsSpec,
  * SuffixOpsSpec, TriggerPathSpec), and the shapes the DuckDB oracles
  * mirror. Nothing in the engine calls them.
  */
object DeclarativeTwins {

  /** Declarative reference form of `Dedup.shingleHashes`: a per-position
    * transform over an index sequence, folding n token hashes with powers
    * of `ShingleA` mod p; documents shorter than n words keep their token
    * hashes.
    */
  def shingleHashesReference(tokHashes: Column, n: Int = Dedup.ShingleN): Column = {
    val combined = transform(sequence(lit(1), size(tokHashes) - (n - 1)),
      i => (1 until n).foldLeft(element_at(tokHashes, i): Column)((acc, o) =>
        pmod(acc * Dedup.ShingleA + element_at(tokHashes, i + o), lit(Dedup.MinhashP))))
    when(size(tokHashes) < n, tokHashes).otherwise(combined)
  }

  /** Declarative reference form of `Dedup.signaturesFromHashes`: 2k
    * interpreted HOF passes per document (one transform + array_min per
    * signature component).
    */
  def signaturesFromHashesReference(hashes: Column, k: Int = Dedup.MinhashK): Seq[Column] =
    (0 until k).map { i =>
      array_min(transform(hashes,
        h => pmod(lit(Dedup.minhashA(i)) * h + lit(Dedup.minhashB(i)),
          lit(Dedup.MinhashP)))).as(s"sig_$i")
    }

  /** Declarative reference form of `Dedup.simhash32FromHashes` — 32
    * `aggregate` HOFs, one per bit, each a full interpreted pass over the
    * hash array. Pass an attribute, not an inline expression: the hash
    * array is referenced once per bit (32x).
    */
  def simhash32Reference(hashes: Column): Column =
    (0 until 32).map { j =>
      val bitSum = aggregate(hashes, lit(0L),
        (a, h) => a + shiftright(h, j).bitwiseAND(lit(1L)) * 2L - 1L)
      when(bitSum >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Declarative reference form of `TextOps.fingerprint`. */
  def fingerprintReference(toks: Column): Column =
    aggregate(hashAll(toks), lit(0L),
      (acc, h) => pmod(acc * 31 + h, lit(2147483647L)))

  /** The r12 declarative spelling of `SuffixOps.lcp`: an interpreted
    * aggregate over O(W²) prefix slices per pair.
    */
  def lcpDeclarative(a: Column, b: Column): Column =
    aggregate(sequence(lit(1), least(size(a), size(b))), lit(0),
      (acc, j) => acc +
        when(slice(a, lit(1), j) === slice(b, lit(1), j), lit(1))
          .otherwise(lit(0)))

  /** Declarative reference form of `Similarity.pqEncode` (same staging as
    * the DuckDB oracle): nested transform/array_min over slices, argmin of
    * round(a·a − 2·a·b + b·b, 6) with ties to the lowest code id.
    */
  def pqEncodeReference(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sub = dims / m
    val staged = embeddings.select(col(idCol), Similarity.asDouble(col(vecCol)).as("vecd"))
    val codebook = broadcast(staged.where(col(idCol) < k)
      .agg(array_sort(collect_list(struct(col(idCol).as("code"),
        col("vecd").as("cvec")))).as("_book")))
    val codes = transform(sequence(lit(0), lit(m - 1)), j => {
      // slice is 1-based; subvector of subspace j = dims [j*sub, j*sub+sub)
      val sa = slice(col("vecd"), j * lit(sub) + 1, lit(sub))
      array_min(transform(col("_book"), c => {
        val sb = slice(c("cvec"), j * lit(sub) + 1, lit(sub))
        val d = Similarity.dot(sa, sa) - lit(2.0) * Similarity.dot(sa, sb) +
          Similarity.dot(sb, sb)
        struct(round(d, 6).as("d"), c("code").as("code"))
      })).getField("code")
    })
    staged.crossJoin(codebook)
      .select(col(idCol), codes.as("codes"))
  }

  /** The r12 declarative spelling of `Multimodal.stubAHash` (and the
    * documented distributed form: at ANY media size the kernel's per-row
    * state is 2×64 longs, but a raster wider than one row's memory would
    * shard back to exactly this keyed-aggregate shape). Positions 0..n-1
    * bucket into 64 equal-width cells (`b = i*64 div n`); a cell's bit
    * sets iff its byte sum beats the global mean, compared
    * cross-multiplied in exact integer arithmetic.
    */
  def stubAHashDeclarative(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    docs
      .where(length(col(textCol)) > 0)
      // posexplode(split(text, "")) walks the string ONCE; the previous
      // ascii(substring(_t, i+1, 1)) spelling re-scanned the string from
      // the start per exploded row — O(L²) per doc at char granularity,
      // measured as the dominant cost of the *_ahash family
      .select(col(idCol).cast("long").as("doc_id"),
        length(col(textCol)).cast("long").as("n"),
        posexplode(split(col(textCol), "")).as(Seq("i", "ch")))
      .groupBy(col("doc_id"), expr("i * 64 div n").as("b"))
      .agg(sum(ascii(col("ch")).cast("long")).as("s"),
        count(lit(1)).as("c"))
      .withColumn("ts", sum(col("s")).over(byDoc))
      .withColumn("tc", sum(col("c")).over(byDoc))
      .withColumn("bit", col("s") * col("tc") > col("ts") * col("c"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("bit") && col("b") < 32,
          expr("shiftleft(1L, cast(b as int))")).otherwise(lit(0L)))
          .as("ahash_lo"),
        sum(when(col("bit") && col("b") >= 32,
          expr("shiftleft(1L, cast(b - 32 as int))")).otherwise(lit(0L)))
          .as("ahash_hi"))
  }

  /** The r12 declarative spelling of `Multimodal.stubDHash`: adjacent-cell
    * pairing as a doc-keyed equi self-join on the shifted cell index.
    */
  def stubDHashDeclarative(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cells = docs
      .where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        length(col(textCol)).cast("long").as("n"),
        posexplode(split(col(textCol), "")).as(Seq("i", "ch")))
      .groupBy(col("doc_id"), expr("i * 72 div n").as("b"))
      .agg(sum(ascii(col("ch")).cast("long")).as("s"),
        count(lit(1)).as("c"))
    val right = cells.select(col("doc_id"), (col("b") - 1).as("b"),
      col("s").as("s2"), col("c").as("c2"))
    cells.join(right, Seq("doc_id", "b"))
      .where(expr("b % 9") < 8)
      .select(col("doc_id"),
        expr("(b div 9) * 8 + b % 9").as("bx"),
        (col("s") * col("c2") > col("s2") * col("c")).as("bit"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("bit") && col("bx") < 32,
          expr("shiftleft(1L, cast(bx as int))")).otherwise(lit(0L)))
          .as("dhash_lo"),
        sum(when(col("bit") && col("bx") >= 32,
          expr("shiftleft(1L, cast(bx - 32 as int))")).otherwise(lit(0L)))
          .as("dhash_hi"))
  }

  /** The r12 declarative spelling of `Multimodal.stubFrameAHash`: the
    * stubAHash twin keyed by (doc, frame_ix).
    */
  def stubFrameAHashDeclarative(frames: DataFrame): DataFrame = {
    val byFrame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("frame_ix"))
    frames
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("frame_ix"),
        length(col("text")).cast("long").as("n"),
        posexplode(split(col("text"), "")).as(Seq("i", "ch")))
      .groupBy(col("doc_id"), col("frame_ix"), expr("i * 64 div n").as("b"))
      .agg(sum(ascii(col("ch")).cast("long")).as("s"),
        count(lit(1)).as("c"))
      .withColumn("ts", sum(col("s")).over(byFrame))
      .withColumn("tc", sum(col("c")).over(byFrame))
      .withColumn("bit", col("s") * col("tc") > col("ts") * col("c"))
      .groupBy("doc_id", "frame_ix")
      .agg(
        sum(when(col("bit") && col("b") < 32,
          expr("shiftleft(1L, cast(b as int))")).otherwise(lit(0L)))
          .as("ahash_lo"),
        sum(when(col("bit") && col("b") >= 32,
          expr("shiftleft(1L, cast(b - 32 as int))")).otherwise(lit(0L)))
          .as("ahash_hi"))
  }

  /** The `agg` spelling of `MetricsJob.batchMetricsRow`: the same metric
    * columns as one aggregation, collected with `head()`. Under AQE it runs
    * 2 Spark jobs (the partial-aggregate map stage, then the result stage).
    */
  def batchMetricsRowAgg(batchDf: DataFrame): Option[Row] = {
    val aggs = Metrics.metricAggsApprox(col("latency_ms"))
    val row = batchDf.agg(aggs.head, aggs.tail: _*).head()
    if (row.getLong(0) == 0L) None else Some(row)
  }
}
