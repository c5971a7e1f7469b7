package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.sql.Column

/** Fixture-table loader + shared column helpers.
  *
  * All harness queries read the driver-generated parquet corpus
  * (`/root/testdata/sf*`; see TESTDATA.md). Loading is centralized here so
  * every query benefits from the same conventions: parquet scans (column
  * pruning + predicate pushdown are free), no caching unless a query reuses
  * a frame twice in one plan.
  *
  * Schema memo: a bare `spark.read.parquet` runs a one-task Spark job to
  * infer the file's schema, on every call. `table` infers it once per file
  * and afterwards reads with `spark.read.schema(s).parquet(path)`, which
  * starts no job. The memo is keyed by the qualified path and holds one
  * entry per path, stamped with the file's modification time and length and
  * with the session's parquet-reader settings (every `spark.sql.parquet.*`
  * and `spark.sql.legacy.parquet.*` value, and `spark.sql.caseSensitive`;
  * `events` sets `nanosAsLong`, which changes the inferred `ts` type). Any
  * difference re-infers and replaces the entry. A path that is not a
  * regular file, such as a Spark-written parquet directory, is read with a
  * plain `spark.read.parquet` as before: its schema is the merge over its
  * part files, which one file stamp does not cover.
  */
object Tables {
  private final case class Stamp(modTime: Long, length: Long, readerConf: Map[String, String])
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  private def readerConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val hPath = new Path(path)
    val status =
      try Some(hPath.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(hPath))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = st.getPath.toString
        val stamp = Stamp(st.getModificationTime, st.getLen, readerConf(spark))
        Option(schemas.get(key)) match {
          case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(key, (stamp, df.schema))
            df
        }
    }
  }

  /** `events.ts` is NANOS-precision parquet, which Spark rejects by default
    * ([PARQUET_TYPE_ILLEGAL]). Read it as a long (legacy conf, dynamic) and
    * normalize to a µs TimestampType — matching what DuckDB sees. The
    * ns→µs step uses integer `div` (not `/`): these values are ~1.7e18 and
    * double division would lose low bits, flipping ms-boundary values.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Epoch milliseconds of a timestamp column, robust to the parquet column
    * being read as TIMESTAMP or TIMESTAMP_NTZ (session TZ is pinned UTC, so
    * the NTZ→LTZ cast is the identity and matches DuckDB's `epoch_ms`).
    */
  def tsMillis(c: Column): Column = unix_millis(c.cast(TimestampType))
}
