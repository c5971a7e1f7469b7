package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.table`'s schema memo: the same schema as a bare
  * `spark.read.parquet`, no inference job on a repeated read, and a fresh
  * inference whenever the file or the parquet-reader settings change.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val fixtureTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    CoreBridge.waitListeners(sc)
    sc.addSparkListener(l)
    try { body; CoreBridge.waitListeners(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private def withConf(key: String, value: Option[String])(body: => Unit): Unit = {
    val old = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Copies a single parquet file (the one part file Spark writes for
    * `df`) to `dest`, replacing what is there. */
  private def writeParquetFile(df: org.apache.spark.sql.DataFrame, dest: java.nio.file.Path): Unit = {
    val tmp = TempStores.newStorePath("tables_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  test("memoized schema equals spark.read.parquet's for every fixture table") {
    fixtureTables.foreach { t =>
      val direct = spark.read.parquet(s"$sf0001/$t.parquet").schema
      // The first call may infer or hit the memo; the second always hits it.
      assert(Tables.table(spark, sf0001, t).schema == direct, t)
      assert(Tables.table(spark, sf0001, t).schema == direct, t)
    }
  }

  test("a repeated read of an unchanged file starts no Spark job") {
    val dir = TempStores.newStorePath("tables_jobs")
    Files.copy(Paths.get(s"$sf0001/orders.parquet"), dir.resolve("orders.parquet"))
    val first = jobsDuring(Tables.table(spark, dir.toString, "orders").schema)
    assert(first >= 1, "schema inference should run a job (listener check)")
    val again = jobsDuring(Tables.table(spark, dir.toString, "orders").schema)
    assert(again == 0)
    assert(Tables.table(spark, dir.toString, "orders").count() ==
      spark.read.parquet(s"$sf0001/orders.parquet").count())
  }

  test("a file rewritten with a different schema is re-inferred") {
    val dir = TempStores.newStorePath("tables_rewrite")
    val file = dir.resolve("t.parquet")
    writeParquetFile(spark.range(3).toDF("a"), file)
    assert(Tables.table(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("a"))
    writeParquetFile(spark.range(5).selectExpr("cast(id as string) as b", "id * 2 as c"), file)
    val df = Tables.table(spark, dir.toString, "t")
    assert(df.schema == spark.read.parquet(file.toString).schema)
    assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(df.as[(String, Long)].collect().sortBy(_._2).toSeq ==
      (0 until 5).map(i => (i.toString, 2L * i)))
  }

  test("events.ts has the same type with nanosAsLong unset, set, and false") {
    // The spelling before the memo: set the conf, read, normalize a long ts.
    val expected = {
      spark.conf.set(NanosKey, "true")
      spark.read.parquet(s"$sf0001/events.parquet").schema("ts").dataType match {
        case LongType => TimestampType
        case t => t
      }
    }
    Seq(None, Some("true"), Some("false")).foreach { v =>
      withConf(NanosKey, v) {
        assert(Tables.events(spark, sf0001).schema("ts").dataType == expected, v)
      }
    }
  }

  test("a nanos-timestamp file: the memo follows the nanosAsLong setting") {
    val dir = TempStores.newStorePath("tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
      .withType(schema).withConf(new Configuration()).build()
    val g = new SimpleGroupFactory(schema)
    try w.write(g.newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    finally w.close()

    withConf(NanosKey, Some("true")) {
      assert(Tables.table(spark, dir.toString, "events").schema("ts").dataType == LongType)
    }
    // The memo holds the long schema; with the setting off, the read must
    // be inferred again and fail exactly as a bare read does.
    withConf(NanosKey, Some("false")) {
      val bare = intercept[Exception](spark.read.parquet(dir.resolve("events.parquet").toString))
      val memo = intercept[Exception](Tables.table(spark, dir.toString, "events"))
      assert(memo.getClass == bare.getClass)
    }
    withConf(NanosKey, None) {
      val ev = Tables.events(spark, dir.toString)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(Tables.tsMillis($"ts")).as[Long].collect().toSeq == Seq(1700000000123L))
    }
  }

  test("a Spark-written parquet directory is read as before") {
    val dir = TempStores.newStorePath("tables_dir")
    val path = dir.resolve("d.parquet").toString
    spark.range(10).selectExpr("id", "id * 2 as v").repartition(3).write.parquet(path)
    val df = Tables.table(spark, dir.toString, "d")
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.as[(Long, Long)].collect().sortBy(_._1).toSeq == (0L until 10L).map(i => (i, 2 * i)))
    // New part files are seen by the next read.
    spark.range(10, 12).selectExpr("id", "id * 2 as v").write.mode("append").parquet(path)
    assert(Tables.table(spark, dir.toString, "d").count() == 12)
  }
}
