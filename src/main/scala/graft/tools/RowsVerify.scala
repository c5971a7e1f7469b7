package graft.tools

/** Rows-only verify pass (dev evidence for scale rehearsals above the
  * oracle SFs, where DuckDB can't be run): executes every catalog query
  * once at the given fixture dir and records its row count (or error),
  * writing one JSON line to the given output path. The sf1 rehearsal
  * gate is "every query executes and the queries that return rows at
  * sf0.1 still return rows at sf1" — hash comparison stays the driver's
  * job at the oracle SFs.
  */
object RowsVerify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val spark = graft.Sessions.local(cpus.toInt, "graft-rows-verify")
    spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
    spark.sparkContext.setLogLevel("WARN")
    val results = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val r =
          try Right(fn(spark, sfDir).count())
          catch { case e: Throwable =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }
        println(s"[rows] $name -> ${r.fold("ERR: " + _, _.toString)}")
        (name, r)
    }
    def esc(s: String) = s.replaceAll("[\"\\\\\\p{Cntrl}]", " ")
    val rows = results
      .map { case (n, r) => s"\"$n\":${r.getOrElse(-1L)}" }
      .mkString("{", ",", "}")
    val errors = results
      .collect { case (n, Left(e)) => s"\"$n\":\"${esc(e)}\"" }
      .mkString("{", ",", "}")
    val nErr = results.count(_._2.isLeft)
    val nZero = results.count(_._2 == Right(0L))
    val json = s"""{"sf":"$sfDir","n_queries":${results.size},""" +
      s""""n_errors":$nErr,"n_zero_rows":$nZero,"rows":$rows,"errors":$errors}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
    graft.TempStores.deleteAll()
  }
}
