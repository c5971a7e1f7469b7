package graft.tools

object Explain {
  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.1"
    val spark = graft.Sessions.local(8, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      println(s"======== $name ========")
      graft.SparkEntry.queries(name)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
