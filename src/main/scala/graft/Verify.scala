package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg (dev loop only): comma-separated query names to
    // dump; the driver always calls with two args = full surface.
    val only: Option[Set[String]] = args.drop(2).headOption
      .map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, ALL control chars (<0x20 —
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness)
    // AND every non-ASCII code point: the mojibake oracles carry raw
    // U+FFFD / C1-range / Latin-1-digraph literals, which are spec-valid
    // JSON but fragile under editors, diff tooling, and non-UTF-8-clean
    // consumers — \u-escaping keeps the artifact pure ASCII with
    // identical parsed content.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    TempStores.deleteAll() // lifecycle-query stores: no orphans on exit
  }
}
