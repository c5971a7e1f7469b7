package graftbench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the named catalog queries as a JSON
  * object, for tools/expected_rows.py.
  *
  * Usage: graftbench.OracleSql OUT.json QUERY...
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = args.tail.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    Files.writeString(Paths.get(args.head), Json.render(args.tail.map(q => q -> sql(q)).toMap))
  }
}
