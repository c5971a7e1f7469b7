package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source lints over `src/main`: every session goes through the one
  * factory (`Sessions`), engine conf keys stay on a short allow-list,
  * and a comment that names a spec names one that exists.
  */
class SourceLintSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val dir = new File(root)
    assert(dir.isDirectory, s"$root not found from ${new File(".").getAbsolutePath}")
    walk(dir)
  }

  private def lines(f: File): Seq[(String, Int)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector.zipWithIndex.map { case (l, i) => (l, i + 1) }
    finally src.close()
  }

  test("SparkSession.builder() appears only in Sessions.scala") {
    val offenders = for {
      f <- scalaFiles("src/main") if f.getName != "Sessions.scala"
      (l, n) <- lines(f) if l.contains("SparkSession.builder()")
    } yield s"${f.getPath}:$n"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("spark.graft.* conf key literals in src/main are on the allow-list") {
    // Scale-adaptive switches read Spark's own budgets (ops/Bounds); the
    // one engine key left is an executor-side, per-partition spill budget
    // that no Spark setting expresses.
    val allowed = Set("spark.graft.topk.spillBytes")
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val offenders = for {
      f <- scalaFiles("src/main")
      (l, n) <- lines(f)
      m <- literal.findAllMatchIn(l) if !allowed(m.group(1))
    } yield s"${f.getPath}:$n ${m.group(1)}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every *Spec named in a src/main comment exists under src/test") {
    // Spark's own window-spec classes are not graft specs.
    val spark = Set("WindowSpec", "WindowSpecDefinition")
    val defined = scalaFiles("src/test").flatMap { f =>
      f.getName.stripSuffix(".scala") +:
        """\b(?:class|object|trait)\s+(\w+)""".r
          .findAllMatchIn(lines(f).map(_._1).mkString("\n")).map(_.group(1)).toSeq
    }.toSet
    val named = """\b[A-Z]\w*Spec\b""".r
    val missing = for {
      f <- scalaFiles("src/main")
      (l, n) <- lines(f)
      t = l.trim
      comment = if (t.startsWith("*") || t.startsWith("/*")) t
        else if (l.contains("//")) l.substring(l.indexOf("//"))
        else ""
      m <- named.findAllIn(comment) if !defined(m) && !spark(m)
    } yield s"${f.getPath}:$n names $m"
    assert(missing.isEmpty, missing.mkString("\n"))
  }
}
