package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source lints over `src/main`: every session goes through the one
  * factory (`Sessions`), engine conf keys and Hadoop `FileSystem` handles
  * stay on short allow-lists, a comment that names a spec or a
  * `graft.tools` program names one that exists, the store manifests are
  * written only by `Manifest`'s commit step, every public def has a
  * production caller or is on the named engine surface list, and every
  * `main` is a listed entry point that a document runs.
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

  private def squash(t: String) = t.replaceAll("\\s+", " ")

  /** The documents at `paths` (from the repo root), whitespace squashed. */
  private def docs(paths: String*): Seq[String] = paths.map { p =>
    val src = scala.io.Source.fromFile(p, "UTF-8")
    try squash(src.mkString) finally src.close()
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

  test("Hadoop FileSystem handles in src/main only on the allow-list") {
    // Hadoop's local FileSystem forks chmod/readlink processes on writes;
    // the stream path writes through the checkpoint file manager
    // (stream/LocalCheckpointFileManager). Tables only stats fixture files.
    val allowed = Set("Tables.scala")
    val call = """\bgetFileSystem\(|\bFileSystem\.get\(""".r
    val offenders = for {
      f <- scalaFiles("src/main") if !allowed(f.getName)
      (l, n) <- lines(f) if call.findFirstIn(l).nonEmpty
    } yield s"${f.getPath}:$n"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** (line number, comment text) of each line of `f` that holds a
    * comment: a scaladoc or block-comment line, or the `//` tail.
    */
  private def commentLines(f: File): Seq[(Int, String)] = lines(f).flatMap { case (l, n) =>
    val t = l.trim
    if (t.startsWith("*") || t.startsWith("/*")) Some(n -> t)
    else Option.when(l.contains("//"))(n -> l.substring(l.indexOf("//")))
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
      (n, comment) <- commentLines(f)
      m <- named.findAllIn(comment) if !defined(m) && !spark(m)
    } yield s"${f.getPath}:$n names $m"
    assert(missing.isEmpty, missing.mkString("\n"))
  }

  test("every graft.tools program named in a comment exists under src/main") {
    // A retired dev main lives on in git history and in the SURVEY row
    // that records its numbers; a comment cites that row, not the tool.
    val tools = scalaFiles("src/main/scala/graft/tools").map(_.getName.stripSuffix(".scala")).toSet
    val named = """\b(?:graft\.)?tools[./]([A-Z]\w*)""".r
    val missing = for {
      f <- scalaFiles("src/main") ++ scalaFiles("src/test")
      (n, comment) <- commentLines(f)
      m <- named.findAllMatchIn(comment) if !tools(m.group(1))
    } yield s"${f.getPath}:$n names ${m.matched}"
    assert(missing.isEmpty, missing.mkString("\n"))
  }

  /** `src` with every comment blanked (line breaks kept, so line numbers
    * hold); string and character literals are kept as written.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def copyTo(j: Int): Unit = { out ++= src.substring(i, j); i = j }
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src(j) == '"') j += 1
        copyTo(j)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') copyTo(i + 3)
      else if (src.startsWith("'\\", i) && i + 3 < n && src(i + 3) == '\'') copyTo(i + 4)
      else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        val e = src.indexOf("*/", i + 2)
        val j = if (e < 0) n else e + 2
        out ++= "\n" * src.substring(i, j).count(_ == '\n')
        i = j
      } else copyTo(i + 1)
    }
    out.toString
  }

  private def codeLines(f: File): Vector[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try stripComments(src.mkString).split("\n", -1).toVector
    finally src.close()
  }

  private val identifier = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val defLine = """^(\s*)((?:@?\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)""".r
  private val ownerLine =
    """^(\s*)(?:@?\w+(?:\[\w+\])?\s+)*(object|class|trait)\s+([A-Za-z_]\w*)""".r

  /** (file, 1-based line, `Owner.name`) of each public, non-`override`
    * def in `src/main` with no caller outside its own definition. The
    * owner is the nearest enclosing object, class or trait. A caller is
    * `Owner.name` anywhere, or a bare `name` in the owner's own file or
    * in a file that imports from the owner; a member of a class or trait
    * also counts any `.name` selection, since a lexical lint cannot see
    * the receiver's type. Callers are counted with comments and import
    * lines stripped, in `src/main` and in the benchmark harness
    * (`perfbench/src`). A definition spans its `def` line and the lines
    * indented deeper below it, plus a closing bracket at its own indent,
    * so recursion is not a caller. An `apply` is also called as
    * `Owner(...)`. Exempt: the `QueryPack` members, which the catalog
    * calls through the trait. A `main` is reported like any other def;
    * it stays only as a listed entry point.
    */
  private def uncalledPublicDefs(): Seq[(File, Int, String)] = {
    val main = scalaFiles("src/main")
    val files = main ++ scalaFiles("perfbench/src")
    val isImport = (l: String) => l.trim.startsWith("import ")
    val src = files.map(f => f -> codeLines(f)).toMap
    val imports = src.map { case (f, ls) => f -> ls.filter(isImport) }
    // each identifier use: (0-based line, None if bare, Some(qualifier)
    // if selected — the identifier before the dot, "" if there is none)
    val uses = src.map { case (f, ls) =>
      f -> ls.zipWithIndex.flatMap { case (l, n) =>
        if (isImport(l)) Nil
        else identifier.findAllMatchIn(l).map { u =>
          val before = l.substring(0, u.start).reverse.dropWhile(_ == ' ')
          val sel = Option.when(before.startsWith("."))(before.drop(1).dropWhile(_ == ' ')
            .takeWhile(c => c.isLetterOrDigit || c == '_').reverse)
          u.matched -> (n, sel)
        }
      }.groupMap(_._1)(_._2)
    }
    def indent(l: String) = l.length - l.dropWhile(_ == ' ').length
    val packMembers = main.filter(_.getName == "QueryPack.scala")
      .flatMap(f => src(f).flatMap(l => defLine.findPrefixMatchOf(l).map(_.group(3)))).toSet
    for {
      f <- main
      ls = src(f)
      (l, i) <- ls.zipWithIndex
      m <- defLine.findPrefixMatchOf(l).toSeq
      mods = m.group(2).split("\\s+").toSet
      if !mods.exists(x => x.startsWith("private") || x.startsWith("protected") || x == "override")
      name = m.group(3)
      k = m.group(1).length
      (kind, owner, decl) = ls.take(i).reverseIterator
        .flatMap(x => ownerLine.findPrefixMatchOf(x).filter(_.group(1).length < k))
        .map(o => (o.group(2), o.group(3), o.source.toString)).nextOption()
        .getOrElse(("object", f.getName.stripSuffix(".scala"), ""))
      if !(packMembers(name) && """\bQueryPack\b""".r.findFirstIn(decl).nonEmpty)
      body = ls.drop(i + 1).takeWhile(x => x.trim.isEmpty || indent(x) > k)
      closing = ls.lift(i + 1 + body.length)
        .filter(x => indent(x) == k && (x.trim.startsWith("}") || x.trim.startsWith(")")))
      spanEnd = i + 1 + body.length + closing.size
      importsOwner = s"\\b$owner\\.(?:_|\\{|\\w)".r
      construct = s"\\b$owner\\s*\\(".r
      applied = name == "apply" && files.exists(g => src(g).exists(x =>
        !isImport(x) && ownerLine.findPrefixMatchOf(x).isEmpty && construct.findFirstIn(x).nonEmpty))
      callers = files.map { g =>
        val local = g == f || imports(g).exists(importsOwner.findFirstIn(_).nonEmpty)
        uses(g).getOrElse(name, Nil).count { case (n, sel) =>
          (g != f || n < i || n >= spanEnd) &&
            (sel.contains(owner) || (local && sel.isEmpty) || (kind != "object" && sel.nonEmpty))
        }
      }.sum
      if callers == 0 && !applied
    } yield (f, i + 1, s"$owner.$name")
  }

  /** Public defs kept with no production caller: the engine surface a
    * deployment calls directly. Each entry names the capability it
    * implements (a phrase of README.md or SURVEY.md) and the spec under
    * `src/test/scala/graft` that exercises it.
    */
  private val engineSurface: Map[String, (String, String)] = Map(
    // the catalog's entry point and the events source's pacing-clock test seam
    "SparkEntry.entry" -> ("entry + queries + oracleSql", "AnalysisSpec"),
    "EventsClock.register" -> ("the pacing clock is injectable", "EventsSourceSpec"),
    "EventsClock.remove" -> ("the pacing clock is injectable", "EventsSourceSpec"),
    // Kafka glue: the reference's source and producer sink
    "MetricsJob.kafkaSource" -> ("S1 Kafka source", "KafkaIntegrationSpec"),
    "MetricsJob.publishKafka" -> ("S2 Kafka sink", "KafkaIntegrationSpec"),
    // streaming operators beyond the reference's one job
    "MetricsJob.correlate" -> ("stream-stream interval join", "StreamingSpec"),
    "MetricsJob.windowedCounts" -> ("event-time windows + watermark", "StreamingSpec"),
    "MetricsJob.sessionCounts" -> ("native streaming session windows", "StreamingSpec"),
    "MetricsJob.windowedDistinctUsers" -> ("streaming windowed distinct (HLL)", "StreamingSpec"),
    "MetricsJob.windowedKeyFreq" ->
      ("streaming windowed key-frequency (count-min)", "StreamingSpec"),
    "MetricsJob.windowedLatencyQuantiles" ->
      ("streaming windowed quantiles (KLL, r8)", "StreamingSpec"),
    "DedupStream.withinWatermark" -> ("streaming dedup (watermark-bounded)", "DedupStreamSpec"),
    "DedupStream.byContent" -> ("streaming dedup (watermark-bounded)", "DedupStreamSpec"),
    "DedupStream.clusterIngest" ->
      ("incremental cluster maintenance (r8 wave 4)", "ClusterIngestSpec"),
    "Sessionize.streamTypeCounts" -> ("transformWithState MapState", "SessionizeSpec"),
    "CusumStream.stream" ->
      ("at-ingest parametric (μ, k, h) form of ts_cusum", "SessionizeSpec"),
    "CusumStream.streamOrdered" -> ("out-of-order-safe CUSUM", "SessionizeSpec"),
    "ScdStream.dimIngest" -> ("incremental SCD2 maintenance", "ScdStoreSpec"),
    "VocabGrowth.firstSightings" ->
      ("the ingest-time twin of the heaps curve", "VocabGrowthSpec"),
    "ModelServing.scoreStream" ->
      ("Batch-train → stream-serve for every trained model", "ModelServingSpec"),
    "ModelServing.tokenizeStream" ->
      ("Batch-train → stream-serve for every trained model", "ModelServingSpec"),
    "ModelServing.windowedFeatureBins" ->
      ("Batch-train → stream-serve for every trained model", "ModelServingSpec"),
    "ModelServing.unigramStream" ->
      ("Batch-train → stream-serve for every trained model", "UnigramSpec"),
    "QualityGate.freeze" -> ("the percolation twin of the cleaning", "QualityGateSpec"),
    "QualityGate.freezeThresholds" -> ("the percolation twin of the cleaning", "QualityGateSpec"),
    "QualityGate.gate" -> ("the percolation twin of the cleaning", "QualityGateSpec"),
    // sketches
    "Sketches.groupSketches" -> ("mergeable sketch suite (r6)", "SketchSpec"),
    "Sketches.thetaSketches" -> ("mergeable sketch suite (r6)", "SketchSpec"),
    "Sketches.thetaSetOps" -> ("mergeable sketch suite (r6)", "SketchSpec"),
    "Sketches.kllSketches" -> ("mergeable sketch suite (r6)", "SketchSpec"),
    "Sketches.kllRollup" -> ("mergeable sketch suite (r6)", "SketchSpec"),
    "Sketches.topkAccumulate" -> ("mergeable sketch suite (r6)", "SketchSpec"),
    "Sketches.topkCombine" -> ("mergeable sketch suite (r6)", "SketchSpec"),
    "Sketches.rollup" -> ("mergeable sketch suite (r6)", "SketchSpec"),
    // multimodal operators
    "Multimodal.decodeImages" -> ("REAL image codec (r5)", "SourcesSpec"),
    "Multimodal.resizeImages" -> ("REAL image codec (r5)", "SourcesSpec"),
    "Multimodal.decodeAudio" -> ("REAL audio codec (r5)", "SourcesSpec"),
    "Multimodal.audioFingerprint" -> ("audio fingerprint dedup (r8)", "SourcesSpec"),
    "Multimodal.imageNearDupPairs" -> ("perceptual image dedup (r8)", "SourcesSpec"),
    "Multimodal.decodeVideoFrames" -> ("MP4/H.264 absent in the JDK", "SourcesSpec"),
    "Multimodal.videoNearDupPairs" -> ("MP4/H.264 absent in the JDK", "VideoDedupSpec"),
    // dedup and retrieval
    "Dedup.minhashCandidates" -> ("MinHash + LSH", "ExtSpec"),
    "Dedup.simhash32" -> ("SimHash", "ExtSpec"),
    "Dedup.ingestDedupBatch" -> ("incremental dedup ingest (r8)", "ExtSpec"),
    "Retrieval.phraseMatchesFromIndex" -> ("phrase retrieval (r8)", "RetrievalSpec"),
    "Retrieval.phraseCount" -> ("phrase retrieval (r8)", "RetrievalSpec"),
    "Retrieval.frozenStats" -> ("percolation (r8)", "RetrievalSpec"),
    "Retrieval.percolate" -> ("percolation (r8)", "RetrievalSpec"),
    "Retrieval.ingestStream" -> ("Streaming index ingest", "RetrievalSpec"),
    "Similarity.ingestStream" -> ("streaming twin of the text ingest", "LayoutSpec"),
    "Layout.writeZOrdered" -> ("Z-order layout", "LayoutSpec"),
    // store reads and maintenance (time travel, quarantine, vacuum, retrain)
    "Dedup.readClusterLabelsAt" -> ("store time travel", "ClusterIngestSpec"),
    "ScdStore.readDimAt" -> ("store time travel", "ScdStoreSpec"),
    "ScdStore.readQuarantine" ->
      ("per-key high-water marks quarantine late arrivals", "ScdStoreSpec"),
    "ScdStore.vacuum" -> ("incremental SCD2 maintenance", "ScdStoreSpec"),
    "Dedup.vacuumClusterStore" ->
      ("incremental cluster maintenance (r8 wave 4)", "ClusterIngestSpec"),
    "Similarity.refreshIfStale" -> ("ANN retrain-under-ingest closed", "LayoutSpec"),
    // tokenizer serving: builds the greedy vocabulary, then tokenizes
    "Bpe.greedyTokenize" -> ("greedy-WordPiece serving", "BpeSpec"),
  )

  /** The program entry points in `src/main`, one per `def main`: the
    * driver contract, the paper's streaming, recovery and analysis runs,
    * and the dev mains a document still runs. Each entry names
    * the phrase of README.md, ROADMAP.md or the verify skill that runs
    * it. A dev main whose finding is recorded and that no document runs
    * is deleted; its numbers stay where they are recorded.
    */
  private val entryPoints: Map[String, String] = Map(
    // driver contract
    "Verify.main" -> "runMain graft.Verify",
    "Bench.main" -> "runMain graft.Bench",
    // the paper's experiments: streaming job, recovery run, analysis
    "StreamBench.main" -> "`graft.stream.StreamBench` drives the full pipeline",
    "RecoveryBench.main" -> "`graft.stream.RecoveryBench` is the experiment-3 analog",
    "Exp1Main.main" -> "`graft.analysis.Exp1Main` writes `throughput_vs_rate.png`",
    "Exp2Main.main" -> "`Exp2Main` writes `exp2_p95_latency.png`",
    "Exp3Main.main" -> "`Exp1Main` / `Exp2Main` / `Exp3Main` also write the same summary tables",
    // dev mains: bench attribution, scale and streaming-state probes
    "Time.main" -> "runMain graft.tools.Time",
    "Canary.main" -> "runMain graft.tools.Canary",
    "JobAudit.main" -> "`tools/JobAudit [query...]`",
    "ScaleProbe.main" -> "`ScaleProbe` builds that corpus locally from sf0.1",
    "StateProbe.main" -> "Streaming state at scale (`graft.tools.StateProbe`",
  )

  test("every main in src/main is a listed entry point that a document runs") {
    val runners = docs("README.md", "ROADMAP.md", ".claude/skills/verify/SKILL.md")
    val mains = for {
      f <- scalaFiles("src/main")
      ls = codeLines(f)
      (l, i) <- ls.zipWithIndex
      m <- defLine.findPrefixMatchOf(l).toSeq if m.group(3) == "main"
      owner <- ls.take(i).reverseIterator.flatMap(ownerLine.findPrefixMatchOf(_))
        .find(_.group(1).length < m.group(1).length).map(_.group(3))
    } yield s"$owner.main" -> s"${f.getPath}:${i + 1}"
    val listed = mains.map(_._1).toSet
    val problems =
      mains.collect { case (key, at) if !entryPoints.contains(key) =>
        s"$at $key is not on the entryPoints list" } ++
      entryPoints.toSeq.sortBy(_._1).flatMap { case (key, phrase) =>
        Seq(
          Option.when(!listed(key))(s"$key is listed but has no def main in src/main"),
          Option.when(!runners.exists(_.contains(squash(phrase))))(
            s"$key: '$phrase' is in none of README.md, ROADMAP.md, the verify skill"))
          .flatten
      }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("store manifests are written only by the commit step in ops/Manifest") {
    // One commit protocol for the four manifest stores: a manifest write
    // anywhere else is a second spelling of when a batch becomes live.
    val write = """\bManifest\s*\.\s*(?:write|commit)\s*\(""".r
    val offenders = for {
      f <- scalaFiles("src/main") if f.getName != "Manifest.scala"
      (l, n) <- codeLines(f).zipWithIndex if write.findFirstIn(l).nonEmpty
    } yield s"${f.getPath}:${n + 1}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every public def in src/main has a caller or is on the engine surface list") {
    val offenders = uncalledPublicDefs().collect {
      case (f, n, key) if !engineSurface.contains(key) && !entryPoints.contains(key) =>
        s"${f.getPath}:$n $key has no caller in src/main or perfbench/src"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every engine surface entry is uncalled, documented and exercised by its spec") {
    val capabilities = docs("README.md", "SURVEY.md")
    val uncalled = uncalledPublicDefs().map(_._3).toSet
    val problems = engineSurface.toSeq.sortBy(_._1).flatMap { case (key, (capability, spec)) =>
      val name = key.substring(key.indexOf('.') + 1)
      val specFile = new File(s"src/test/scala/graft/$spec.scala")
      Seq(
        Option.when(!uncalled(key))(s"$key is not an uncalled public def in src/main"),
        Option.when(!capabilities.exists(_.contains(squash(capability))))(
          s"$key: '$capability' is in neither README.md nor SURVEY.md"),
        Option.when(!specFile.isFile ||
            !codeLines(specFile).exists(l => identifier.findAllIn(l).contains(name)))(
          s"$key: $spec does not call $name")).flatten
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
