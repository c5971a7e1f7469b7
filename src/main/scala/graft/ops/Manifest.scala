package graft.ops

import java.io.{BufferedOutputStream, File, IOException, OutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.StandardOpenOption.{CREATE, READ, TRUNCATE_EXISTING, WRITE}

/** The one COMMIT PROTOCOL of the four manifest stores — BM25 index
  * segments (`ext/Retrieval`), IVF-PQ code deltas (`ext/Similarity`),
  * near-dup cluster labels (`ext/Dedup`) and the SCD2 dimension
  * (`ops/ScdStore`). The Lucene segments_N model: the LIVE set of data
  * directories is what the manifest file says, never what the
  * filesystem happens to contain, and a missing manifest is an empty
  * store. Every change goes through [[ingest]]: the store writes its
  * data in full, returns the new live set, and one atomic replace of
  * the manifest publishes it — so a crash at any point leaves the
  * previously committed view serving, at worst with orphan directories
  * that [[vacuum]] garbage-collects and that no later commit adopts.
  *
  * The manifest carries the streaming batch WATERMARK (`#maxBatch=`
  * header) in the same atomic replace, so a replayed batch id is
  * detected even after a compaction folded its entry away — the replay
  * contract of Structured Streaming's foreachBatch sinks: a batch that
  * runs again leaves the store as if it had run once.
  */
object Manifest {

  case class State(entries: Seq[String], maxBatch: Option[Long])

  def read(file: File): Option[State] =
    if (!file.exists()) None
    else {
      val lines = new String(Files.readAllBytes(file.toPath), UTF_8)
        .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      Some(State(
        lines.filterNot(_.startsWith("#")),
        lines.collectFirst {
          case l if l.startsWith("#maxBatch=") =>
            l.stripPrefix("#maxBatch=").toLong
        }))
    }

  /** Snapshot manifests written beside the live one on every
    * watermarked commit (`<name>.v<batch>`): each is an immutable copy
    * of the live set AS OF that batch, giving every manifest store —
    * index segments, cluster labels, SCD2 dimensions — time-travel
    * reads ([[readAt]]) for free. Snapshots reference data directories
    * but never pin them: [[vacuum]] keeps only the CURRENT view's
    * directories and prunes any snapshot that no longer resolves (the
    * Delta-style contract — vacuum trades history for space).
    */
  private def snapshotName(name: String, batch: Long) = s"$name.v$batch"

  /** The newest snapshot at or below `asOfBatch`, or None if none
    * survives (never committed, or pruned by vacuum).
    */
  def readAt(file: File, asOfBatch: Long): Option[State] = {
    val dir = Option(file.getParentFile).getOrElse(new File("."))
    val prefix = file.getName + ".v"
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(prefix))
      .flatMap(f => f.getName.stripPrefix(prefix).toLongOption.map(_ -> f))
      .filter(_._1 <= asOfBatch)
      .sortBy(_._1).lastOption
      .flatMap { case (_, f) => read(f) }
  }

  /** Replace the manifest atomically AND durably: the tmp file is
    * fsync'd before the rename and the parent directory after it (the
    * Lucene segments_N recipe) — without both, a power loss shortly
    * after the move can surface an empty or truncated manifest at
    * reboot, which is exactly the silent-partial-view failure the
    * commit point exists to prevent. Directory fsync is best-effort
    * (not supported on every filesystem). A watermarked write also
    * drops an immutable `.v<batch>` snapshot copy for [[readAt]].
    * [[ingest]] is its one caller.
    */
  private def write(file: File, entries: Seq[String],
      maxBatch: Option[Long]): Unit = {
    val tmp = new File(file.getParentFile, file.getName + ".tmp")
    val header = maxBatch.map(b => s"#maxBatch=$b\n").getOrElse("")
    val bytes = (header + entries.sorted.mkString("", "\n", "\n"))
      .getBytes(UTF_8)
    val out = syncedOutput(tmp.toPath)
    try out.write(bytes) finally out.close()
    moveDurably(tmp.toPath, file.toPath, replace = true)
    // Snapshot AFTER the live replace: a crash between the two loses
    // only the snapshot, never the commit.
    maxBatch.foreach { wm =>
      Files.copy(file.toPath,
        new File(file.getParentFile, snapshotName(file.getName, wm)).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The first half of the manifest's durable-replace recipe: a buffered
    * stream onto `tmp` (created or truncated, parent directories made)
    * whose `close` fsyncs the bytes before closing the file.
    */
  def syncedOutput(tmp: Path): OutputStream = {
    Option(tmp.getParent).foreach(Files.createDirectories(_))
    val ch = FileChannel.open(tmp, CREATE, WRITE, TRUNCATE_EXISTING)
    new BufferedOutputStream(Channels.newOutputStream(ch)) {
      override def close(): Unit = try { flush(); ch.force(true) } finally super.close()
    }
  }

  /** The second half: moves the fsync'd `tmp` to `target` in one atomic
    * step, then fsyncs the directory (best-effort: not every file system
    * supports it). `replace = false` publishes with link(2) instead of
    * rename(2), which refuses an existing `target` atomically with
    * `java.nio.file.FileAlreadyExistsException` and leaves `tmp` in place.
    */
  def moveDurably(tmp: Path, target: Path, replace: Boolean): Unit = {
    if (replace)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    else { Files.createLink(target, tmp); Files.delete(tmp) }
    try {
      val dir = FileChannel.open(target.toAbsolutePath.getParent, READ)
      try dir.force(true) finally dir.close()
    } catch { case _: IOException => () }
  }

  /** The one commit step of every manifest store, in order:
    *
    *  1. read the live set (no manifest: an empty store);
    *  2. a `batchId` at or below the watermark is a REPLAY — change
    *     nothing;
    *  3. an `empty` batch stages nothing and only advances the
    *     watermark: no data directory is written;
    *  4. otherwise `stage` writes the store's data and returns the new
    *     live set, which is published with the advanced watermark in
    *     one atomic replace.
    *
    * A maintenance change (compaction, retrain, rebuild, a named
    * segment or delta) passes no batch id: no replay guard, and the
    * watermark carries over unchanged. `empty` is evaluated only after
    * the replay check.
    */
  def ingest(file: File, batchId: Option[Long], empty: => Boolean = false)(
      stage: Seq[String] => Seq[String]): Unit = {
    val cur = read(file).getOrElse(State(Nil, None))
    if (!batchId.exists(b => cur.maxBatch.exists(b <= _))) {
      val live = if (empty) cur.entries else stage(cur.entries)
      write(file, live.distinct, (cur.maxBatch ++ batchId).maxOption)
    }
  }

  /** The next name of a generation family `<prefix><n>`: one past the
    * highest live generation, or `first` when none is live.
    */
  def nextGeneration(entries: Seq[String], prefix: String,
      first: Long = 0L): Long =
    entries.filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption)
      .maxOption.fold(first)(_ + 1)

  /** Delete subdirectories of `dir` the manifest does not reference —
    * the garbage a crash between data-write and commit (or between
    * commit and cleanup) leaves behind. No-op without a manifest: there
    * is then no live set to keep, and no authority to call a directory
    * dead.
    *
    * Single-maintainer assumption: a reader that listed the PREVIOUS
    * manifest and is still mid-scan can race a concurrent vacuum of the
    * directories it is reading; deployments with long-running external
    * readers should delay vacuum past their read horizon (generation
    * grace period). The engine's own jobs plan and execute within one
    * maintainer, where the swap is safe.
    */
  def vacuum(file: File, dir: File): Unit =
    read(file).foreach { st =>
      val live = st.entries.toSet
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !live(f.getName))
        .foreach(rmTree)
      // Prune snapshots that no longer resolve — any whose entries
      // reference a directory vacuum just deleted. The current view's
      // snapshot (entries ⊆ live) survives.
      val prefix = file.getName + ".v"
      Option(file.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith(prefix) &&
          f.getName.stripPrefix(prefix).toLongOption.nonEmpty)
        .filter(f => !read(f).exists(_.entries.forall(live)))
        .foreach(_.delete())
    }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }
}
