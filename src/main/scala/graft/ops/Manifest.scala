package graft.ops

import java.io.{BufferedOutputStream, File, IOException, OutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.StandardOpenOption.{CREATE, READ, TRUNCATE_EXISTING, WRITE}

/** Atomic file-based COMMIT POINT for multi-directory index structures
  * (the Lucene segments_N model, shared by the inverted-index segments
  * and the IVF-PQ code deltas): the LIVE set of data directories is
  * what the manifest file says, never what the filesystem happens to
  * contain. Mutators fully write their data first and then replace the
  * manifest in ONE atomic move, so a crash at any point leaves the
  * previously-committed view serving — at worst with orphan directories
  * that [[vacuum]] garbage-collects.
  *
  * The manifest optionally carries a streaming batch WATERMARK
  * (`#maxBatch=` header) updated in the same atomic replace, letting a
  * streaming ingester detect the replay of a batch whose entry a later
  * compaction folded away — the one replay window entry-name existence
  * cannot detect.
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
    */
  def write(file: File, entries: Seq[String],
      maxBatch: Option[Long] = None): Unit = {
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

  /** The first half of [[write]]'s durable-replace recipe: a buffered
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

  /** Add a fully-written entry to the live set (one atomic replace),
    * advancing the batch watermark if given. `adopt` supplies the
    * baseline live set for pre-manifest structures (typically the
    * current directory listing).
    */
  def commit(file: File, entry: String, watermark: Option[Long],
      adopt: => Seq[String]): Unit = {
    val cur = read(file).getOrElse(State(adopt, None))
    val wm = (cur.maxBatch.toSeq ++ watermark.toSeq).reduceOption(_ max _)
    write(file, (cur.entries :+ entry).distinct, wm)
  }

  /** Delete subdirectories of `dir` the manifest does not reference —
    * the garbage a crash between data-write and commit (or between
    * commit and cleanup) leaves behind. No-op without a manifest: there
    * is then no authority to call a directory dead.
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
