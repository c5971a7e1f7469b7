package graft.stream

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import graft.ops.Manifest

/** Spark's default checkpoint file manager with a fork-free atomic write
  * on the local file system. Every offset-log and commit-log entry of a
  * micro-batch goes through `createAtomic`, which Spark implements as a
  * Hadoop `FileContext` create plus rename; on a local path Hadoop forks
  * `chmod` and `readlink` processes for those (2 and 8 per entry), about
  * 35 ms per call on a 4-core Linux host, where this class's write takes
  * about 2 ms. Here the temp file is written with java.nio, fsync'd,
  * moved into place atomically and the directory fsync'd — the durable
  * replace of the store manifests ([[Manifest]]), through the same
  * helpers. Every other operation, and both operations on a non-local
  * scheme, are Spark's.
  *
  * Contract kept from Spark's: without overwrite an existing target
  * fails the rename with Hadoop's `FileAlreadyExistsException` (the
  * metadata log detects a second writer by it) and keeps its bytes; a
  * cancelled stream leaves no temp file.
  *
  * `Sessions` registers the class through
  * `spark.sql.streaming.checkpointFileManagerClass`, so every streaming
  * query and `CheckpointFileManager.create` caller of the engine uses it.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def nio(p: Path): java.nio.file.Path = Paths.get(fc.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!isLocal) super.createTempFile(p)
    else new FSDataOutputStream(Manifest.syncedOutput(nio(p)), null)

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!isLocal) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (from, to) = (nio(src), nio(dst))
      if (overwriteIfPossible) {
        // A checksum a Hadoop write left beside the old bytes would fail
        // checked reads of the new ones. Dropped first: a crash before the
        // move leaves the old bytes unchecked, never checked against a
        // stale sum.
        Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
        Manifest.moveDurably(from, to, replace = true)
      } else
        try Manifest.moveDurably(from, to, replace = false)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(from)
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
    }
}
