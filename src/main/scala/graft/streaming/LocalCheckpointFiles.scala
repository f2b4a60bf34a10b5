package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Structured Streaming checkpoint file manager that writes `file:` paths
  * with java.nio.
  *
  * Without `libhadoop`, Hadoop's local filesystem forks a `chmod` or
  * `readlink` process for each file it creates or renames and each directory
  * it makes — about 40 forks per micro-batch of a one-store query (offset log,
  * commit log, state delta and its checksum file). Here a file is written to
  * a hidden temp file beside its target and published on `close`:
  *   - overwrite allowed: one atomic rename over the target;
  *   - otherwise: one hard link, which fails atomically when the target
  *     exists; that failure is Hadoop's `FileAlreadyExistsException`, as
  *     from Spark's own managers.
  * Publishing also drops a stale Hadoop `.<name>.crc` sidecar, so Hadoop's
  * checksummed reader never checks the new bytes against an old checksum.
  * Reads, listing, `exists` and `delete` stay Spark's (they fork nothing), and
  * a path on any other filesystem goes to Spark's implementation unchanged.
  * Durability is that of Hadoop's local path: neither fsyncs. The link needs
  * a local filesystem with hard links.
  *
  * Spark takes the class from `spark.sql.streaming.checkpointFileManagerClass`
  * in the query session's Hadoop conf; [[GraftStream.startWith]] sets it on
  * its session clone.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override def createAtomic(
      path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!isLocal) super.createAtomic(path, overwriteIfPossible)
    else {
      val target = nio(path)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new LocalCheckpointFiles.Publish(target, temp, overwriteIfPossible)
    }

  override def mkdirs(path: Path): Unit =
    if (isLocal) Files.createDirectories(nio(path)) else super.mkdirs(path)

  private def nio(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)
}

object LocalCheckpointFiles {

  /** Writes `temp`; `close` publishes it as `target`, `cancel` drops it.
    * Either way the temp file is gone afterwards. */
  private final class Publish(target: NioPath, temp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(temp, CREATE_NEW, WRITE))) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          val hadoopCrc = target.resolveSibling(s".${target.getFileName}.crc")
          if (overwrite) {
            Files.deleteIfExists(hadoopCrc)
            Files.move(temp, target, ATOMIC_MOVE, REPLACE_EXISTING)
          } else {
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(
                  s"Failed to rename $temp to $target as destination already exists")
            }
            Files.deleteIfExists(hadoopCrc)
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        finally Files.deleteIfExists(temp)
      }
    }
  }
}
