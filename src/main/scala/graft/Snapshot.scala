package graft

import java.io.File
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils

/** Build-once artifacts keyed by fixture content: the IVF/PQ/BM25 indexes,
  * the signature and component stores, the WARC/CSV/text/media fixtures
  * and the partitioned layouts the batch lanes read.
  *
  * One rule owns both decisions. [[path]] is the key: the fixture dir, the
  * content identity of each source it is built from, and a version suffix
  * the caller bumps when the algorithm behind the artifact changes.
  * [[cached]] is the publish: a build writes into a writer-unique temp dir,
  * `_SUCCESS` is written after the LAST write, and the dir is renamed into
  * place atomically — the file-sink commit of Structured Streaming. A
  * reader either sees the complete snapshot or none, and two first builds
  * on one session never write into the same directory. */
object Snapshot {

  /** Content key for a source that may be a single parquet FILE
    * (`len_mtime`) or a DIRECTORY of part files: total data-file length +
    * max mtime over the files, `_`/`.` sidecars ignored (directory-level
    * length/mtime are filesystem-dependent, and an in-place part rewrite
    * doesn't always bump the dir mtime). A missing source keys as `0_0`. */
  def contentKey(src: File): String =
    if (src.isDirectory) {
      val parts = Option(src.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      s"${parts.map(_.length).sum}_${parts.map(_.lastModified).foldLeft(0L)(math.max)}"
    } else s"${src.length}_${src.lastModified}"

  /** The snapshot location under `java.io.tmpdir` for an artifact of `dir`
    * built from the files `sources` (names inside `dir`), versioned by
    * `ver`: `<prefix><dir>_<key(source)>…_<ver>`, every non-alphanumeric
    * after the prefix mapped to `_`. */
  def path(prefix: String, dir: String, ver: String, sources: String*): String =
    System.getProperty("java.io.tmpdir") + "/" + prefix +
      (dir + sources.map(f => "_" + contentKey(new File(s"$dir/$f"))).mkString + "_" + ver)
        .replaceAll("[^A-Za-z0-9]", "_")

  private def complete(path: String): Boolean = new File(path + "/_SUCCESS").exists()

  /** Return `path`, building it first unless it holds a complete snapshot:
    * `build` gets a fresh, existing temp dir to write into (executor-side
    * writes included), then `_SUCCESS` marks it complete and it is
    * published. A `build` that throws publishes nothing: its temp dir is
    * deleted and the next call builds again. */
  def cached(path: String)(build: String => Unit): String = {
    if (!complete(path)) {
      sweepOrphanTmpDirs(path)
      val tmp = path + ".tmp-" + java.util.UUID.randomUUID().toString
      Files.createDirectories(Paths.get(tmp))
      try {
        build(tmp)
        Files.write(Paths.get(tmp, "_SUCCESS"), Array.empty[Byte])
        publish(tmp, path)
      } catch {
        case e: Throwable =>
          scala.util.Try(FileUtils.deleteDirectory(new File(tmp)))
          throw e
      }
    }
    path
  }

  /** Atomically rename a complete `tmp` snapshot to `path`.
    *
    * Failure taxonomy (the move only fails when `path` already exists):
    *  - `path` has `_SUCCESS`: a concurrent writer won the race with an
    *    equivalent snapshot (same content key) — discard ours;
    *  - `path` has NO `_SUCCESS`: a stale PARTIAL directory (a writer that
    *    crashed mid-write before the publish was atomic, or an in-place
    *    build from before this rule). Left alone it would be rebuilt on
    *    every call, so delete it and retry the move once. The delete+move
    *    window is not atomic — a reader in that instant sees a missing dir
    *    and fails transiently rather than reading partial data, and a
    *    concurrent repairer's own complete copy winning instead is equally
    *    correct. */
  private def publish(tmp: String, path: String): Unit = {
    def move(): Unit =
      Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    try move()
    catch {
      // FileAlreadyExistsException and DirectoryNotEmptyException are both
      // FileSystemExceptions — which one POSIX rename throws here varies
      case _: FileSystemException if complete(path) =>
        FileUtils.deleteDirectory(new File(tmp))
      case _: FileSystemException =>
        FileUtils.deleteDirectory(new File(path))
        try move()
        catch {
          case _: FileSystemException if complete(path) =>
            // a concurrent repairer republished between our delete and move
            FileUtils.deleteDirectory(new File(tmp))
        }
    }
  }

  /** Delete `.tmp-*` siblings abandoned by crashed writers. Only dirs idle
    * for over an hour — an in-flight writer's temp dir is younger. */
  private def sweepOrphanTmpDirs(path: String): Unit = {
    val dir = new File(path).getParentFile
    val prefix = new File(path).getName + ".tmp-"
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.getName.startsWith(prefix) && f.isDirectory && f.lastModified < cutoff)
        scala.util.Try(FileUtils.deleteDirectory(f))
    }
  }
}
