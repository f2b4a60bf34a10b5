package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.graftbridge.SessionBridge
import org.scalatest.funsuite.AnyFunSuite

class LocalCheckpointFilesSpec extends AnyFunSuite {

  /** A manager as Spark builds one for a query whose conf names the class. */
  private def manager(): (CheckpointFileManager, File) = {
    val dir = Files.createTempDirectory("localckpt").toFile
    val conf = new Configuration()
    conf.set(SessionBridge.CheckpointManagerKey, classOf[LocalCheckpointFiles].getName)
    val fm = CheckpointFileManager.create(new Path(dir.toURI), conf)
    assert(fm.isInstanceOf[LocalCheckpointFiles])
    (fm, dir)
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: File): Seq[String] = dir.list().toSeq.sorted

  test("the target appears only on close; no temp file is left") {
    val (fm, dir) = manager()
    val p = new Path(dir.toURI.resolve("0"))
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(p))
    assert(names(dir).size === 1 && names(dir).head.startsWith(".0."), "the temp sits beside the target")
    out.close()
    assert(read(fm, p) === "v1")
    assert(names(dir) === Seq("0"))
  }

  test("no overwrite onto an existing file: FileAlreadyExistsException, old bytes kept, no temp") {
    val (fm, dir) = manager()
    val p = new Path(dir.toURI.resolve("0"))
    write(fm, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
    assert(read(fm, p) === "old")
    assert(names(dir) === Seq("0"))
  }

  test("cancel leaves neither the target nor the temp") {
    val (fm, dir) = manager()
    val p = new Path(dir.toURI.resolve("1.delta"))
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel, as in Spark's managers
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("overwrite replaces the bytes and drops a stale Hadoop .crc sidecar") {
    val (fm, dir) = manager()
    val p = new Path(dir.toURI.resolve("1.delta"))
    // written through Hadoop's checksummed local filesystem: file + sidecar
    val hadoop = FileSystem.getLocal(new Configuration())
    val out = hadoop.create(p, true)
    out.write("written by hadoop".getBytes(UTF_8))
    out.close()
    assert(names(dir) === Seq(".1.delta.crc", "1.delta"))

    write(fm, p, "new", overwrite = true)
    assert(names(dir) === Seq("1.delta"))
    assert(read(fm, p) === "new", "Hadoop's checksummed reader accepts the new bytes")
    val viaHadoop = hadoop.open(p)
    try assert(new String(viaHadoop.readAllBytes(), UTF_8) === "new") finally viaHadoop.close()
  }

  test("mkdirs creates nested directories, and is idempotent") {
    val (fm, dir) = manager()
    val p = new Path(dir.toURI.resolve("state/0/0"))
    fm.mkdirs(p)
    fm.mkdirs(p)
    assert(new File(dir, "state/0/0").isDirectory)
    write(fm, new Path(p, "1.delta"), "x", overwrite = true)
    assert(read(fm, new Path(p, "1.delta")) === "x")
  }
}
