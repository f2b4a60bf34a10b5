package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils

import graft.queries.ExtShared

/** [[Snapshot]]: the content key, and the build-once publish every cached
  * lane artifact goes through. */
class SnapshotSpec extends SparkSpec {

  private def tmpSiblings(path: String): Seq[File] = {
    val f = new File(path)
    Option(f.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(f.getName + ".tmp-")).toSeq
  }

  private def write(path: String, bytes: Int, mtime: Long): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), Array.fill[Byte](bytes)(1))
    assert(new File(path).setLastModified(mtime))
  }

  test("path: a file source keys len_mtime, a directory sums its data files and skips sidecars") {
    val dir = Files.createTempDirectory("graft_snapshot_spec_").toString
    try {
      write(s"$dir/a.parquet", 5, 1700000000000L)
      // directory source: two part files count; `_` and `.` files do not
      write(s"$dir/b.parquet/part-0.parquet", 3, 1600000000000L)
      write(s"$dir/b.parquet/part-1.parquet", 4, 1650000000000L)
      write(s"$dir/b.parquet/_SUCCESS", 0, 1800000000000L)
      write(s"$dir/b.parquet/.part-0.parquet.crc", 10, 1800000000000L)
      assert(Snapshot.contentKey(new File(s"$dir/a.parquet")) === "5_1700000000000")
      assert(Snapshot.contentKey(new File(s"$dir/b.parquet")) === "7_1650000000000")
      assert(Snapshot.contentKey(new File(s"$dir/missing.parquet")) === "0_0")

      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmpdir = System.getProperty("java.io.tmpdir")
      assert(Snapshot.path("graft_spec_", dir, "v1", "a.parquet") ===
        s"$tmpdir/graft_spec_${key}_5_1700000000000_v1")
      assert(Snapshot.path("graft_spec_", dir, "m500_v1", "a.parquet", "b.parquet") ===
        s"$tmpdir/graft_spec_${key}_5_1700000000000_7_1650000000000_m500_v1")
    } finally FileUtils.deleteDirectory(new File(dir))
  }

  test("cached: a build that throws publishes nothing, and the next call builds") {
    val root = Files.createTempDirectory("graft_snapshot_spec_").toString
    val path = s"$root/snap"
    try {
      val failed = intercept[IllegalStateException] {
        Snapshot.cached(path) { tmp =>
          Files.writeString(Paths.get(tmp, "part-0"), "half")
          throw new IllegalStateException("build failed")
        }
      }
      assert(failed.getMessage === "build failed")
      assert(!new File(path).exists(), "a failed build must publish nothing")
      assert(tmpSiblings(path).isEmpty, "a failed build must delete its temp dir")

      var builds = 0
      def build(tmp: String): Unit = {
        builds += 1
        Files.writeString(Paths.get(tmp, "part-0"), "whole")
      }
      assert(Snapshot.cached(path)(build) === path)
      assert(Files.readString(Paths.get(path, "part-0")) === "whole")
      assert(new File(path + "/_SUCCESS").exists())
      assert(Snapshot.cached(path)(build) === path)
      assert(builds === 1, "a complete snapshot is served, not rebuilt")
    } finally FileUtils.deleteDirectory(new File(root))
  }

  test("cached: two concurrent first IVF index builds land one complete index") {
    val dir = Files.createTempDirectory("graft_snapshot_spec_").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      Paths.get(dir + "/embeddings.parquet"))
    val path = ExtShared.snapPath(dir, "graft_ivf_", ExtShared.IvfVer)
    try {
      assert(!new File(path).exists())
      val emb = Tables.embeddings(spark, dir)
      val expected = emb.count()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val runs = Seq.fill(2)(Future {
        val idx = ExtShared.cachedIvfIndex(spark, dir, emb)
        (idx.centroids, idx.assigned.count())
      })
      val got = Await.result(Future.sequence(runs), 5.minutes)
      assert(got.map(_._2) === Seq(expected, expected))
      assert(got(0)._1 === got(1)._1, "both callers must read the same centroids")
      assert(new File(path + "/_SUCCESS").exists(), "the published index must be complete")
      assert(tmpSiblings(path).isEmpty, "the losing writer must clean up its temp dir")
      assert(ExtShared.cachedIvfIndex(spark, dir, emb).centroids === got(0)._1)
    } finally {
      FileUtils.deleteDirectory(new File(path))
      FileUtils.deleteDirectory(new File(dir))
    }
  }
}
