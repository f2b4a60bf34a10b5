package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every session in the repo comes from [[GraftSession.local]]: the specs'
  * session carries its invariants, and no other file builds a session. */
class GraftSessionSpec extends SparkSpec {

  test("the spec session carries the session invariants at 4 cores") {
    assert(spark.sparkContext.master === "local[4]")
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get(graft.ext.BucketedLayout.SortedScanConf) === "true")
  }

  test("GraftSession.scala is the only source file that builds a SparkSession") {
    // split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    def building(root: String): Seq[String] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val files = Files.walk(dir)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filter((p: Path) => Files.readString(p).contains(builder))
        .map(p => dir.relativize(p).toString).toList.sorted
      finally files.close()
    }
    assert(building("src/main/scala") === Seq("graft/GraftSession.scala"))
    assert(building("src/test/scala") === Seq.empty)
  }
}
