package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One implementation per mechanism in `src/main`: one networked chain
  * transport beside the synthetic generator, and one protobuf varint
  * reader. A second copy growing back fails here. */
class SingleImplementationSpec extends AnyFunSuite {

  /** `src/main/scala`'s Scala sources, relative path → text. */
  private def mainSources: Seq[(String, String)] = {
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), s"src/main/scala not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(dir)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => dir.relativize(p).toString -> Files.readString(p)).sortBy(_._1)
    finally files.close()
  }

  test("SyntheticBlockFetcher and GrpcBlockFetcher are the only BlockFetcher implementations") {
    val named = """(?:class|object)\s+(\w+)[^{=]*?\b(?:extends|with)\s+BlockFetcher\b""".r
    val anonymous = """new\s+BlockFetcher\b""".r
    val found = mainSources.flatMap { case (file, text) =>
      named.findAllMatchIn(text).map(_.group(1)).toSeq ++
        anonymous.findAllMatchIn(text).map(_ => s"anonymous in $file")
    }
    assert(found.sorted === Seq("GrpcBlockFetcher", "SyntheticBlockFetcher"))
  }

  test("functions/ProtoWire.scala holds the only protobuf varint reader") {
    val files = mainSources.collect { case (file, text) if text.contains("def varint(") => file }
    assert(files === Seq("graft/functions/ProtoWire.scala"))
  }
}
