package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One implementation per mechanism in `src/main`: one networked chain
  * transport beside the synthetic generator, one chain reader per read,
  * one protobuf varint reader, one builder of source rows, one finality
  * operator and one snapshot store. A second copy growing back fails here. */
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

  test("sources/EnvelopeWire.scala is the only chain-source file that builds a row") {
    val builders = mainSources.collect {
      case (file, text) if file.startsWith("graft/sources/") && text.contains("new GenericInternalRow") => file
    }
    assert(builders.contains("graft/sources/EnvelopeWire.scala"))
    for (file <- Seq("ChainSource.scala", "GrpcChain.scala", "BlockFetcher.scala"))
      assert(!builders.contains(s"graft/sources/$file"), s"$file builds rows")
  }

  test("a chain read is one reader: no numPartitions, and hintRange is only declared") {
    assert(mainSources.collect { case (file, text) if text.contains("numPartitions") => file } === Nil)
    val hintRange = """(def\s+)?hintRange\(""".r
    val uses = mainSources.flatMap { case (file, text) =>
      hintRange.findAllMatchIn(text).map(m => (file, m.group(1) != null)).toSeq
    }
    assert(uses === Seq(("graft/sources/BlockFetcher.scala", true)))
  }

  test("streaming/StreamingFinality.scala holds one flatMapGroupsWithState") {
    val text = mainSources.toMap.apply("graft/streaming/StreamingFinality.scala")
    assert("flatMapGroupsWithState".r.findAllMatchIn(text).size === 1)
  }

  test("graft/Snapshot.scala alone keys snapshots by mtime and writes their _SUCCESS marker") {
    assert(mainSources.collect { case (file, text) if text.contains(".lastModified") => file } ===
      Seq("graft/Snapshot.scala"))
    val successWrite = """Files\.write\w*\([^)]*"_SUCCESS"""".r
    assert(mainSources.collect {
      case (file, text) if successWrite.findFirstIn(text).isDefined => file
    } === Seq("graft/Snapshot.scala"))
  }
}
