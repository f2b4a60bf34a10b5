package graft.sources

import scala.collection.mutable.ArrayBuffer

import graft.functions.ProtoWire
import graft.functions.ProtoWire.Reader

/** `.spkg` package reader — parity with the reference's `read_package`
  * (`/root/reference/src/main.rs:312-315`): the binary file handed to the
  * client is a protobuf `sf.substreams.v1.Package`; the client decodes it
  * once at startup and ships the module graph in the stream request.
  *
  * Decoded with [[graft.functions.ProtoWire]]'s wire-format reader (no
  * protobuf runtime on this classpath), covering the operationally relevant
  * subset (field numbers from the public proto, mirrored by the reference's
  * generated types `src/pb/sf.substreams.v1.rs:209-229,4-36`):
  *
  * {{{
  * message Package  { uint64 version = 5; Modules modules = 6;
  *                    string network = 9; string sink_module = 11; }
  * message Modules  { repeated Module modules = 1; }
  * message Module   { string name = 1; oneof kind { KindMap map = 2;
  *                    KindStore store = 3; } Output output = 7;
  *                    uint64 initial_block = 8; }
  * message KindMap  { string output_type = 1; }
  * message Output   { string type = 1; }
  * }}}
  *
  * Driver-side, once per run — a config read, not a dataflow operator.
  */
object Spkg {

  final case class ModuleInfo(name: String, kind: String, outputType: String,
      initialBlock: Long)
  final case class PackageInfo(version: Long, network: String, sinkModule: String,
      modules: Seq[ModuleInfo])

  def readFile(path: String): PackageInfo =
    decodePackage(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** Truncated or malformed bytes raise IllegalArgumentException. */
  def decodePackage(bytes: Array[Byte]): PackageInfo =
    try decode(bytes)
    catch { case ProtoWire.Malformed =>
      throw new IllegalArgumentException("truncated or malformed spkg") }

  private def decode(bytes: Array[Byte]): PackageInfo = {
    val r = new Reader(bytes, 0, bytes.length)
    var version = 0L
    var network = ""
    var sinkModule = ""
    var modules = Seq.empty[ModuleInfo]
    while (r.hasMore) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (5, 0) => version = r.varint()
        case (6, 2) => val (s, e) = r.bytes(r.varint().toInt); modules = decodeModules(bytes, s, e)
        case (9, 2) => val (s, e) = r.bytes(r.varint().toInt); network = str(bytes, s, e)
        case (11, 2) => val (s, e) = r.bytes(r.varint().toInt); sinkModule = str(bytes, s, e)
        case (_, w) => r.skip(w)
      }
    }
    PackageInfo(version, network, sinkModule, modules)
  }

  private def decodeModules(buf: Array[Byte], start: Int, end: Int): Seq[ModuleInfo] = {
    val r = new Reader(buf, start, end)
    val out = ArrayBuffer.empty[ModuleInfo]
    while (r.hasMore) {
      val tag = r.varint()
      if ((tag >>> 3) == 1 && (tag & 7) == 2) {
        val (s, e) = r.bytes(r.varint().toInt)
        out += decodeModule(buf, s, e)
      } else r.skip((tag & 7).toInt)
    }
    out.toSeq
  }

  private def decodeModule(buf: Array[Byte], start: Int, end: Int): ModuleInfo = {
    val r = new Reader(buf, start, end)
    var name = ""; var kind = "unset"; var outputType = ""; var initialBlock = 0L
    while (r.hasMore) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => val (s, e) = r.bytes(r.varint().toInt); name = str(buf, s, e)
        case (2, 2) => // KindMap { output_type = 1 }
          val (s, e) = r.bytes(r.varint().toInt)
          kind = "map"
          nestedString(buf, s, e, 1).foreach(outputType = _)
        case (3, 2) => r.bytes(r.varint().toInt); kind = "store"
        case (7, 2) => // Output { type = 1 } — wins over KindMap's copy
          val (s, e) = r.bytes(r.varint().toInt)
          nestedString(buf, s, e, 1).foreach(outputType = _)
        case (8, 0) => initialBlock = r.varint()
        case (_, w) => r.skip(w)
      }
    }
    ModuleInfo(name, kind, outputType, initialBlock)
  }

  /** First string field `field` inside a nested message, if present. */
  private def nestedString(buf: Array[Byte], start: Int, end: Int, field: Int): Option[String] = {
    val r = new Reader(buf, start, end)
    while (r.hasMore) {
      val tag = r.varint()
      if ((tag >>> 3) == field && (tag & 7) == 2) {
        val (s, e) = r.bytes(r.varint().toInt)
        return Some(str(buf, s, e))
      } else r.skip((tag & 7).toInt)
    }
    None
  }

  private def str(buf: Array[Byte], from: Int, until: Int): String =
    new String(buf, from, until - from, java.nio.charset.StandardCharsets.UTF_8)
}
