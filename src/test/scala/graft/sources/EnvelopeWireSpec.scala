package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import io.netty.buffer.{ByteBuf, Unpooled}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions.ProtoWire
import graft.model.{BlockMsg, ChColumn, ChTable}
import graft.model.ChType._
import graft.pipeline.ChangePipeline

/** Pins the gRPC transport's wire protocol (VERDICT r11 #2) to the PUBLIC
  * protobuf wire encoding of the reference's RPC messages
  * (`src/pb/sf.substreams.rpc.v2.rs:46-100`): golden bytes hand-derived
  * from the wire spec so encoder and decoder cannot drift together, the
  * decoder's source rows against [[EnvelopeWireSpec.toInternalRow]], plus
  * the failure taxonomy — truncation is retryable IO, malformed is fatal.
  */
class EnvelopeWireSpec extends SparkSpec {
  import EnvelopeWireSpec._

  private def cfg = ChainSource.config(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
    java.util.Map.of("totalBlocks", "100", "reorgEvery", "10", "reorgDepth", "2",
      "finalityLag", "5")))

  test("golden bytes: Response{block_undo_signal} matches the hand-derived wire layout") {
    // BlockUndoSignal { last_valid_block = BlockRef{id="b7", number=7},
    //                   last_valid_cursor = <opaque token> } at oneof tag 4.
    // The token is the server-minted opaque cursor of the undo's own
    // position (seq 10) — 11 payload bytes → 15 base64url chars.
    val tok = EnvelopeWire.mintCursor(10L)
    val tokBytes = tok.getBytes("UTF-8")
    assert(tokBytes.length === 15, "opaque cursor is 15 base64url chars")
    val undo = ChainSource.Envelope(10L, isUndo = true, height = -1L, fork = -1L,
      lastValid = 7L, finalHeight = -1L, tsMicros = -1L, lastValidCursor = tok)
    val expected: Array[Byte] =
      Array[Int](
        0x22, 10 + tokBytes.length,               // Response field 4, len 25
        0x0A, 0x06,                               //   BlockRef, len 6
        0x0A, 0x02, 'b', '7',                     //     id = "b7"
        0x10, 0x07,                               //     number = 7
        0x12, tokBytes.length) .map(_.toByte) ++  //   last_valid_cursor, len 15
        tokBytes
    assert(EnvelopeWire.encodeResponse(undo).toSeq === expected.toSeq)
    // and the decode gives the undo row, resuming after its cursor
    assert(decoded(10L, expected) === ((external(toInternalRow(undo)), tok)))
  }

  test("opaque cursor codec: mint → resolve round-trips; tampering is fatal server-side") {
    for (seq <- Seq(0L, 1L, 7L, 1000L, Long.MaxValue / 3)) {
      val tok = EnvelopeWire.mintCursor(seq)
      assert(EnvelopeWire.cursorSeq(tok) === seq)
      // opacity: no legacy cursor-<seq> shape, no decimal seq in the clear
      assert(!tok.matches("cursor-\\d+") && !tok.contains(seq.toString + "-"))
    }
    // deterministic: a retried serve mints the identical token
    assert(EnvelopeWire.mintCursor(42L) === EnvelopeWire.mintCursor(42L))
    // tampered/garbage tokens are rejected loudly (fatal, not retryable)
    intercept[EnvelopeWire.MalformedFrameException] {
      EnvelopeWire.cursorSeq("not base64!!")
    }
    val tok = EnvelopeWire.mintCursor(9L)
    val tampered = (if (tok.head == 'A') "B" else "A") + tok.tail
    intercept[EnvelopeWire.MalformedFrameException] {
      EnvelopeWire.cursorSeq(tampered)
    }
  }

  test("resume-AFTER: a Request's opaque cursor wins over start_block and resolves one PAST it") {
    // consumed up to position 7 → return its token verbatim → server
    // resumes at 8, regardless of the start_block_num also in the Request
    val req = EnvelopeWire.encodeRequestRange(5L, 20L, EnvelopeWire.mintCursor(7L), "m")
    val rr = EnvelopeWire.decodeRequestRange(req)
    assert(rr === EnvelopeWire.RequestRange(8L, 20L, EnvelopeWire.mintCursor(7L)))
    // cursorless: start AT start_block_num (the fresh-start path)
    val fresh = EnvelopeWire.decodeRequestRange(
      EnvelopeWire.encodeRequestRange(5L, 20L, "", "m"))
    assert(fresh.start === 5L && fresh.cursor === "")
    // a fabricated token is rejected before any block is served
    intercept[EnvelopeWire.MalformedFrameException] {
      EnvelopeWire.decodeRequestRange(
        EnvelopeWire.encodeRequestRange(5L, 20L, "cursor-7", "m"))
    }
  }

  test("golden bytes: SessionInit and Request layouts") {
    // Response{session: SessionInit{trace_id="t1"}} — field 1, nested field 1
    assert(EnvelopeWire.encodeSession("t1").toSeq ===
      Array[Int](0x0A, 0x04, 0x0A, 0x02, 't', '1').map(_.toByte).toSeq)
    assert(EnvelopeWire.decodeResponse(-1L, EnvelopeWire.encodeSession("t1")) ===
      EnvelopeWire.SessionArm("t1"))
    // Request{start_block_num=5, stop_block_num=6, output_module="m"}
    val req = EnvelopeWire.encodeRequestRange(5L, 6L, "", "m")
    assert(req.toSeq ===
      Array[Int](0x08, 0x05, 0x18, 0x06, 0x32, 0x01, 'm').map(_.toByte).toSeq)
    assert(EnvelopeWire.decodeRequestRange(req) === EnvelopeWire.RequestRange(5L, 6L, ""))
    // start 0: proto3 omits the default-0 start_block_num
    val fromZero = EnvelopeWire.encodeRequestRange(0L, 1L, "", "")
    assert(fromZero.toSeq === Array[Int](0x18, 0x01).map(_.toByte).toSeq)
    assert(EnvelopeWire.decodeRequestRange(fromZero) === EnvelopeWire.RequestRange(0L, 1L, ""))
  }

  test("round-trip: every synthetic envelope crosses the wire bit-exactly") {
    val c = cfg
    for (seq <- 0L until 40L) {
      val e = ChainSource.envelopeAt(seq, c)
      // the decoder's row is the row the envelope stands for, undos included
      assert(decoded(seq, EnvelopeWire.encodeResponse(e)) ===
        ((external(toInternalRow(e)), if (e.isUndo) e.lastValidCursor else e.cursor)), s"seq $seq")
    }
    assert((0L until 40L).count(ChainSource.envelopeAt(_, c).isUndo) === 3)
  }

  test("a Response of any DatabaseChanges decodes to exactly its row: two tables, a composite key, old values") {
    val (row, cursor) = decoded(5L, twoTableResponse)
    assert(cursor === "opaque-17")
    assert(row === twoTableRow)
  }

  test("an empty DatabaseChanges decodes to a data row with no changes") {
    val (row, _) = decoded(6L, response(changes = Array.emptyByteArray))
    assert(row === Row(6L, "data",
      Row(Row("0xbeef", 17L, new Timestamp(1700000000123L)), "opaque-17", 15L, Seq.empty), null))
  }

  test("a decoded Response with two tables routes through ChangePipeline to both") {
    import spark.implicits._
    val (row, _) = decoded(5L, twoTableResponse)
    val blocks = spark.createDataFrame(java.util.List.of(row), ChainSource.schema)
      .as[BlockMsg].flatMap(_.data)
    val catalog = Seq(
      ChTable("transfers", Seq(ChColumn("amount", ChInt64), ChColumn("to", ChString))),
      ChTable("balances", Seq(ChColumn("balance", ChInt64), ChColumn("owner", ChString),
        ChColumn("token", ChString))))
    val out = ChangePipeline.process(blocks, catalog)
    assert(out("transfers").collect().toSeq === Seq(Row(17L, "0xbeef", "opaque-17", 10L, "bob")))
    assert(out("balances").collect().toSeq ===
      Seq(Row(17L, "0xbeef", "opaque-17", 42L, "alice", "eth")))
  }

  test("data envelope carries a REAL DatabaseChanges payload under MapModuleOutput/Any") {
    val e = ChainSource.envelopeAt(3L, cfg)
    val bytes = EnvelopeWire.encodeResponse(e)
    assert((bytes(0) & 0xFF) === 0x1A, "Response oneof tag 3 (block_scoped_data)")
    // the type_url travels verbatim
    val s = new String(bytes, "ISO-8859-1")
    assert(s.contains(EnvelopeWire.ChangesTypeUrl))
    assert(s.contains("graft_out"), "MapModuleOutput.name")
  }

  test("a data message without a server-minted cursor is malformed, not retryable") {
    // the cursor is opaque (the client cannot verify its structure), but a
    // data message MUST carry one — its absence is a broken server
    val e = ChainSource.envelopeAt(4L, cfg).copy(cursor = "")
    intercept[EnvelopeWire.MalformedFrameException] {
      EnvelopeWire.decodeResponse(4L, EnvelopeWire.encodeResponse(e))
    }
  }

  test("garbage and empty Response bytes are malformed") {
    intercept[EnvelopeWire.MalformedFrameException] {
      EnvelopeWire.decodeResponse(1L, Array[Byte](0x22, 0x7F, 0x01)) // lies about length
    }
    intercept[EnvelopeWire.MalformedFrameException] {
      EnvelopeWire.decodeResponse(1L, Array.emptyByteArray) // no arm at all
    }
    intercept[EnvelopeWire.MalformedFrameException] {
      EnvelopeWire.decodeRequestRange(Array[Byte](0x08, 0x05)) // [5, 0) is empty
    }
  }

  test("progress and debug-snapshot arms decode as skipped; fatal_error carries its reason") {
    // Response{progress: ModulesProgress{}}, an empty progress report
    assert(EnvelopeWire.decodeResponse(0L, Array[Byte](0x12, 0x00)) === EnvelopeWire.SkippedArm(2))
    assert(EnvelopeWire.decodeResponse(0L, EnvelopeWire.encodeProgress()) === EnvelopeWire.SkippedArm(2))
    // debug_snapshot_data (10) with a body, debug_snapshot_complete (11)
    assert(EnvelopeWire.decodeResponse(3L, Array[Byte](0x52, 0x02, 0x0A, 0x00)) ===
      EnvelopeWire.SkippedArm(10))
    assert(EnvelopeWire.decodeResponse(3L, Array[Byte](0x5A, 0x00)) === EnvelopeWire.SkippedArm(11))
    // fatal_error (5): Error{module = 1, reason = 2}, golden bytes
    val fatal = EnvelopeWire.encodeFatalError("m", "boom")
    assert(fatal.toSeq === (Seq[Byte](0x2A, 0x09, 0x0A, 0x01, 'm'.toByte, 0x12, 0x04) ++ "boom".getBytes(UTF_8)))
    assert(EnvelopeWire.decodeResponse(5L, fatal) === EnvelopeWire.FatalErrorArm("m", "boom"))
    // a progress arm that lies about its length is still malformed
    intercept[EnvelopeWire.MalformedFrameException] {
      EnvelopeWire.decodeResponse(0L, Array[Byte](0x12, 0x05, 0x00))
    }
  }

  test("framing taxonomy: truncation is IOException (retryable), bad flag/length fatal") {
    // the production deframer: a frame split across DATA frames yields
    // nothing until its last byte arrives; a stream that ends mid-frame is
    // the fetcher's Eof, an IOException that Backoff retries
    def bytesOf(frame: ByteBuf): Array[Byte] = {
      val b = new Array[Byte](frame.readableBytes()); frame.readBytes(b); b
    }
    val good = bytesOf(GrpcChain.grpcFrame("hello".getBytes))
    val acc = new GrpcChain.FrameAccumulator
    acc.append(Unpooled.wrappedBuffer(good.take(3)))
    assert(acc.next() === None, "header incomplete")
    acc.append(Unpooled.wrappedBuffer(good.slice(3, good.length - 2)))
    assert(acc.next() === None, "payload incomplete")
    acc.append(Unpooled.wrappedBuffer(good.takeRight(2)))
    assert(acc.next().map(new String(_)) === Some("hello"))
    assert(acc.next() === None, "nothing left")
    // unknown flag → fatal
    val flagged = good.clone(); flagged(0) = 0x42
    val badFlag = new GrpcChain.FrameAccumulator
    badFlag.append(Unpooled.wrappedBuffer(flagged))
    intercept[EnvelopeWire.MalformedFrameException] { badFlag.next() }
    // hostile length → fatal before any allocation
    val hostile = Array[Byte](0x00, 0x7F.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
    val badLength = new GrpcChain.FrameAccumulator
    badLength.append(Unpooled.wrappedBuffer(hostile))
    intercept[EnvelopeWire.MalformedFrameException] { badLength.next() }
  }
}

object EnvelopeWireSpec {

  /** The decoder's oracle: an [[ChainSource.Envelope]] as the BlockMsg row
    * it stands for — one `blocks` change with `height` and `fork` fields,
    * block id `b{height}-f{fork}` — with the cursors verbatim. */
  def toInternalRow(e: ChainSource.Envelope): InternalRow = {
    if (e.isUndo) {
      new GenericInternalRow(Array[Any](
        e.seq, UTF8String.fromString("undo"), null,
        new GenericInternalRow(Array[Any](e.lastValid,
          UTF8String.fromString(e.lastValidCursor)))))
    } else {
      val fields = new GenericArrayData(Array[Any](
        new GenericInternalRow(Array[Any](
          UTF8String.fromString("height"), UTF8String.fromString(e.height.toString),
          UTF8String.fromString(""))),
        new GenericInternalRow(Array[Any](
          UTF8String.fromString("fork"), UTF8String.fromString(e.fork.toString),
          UTF8String.fromString("")))))
      val change = new GenericInternalRow(Array[Any](
        UTF8String.fromString("blocks"), UTF8String.fromString(""),
        new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
          new GenericArrayData(Array.empty[Any])), fields))
      val clock = new GenericInternalRow(Array[Any](
        UTF8String.fromString(s"b${e.height}-f${e.fork}"), e.height, e.tsMicros))
      val data = new GenericInternalRow(Array[Any](
        clock, UTF8String.fromString(e.cursor),
        e.finalHeight, new GenericArrayData(Array[Any](change))))
      new GenericInternalRow(Array[Any](e.seq, UTF8String.fromString("data"), data, null))
    }
  }

  /** A source row as a Row (Catalyst maps have no equality). */
  def external(row: InternalRow): Row =
    CatalystTypeConverters.convertToScala(row, ChainSource.schema).asInstanceOf[Row]

  /** A data or undo Response → its row and the cursor to resume after. */
  def decoded(seq: Long, bytes: Array[Byte]): (Row, String) =
    EnvelopeWire.decodeResponse(seq, bytes) match {
      case EnvelopeWire.RowArm(row, cursor) => (external(row), cursor)
      case other => throw new AssertionError(s"not a row: $other")
    }

  private def bytes(write: ArrayBuffer[Byte] => Unit): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]; write(out); out.toArray
  }
  private def msg(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
  private def sub(field: Int, payload: Array[Byte]): Array[Byte] =
    bytes(ProtoWire.writeLenDelim(_, field, payload))
  private def str(field: Int, s: String): Array[Byte] = sub(field, s.getBytes(UTF_8))
  private def uint(field: Int, v: Long): Array[Byte] =
    bytes { b => ProtoWire.writeVarint(b, (field << 3).toLong); ProtoWire.writeVarint(b, v) }

  /** Response{BlockScopedData} at block 17 (id `0xbeef`, 2023-11-14
    * 22:13:20.123 UTC, final height 15, cursor `opaque-17`) whose Any
    * carries `changes` as a DatabaseChanges payload. */
  def response(changes: Array[Byte]): Array[Byte] = {
    val any = msg(str(1, EnvelopeWire.ChangesTypeUrl), sub(2, changes))
    val clock = msg(str(1, "0xbeef"), uint(2, 17L),
      sub(3, msg(uint(1, 1700000000L), uint(2, 123000000L))))
    sub(3, msg(sub(1, msg(str(1, "db_out"), sub(2, any))), sub(2, clock),
      str(3, "opaque-17"), uint(4, 15L)))
  }

  /** Two TableChanges for two tables: `transfers` keyed by `pk`, with an
    * old value, an ordinal and an UPDATE operation, and `balances` keyed by
    * a composite PK. */
  val twoTableResponse: Array[Byte] = response(msg(
    sub(1, msg(str(1, "transfers"), str(2, "tx1"), uint(3, 7L), uint(4, 2L),
      sub(5, msg(str(1, "amount"), str(2, "10"), str(3, "5"))),
      sub(5, msg(str(1, "to"), str(2, "bob"))))),
    sub(1, msg(str(1, "balances"),
      sub(6, msg(sub(1, msg(str(1, "owner"), str(2, "alice"))),
        sub(1, msg(str(1, "token"), str(2, "eth"))))),
      sub(5, msg(str(1, "balance"), str(2, "42")))))))

  val twoTableRow: Row = Row(5L, "data",
    Row(Row("0xbeef", 17L, new Timestamp(1700000000123L)), "opaque-17", 15L, Seq(
      Row("transfers", "tx1", Map.empty, Seq(Row("amount", "10", "5"), Row("to", "bob", ""))),
      Row("balances", null, Map("owner" -> "alice", "token" -> "eth"),
        Seq(Row("balance", "42", ""))))), null)
}
