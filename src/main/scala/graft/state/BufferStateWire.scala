package graft.state

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import graft.functions.ProtoWire
import graft.model.{BlockScoped, ChangeRec, Clock, FieldKV}
import graft.state.FinalityBuffer.BufferState

/** [[BufferState]] as protobuf wire bytes: the finality operator's state
  * value ([[graft.streaming.StreamingFinality]]), written with the repo's
  * own wire primitives ([[ProtoWire]]), not Java serialization, so the bytes
  * in a checkpoint do not depend on class versions. The schema:
  *
  * {{{
  * message BufferState { repeated BlockScoped buffer = 1; }
  * message BlockScoped { Clock clock = 1; string cursor = 2;
  *   int64 final_block_height = 3; Changes changes = 4; }
  * message Clock { string id = 1; int64 number = 2; Timestamp ts = 3; }
  * message Timestamp { int64 seconds = 1; int32 nanos = 2; } // google.protobuf
  * message Changes { repeated ChangeRec change = 1; }
  * message ChangeRec { string table = 1; string pk = 2; Entries composite_pk = 3;
  *   Fields fields = 4; bool null = 15; }
  * message Entries { repeated Entry entry = 1; }
  * message Entry { string key = 1; string value = 2; }
  * message Fields { repeated FieldKV field = 1; }
  * message FieldKV { string name = 1; string new_value = 2; string old_value = 3;
  *   bool null = 15; }
  * }}}
  *
  * Every value round-trips exactly, nulls included: a string or message
  * field is written iff it is not null (an empty string is written, with
  * length 0), so an absent field decodes to null; a collection travels in a
  * wrapper message, so a null collection (absent) differs from an empty one,
  * and a null element of one sets the element's `null` flag.
  * Numbers are always written. Map entries keep the map's iteration order.
  */
object BufferStateWire {

  def encode(state: BufferState): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    state.buffer.foreach(b => message(out, 1, block(b)))
    out.toArray
  }

  def decode(bytes: Array[Byte]): BufferState = {
    val buffer = Vector.newBuilder[BlockScoped]
    fields(bytes, 0, bytes.length) { (r, field, wire) =>
      if (field == 1 && wire == 2) { val (s, e) = sub(r); buffer += readBlock(bytes, s, e) }
      else r.skip(wire)
    }
    BufferState(buffer.result())
  }

  // ---- encode --------------------------------------------------------------

  private def block(b: BlockScoped): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    if (b.clock != null) message(out, 1, clock(b.clock))
    string(out, 2, b.cursor)
    number(out, 3, b.finalBlockHeight)
    if (b.changes != null) {
      val cs = ArrayBuffer.empty[Byte]
      b.changes.foreach(c => message(cs, 1, if (c == null) nullElement else change(c)))
      message(out, 4, cs.toArray)
    }
    out.toArray
  }

  private def clock(c: Clock): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    string(out, 1, c.id)
    number(out, 2, c.number)
    if (c.ts != null) {
      val ts = ArrayBuffer.empty[Byte]
      number(ts, 1, Math.floorDiv(c.ts.getTime, 1000L))
      number(ts, 2, c.ts.getNanos.toLong)
      message(out, 3, ts.toArray)
    }
    out.toArray
  }

  private def change(c: ChangeRec): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    string(out, 1, c.table)
    string(out, 2, c.pk)
    if (c.compositePk != null) {
      val es = ArrayBuffer.empty[Byte]
      c.compositePk.foreach { case (k, v) =>
        val e = ArrayBuffer.empty[Byte]
        string(e, 1, k); string(e, 2, v)
        message(es, 1, e.toArray)
      }
      message(out, 3, es.toArray)
    }
    if (c.fields != null) {
      val fs = ArrayBuffer.empty[Byte]
      c.fields.foreach { f =>
        if (f == null) message(fs, 1, nullElement)
        else {
          val kv = ArrayBuffer.empty[Byte]
          string(kv, 1, f.name); string(kv, 2, f.newValue); string(kv, 3, f.oldValue)
          message(fs, 1, kv.toArray)
        }
      }
      message(out, 4, fs.toArray)
    }
    out.toArray
  }

  /** A null `ChangeRec` or `FieldKV` element: its message with only the
    * `null` flag set. */
  private final val NullField = 15
  private def nullElement: Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    number(out, NullField, 1L)
    out.toArray
  }

  private def message(out: ArrayBuffer[Byte], field: Int, payload: Array[Byte]): Unit =
    ProtoWire.writeLenDelim(out, field, payload)

  private def string(out: ArrayBuffer[Byte], field: Int, s: String): Unit =
    if (s != null) ProtoWire.writeLenDelim(out, field, s.getBytes(StandardCharsets.UTF_8))

  private def number(out: ArrayBuffer[Byte], field: Int, v: Long): Unit = {
    ProtoWire.writeVarint(out, (field.toLong << 3) | 0)
    ProtoWire.writeVarint(out, v)
  }

  // ---- decode --------------------------------------------------------------

  /** Calls `each(reader, field, wireType)` for every field of the message in
    * `buf[start, end)`; `each` consumes the field's value. */
  private def fields(buf: Array[Byte], start: Int, end: Int)(
      each: (ProtoWire.Reader, Int, Int) => Unit): Unit = {
    val r = new ProtoWire.Reader(buf, start, end)
    while (r.hasMore) {
      val tag = r.varint()
      each(r, (tag >>> 3).toInt, (tag & 7).toInt)
    }
  }

  private def sub(r: ProtoWire.Reader): (Int, Int) = r.bytes(r.varint().toInt)
  private def str(buf: Array[Byte], r: ProtoWire.Reader): String = {
    val (s, e) = sub(r)
    new String(buf, s, e - s, StandardCharsets.UTF_8)
  }

  private def readBlock(buf: Array[Byte], start: Int, end: Int): BlockScoped = {
    var clock: Clock = null
    var cursor: String = null
    var finalHeight = 0L
    var changes: Seq[ChangeRec] = null
    fields(buf, start, end) { (r, field, wire) => (field, wire) match {
      case (1, 2) => val (s, e) = sub(r); clock = readClock(buf, s, e)
      case (2, 2) => cursor = str(buf, r)
      case (3, 0) => finalHeight = r.varint()
      case (4, 2) =>
        val (s, e) = sub(r)
        val cs = Vector.newBuilder[ChangeRec]
        fields(buf, s, e) { (cr, f, w) =>
          if (f == 1 && w == 2) { val (a, b) = sub(cr); cs += readChange(buf, a, b) } else cr.skip(w)
        }
        changes = cs.result()
      case (_, w) => r.skip(w)
    } }
    BlockScoped(clock, cursor, finalHeight, changes)
  }

  private def readClock(buf: Array[Byte], start: Int, end: Int): Clock = {
    var id: String = null
    var number = 0L
    var ts: Timestamp = null
    fields(buf, start, end) { (r, field, wire) => (field, wire) match {
      case (1, 2) => id = str(buf, r)
      case (2, 0) => number = r.varint()
      case (3, 2) =>
        val (s, e) = sub(r)
        var seconds = 0L
        var nanos = 0
        fields(buf, s, e) { (tr, f, w) => (f, w) match {
          case (1, 0) => seconds = tr.varint()
          case (2, 0) => nanos = tr.varint().toInt
          case _ => tr.skip(w)
        } }
        ts = new Timestamp(seconds * 1000L)
        ts.setNanos(nanos)
      case (_, w) => r.skip(w)
    } }
    Clock(id, number, ts)
  }

  private def readChange(buf: Array[Byte], start: Int, end: Int): ChangeRec = {
    var table: String = null
    var pk: String = null
    var compositePk: Map[String, String] = null
    var fieldList: Seq[FieldKV] = null
    var isNull = false
    fields(buf, start, end) { (r, field, wire) => (field, wire) match {
      case (1, 2) => table = str(buf, r)
      case (2, 2) => pk = str(buf, r)
      case (3, 2) =>
        val (s, e) = sub(r)
        val m = Map.newBuilder[String, String]
        fields(buf, s, e) { (er, f, w) =>
          if (f == 1 && w == 2) {
            val (a, b) = sub(er)
            var k: String = null
            var v: String = null
            fields(buf, a, b) { (kr, kf, kw) => (kf, kw) match {
              case (1, 2) => k = str(buf, kr)
              case (2, 2) => v = str(buf, kr)
              case _ => kr.skip(kw)
            } }
            m += k -> v
          } else er.skip(w)
        }
        compositePk = m.result()
      case (4, 2) =>
        val (s, e) = sub(r)
        val fs = Vector.newBuilder[FieldKV]
        fields(buf, s, e) { (fr, f, w) =>
          if (f == 1 && w == 2) { val (a, b) = sub(fr); fs += readField(buf, a, b) } else fr.skip(w)
        }
        fieldList = fs.result()
      case (NullField, 0) => isNull = r.varint() != 0
      case (_, w) => r.skip(w)
    } }
    if (isNull) null else ChangeRec(table, pk, compositePk, fieldList)
  }

  private def readField(buf: Array[Byte], start: Int, end: Int): FieldKV = {
    var name, newValue, oldValue: String = null
    var isNull = false
    fields(buf, start, end) { (r, field, wire) => (field, wire) match {
      case (1, 2) => name = str(buf, r)
      case (2, 2) => newValue = str(buf, r)
      case (3, 2) => oldValue = str(buf, r)
      case (NullField, 0) => isNull = r.varint() != 0
      case (_, w) => r.skip(w)
    } }
    if (isNull) null else FieldKV(name, newValue, oldValue)
  }
}
