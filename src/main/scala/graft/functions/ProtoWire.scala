package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Protobuf WIRE-FORMAT codec for the `DatabaseChanges` payload (operator
  * O8) — the message the reference decodes out of each block's `Any.value`
  * bytes (`/root/reference/src/loader.rs:127-130`).
  *
  * No protobuf runtime exists on this classpath, so this implements the
  * public protobuf wire encoding directly (varint / length-delimited fields,
  * unknown fields skipped, last-scalar-wins) for the one schema the sink
  * needs — the public `sf.substreams.sink.database.v1` messages (used by the
  * reference via the `substreams-database-change` crate; field shape visible
  * in its test fixtures, `/root/reference/src/loader.rs:373-390`):
  *
  * {{{
  * message DatabaseChanges { repeated TableChange table_changes = 1; }
  * message TableChange {
  *   string table = 1;
  *   oneof primary_key { string pk = 2; CompositePrimaryKey composite_pk = 6; }
  *   uint64 ordinal = 3;
  *   Operation operation = 4;           // UNSET=0 CREATE=1 UPDATE=2 DELETE=3
  *   repeated Field fields = 5;
  * }
  * message CompositePrimaryKey { map<string,string> keys = 1; }
  * message Field { string name = 1; string new_value = 2; string old_value = 3; }
  * }}}
  *
  * The decode runs as a codegen'd Catalyst expression over a BINARY column —
  * distributed, no driver involvement; malformed bytes yield NULL
  * (permissive lane, like the cast matrix) rather than failing the task.
  * ProtoWireSpec pins the byte layout against hand-derived golden vectors so
  * the encoder/decoder pair cannot drift off the public wire spec together.
  */
object ProtoWire {

  /** ARRAY<STRUCT<...>> produced by [[pb_decode_changes]]: one row per
    * TableChange, `pk` NULL when the oneof carried a composite (or nothing),
    * `fields` in payload order with old/new values. */
  val fieldStruct: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("new_value", StringType, nullable = false),
    StructField("old_value", StringType, nullable = false)))

  val changeStruct: StructType = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("pk", StringType, nullable = true),
    StructField("composite_pk", MapType(StringType, StringType), nullable = false),
    StructField("ordinal", LongType, nullable = false),
    StructField("operation", IntegerType, nullable = false),
    StructField("fields", ArrayType(fieldStruct), nullable = false)))

  val decodedType: ArrayType = ArrayType(changeStruct)

  /** Decode a DatabaseChanges payload into ARRAY<STRUCT> (NULL if malformed). */
  def pb_decode_changes(payload: Column): Column =
    ColumnBridge.column(PbDecodeChanges(ColumnBridge.expression(payload)))

  /** Encode ONE TableChange (wrapped in a DatabaseChanges) from columns:
    * handy for fixtures and round-trip tests. A multi-change payload is the
    * byte concatenation of single-change payloads — protobuf defines
    * concatenation of messages as merge, and repeated fields concatenate. */
  def pb_encode_change(table: Column, pk: Column, ordinal: Column,
      operation: Column, fields: Column): Column =
    ColumnBridge.column(PbEncodeChange(
      ColumnBridge.expression(table), ColumnBridge.expression(pk),
      ColumnBridge.expression(ordinal), ColumnBridge.expression(operation),
      ColumnBridge.expression(fields)))

  // ---- wire primitives -----------------------------------------------------
  // private[graft]: the gRPC envelope codec (sources/EnvelopeWire.scala)
  // and the `.spkg` reader (sources/Spkg.scala) read with these — one
  // protobuf reader for payloads, envelopes and packages.

  private[graft] final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var res = 0L
      while (shift < 64) {
        if (pos >= end) throw Malformed
        val b = buf(pos); pos += 1
        res |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return res
        shift += 7
      }
      throw Malformed
    }
    def bytes(n: Int): (Int, Int) = {
      // `n > end - pos` (not `pos + n > end`): a hostile length varint near
      // Int.MaxValue would overflow the addition and slip past the guard
      if (n < 0 || n > end - pos) throw Malformed
      val r = (pos, pos + n); pos += n; r
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => bytes(8)
      case 2 => bytes(varint().toInt)
      case 5 => bytes(4)
      case _ => throw Malformed
    }
  }

  private[graft] object Malformed extends RuntimeException("malformed protobuf") {
    override def fillInStackTrace(): Throwable = this
  }

  private def utf8(buf: Array[Byte], from: Int, until: Int): UTF8String =
    UTF8String.fromBytes(buf, from, until - from)

  // ---- decode --------------------------------------------------------------

  /** Null on malformed input; otherwise ARRAY<changeStruct> as catalyst data. */
  def decodeChanges(bytes: Array[Byte]): GenericArrayData =
    decodeChanges(bytes, 0, bytes.length)

  /** [[decodeChanges]] of the payload at `buf[from, until)`, read in place:
    * the strings it returns point into `buf`. */
  def decodeChanges(buf: Array[Byte], from: Int, until: Int): GenericArrayData =
    try {
      val r = new Reader(buf, from, until)
      val changes = ArrayBuffer.empty[InternalRow]
      while (r.hasMore) {
        val tag = r.varint()
        if ((tag >>> 3) == 1 && (tag & 7) == 2) {
          val (s, e) = r.bytes(r.varint().toInt)
          changes += decodeTableChange(buf, s, e)
        } else r.skip((tag & 7).toInt)
      }
      new GenericArrayData(changes.toArray[Any])
    } catch { case Malformed => null }

  private def decodeTableChange(buf: Array[Byte], start: Int, end: Int): InternalRow = {
    val r = new Reader(buf, start, end)
    var table: UTF8String = UTF8String.EMPTY_UTF8
    var pk: UTF8String = null
    val pkKeys = ArrayBuffer.empty[UTF8String]
    val pkVals = ArrayBuffer.empty[UTF8String]
    var ordinal = 0L
    var operation = 0
    val fields = ArrayBuffer.empty[InternalRow]
    while (r.hasMore) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => val (s, e) = r.bytes(r.varint().toInt); table = utf8(buf, s, e)
        case (2, 2) => // oneof arm: last one wins, clearing the other arm
          val (s, e) = r.bytes(r.varint().toInt)
          pk = utf8(buf, s, e); pkKeys.clear(); pkVals.clear()
        case (6, 2) =>
          val (s, e) = r.bytes(r.varint().toInt)
          pk = null
          decodeCompositePk(buf, s, e, pkKeys, pkVals)
        case (3, 0) => ordinal = r.varint()
        case (4, 0) => operation = r.varint().toInt
        case (5, 2) => val (s, e) = r.bytes(r.varint().toInt); fields += decodeField(buf, s, e)
        case (_, w) => r.skip(w)
      }
    }
    new GenericInternalRow(Array[Any](
      table, pk,
      new ArrayBasedMapData(
        new GenericArrayData(pkKeys.toArray[Any]),
        new GenericArrayData(pkVals.toArray[Any])),
      ordinal, operation, new GenericArrayData(fields.toArray[Any])))
  }

  private def decodeCompositePk(buf: Array[Byte], start: Int, end: Int,
      keys: ArrayBuffer[UTF8String], vals: ArrayBuffer[UTF8String]): Unit = {
    val r = new Reader(buf, start, end)
    while (r.hasMore) {
      val tag = r.varint()
      if ((tag >>> 3) == 1 && (tag & 7) == 2) { // map entry message
        val (s, e) = r.bytes(r.varint().toInt)
        var k: UTF8String = UTF8String.EMPTY_UTF8
        var v: UTF8String = UTF8String.EMPTY_UTF8
        val er = new Reader(buf, s, e)
        while (er.hasMore) {
          val etag = er.varint()
          ((etag >>> 3).toInt, (etag & 7).toInt) match {
            case (1, 2) => val (ks, ke) = er.bytes(er.varint().toInt); k = utf8(buf, ks, ke)
            case (2, 2) => val (vs, ve) = er.bytes(er.varint().toInt); v = utf8(buf, vs, ve)
            case (_, w) => er.skip(w)
          }
        }
        keys += k; vals += v
      } else r.skip((tag & 7).toInt)
    }
  }

  private def decodeField(buf: Array[Byte], start: Int, end: Int): InternalRow = {
    val r = new Reader(buf, start, end)
    var name = UTF8String.EMPTY_UTF8
    var nv = UTF8String.EMPTY_UTF8
    var ov = UTF8String.EMPTY_UTF8
    while (r.hasMore) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => val (s, e) = r.bytes(r.varint().toInt); name = utf8(buf, s, e)
        case (2, 2) => val (s, e) = r.bytes(r.varint().toInt); nv = utf8(buf, s, e)
        case (3, 2) => val (s, e) = r.bytes(r.varint().toInt); ov = utf8(buf, s, e)
        case (_, w) => r.skip(w)
      }
    }
    new GenericInternalRow(Array[Any](name, nv, ov))
  }

  // ---- encode --------------------------------------------------------------

  private[graft] def writeVarint(out: ArrayBuffer[Byte], value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    out += v.toByte
  }

  private[graft] def writeLenDelim(out: ArrayBuffer[Byte], field: Int, payload: Array[Byte]): Unit = {
    writeVarint(out, (field << 3) | 2); writeVarint(out, payload.length.toLong)
    out ++= payload
  }

  private def writeString(out: ArrayBuffer[Byte], field: Int, s: UTF8String): Unit =
    writeLenDelim(out, field, s.getBytes)

  /** DatabaseChanges with one TableChange; proto3 defaults (0 / "") are
    * omitted, like prost's encoder, so golden bytes line up. `pk` null →
    * oneof unset. `fields` map iterates in column order (name → new_value,
    * old_value = ""). */
  def encodeChange(table: UTF8String, pk: UTF8String, ordinal: Long,
      operation: Int, fields: MapData): Array[Byte] = {
    val tc = ArrayBuffer.empty[Byte]
    if (table.numBytes() > 0) writeString(tc, 1, table)
    if (pk != null) writeString(tc, 2, pk) // oneof set, even when empty
    if (ordinal != 0L) { writeVarint(tc, (3 << 3) | 0); writeVarint(tc, ordinal) }
    if (operation != 0) { writeVarint(tc, (4 << 3) | 0); writeVarint(tc, operation.toLong) }
    if (fields != null) {
      val ks = fields.keyArray(); val vs = fields.valueArray()
      var i = 0
      while (i < fields.numElements()) {
        val f = ArrayBuffer.empty[Byte]
        val name = ks.getUTF8String(i); val nv = vs.getUTF8String(i)
        if (name.numBytes() > 0) writeString(f, 1, name)
        if (nv != null && nv.numBytes() > 0) writeString(f, 2, nv)
        writeLenDelim(tc, 5, f.toArray)
        i += 1
      }
    }
    val out = ArrayBuffer.empty[Byte]
    writeLenDelim(out, 1, tc.toArray)
    out.toArray
  }
}

/** BINARY → ARRAY<STRUCT> decode of a DatabaseChanges payload. */
case class PbDecodeChanges(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ProtoWire.decodedType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    ProtoWire.decodeChanges(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      org.apache.spark.sql.catalyst.util.GenericArrayData r =
        graft.functions.ProtoWire.decodeChanges($b);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }""")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** (table, pk, ordinal, operation, fields MAP<STRING,STRING>) → BINARY
  * DatabaseChanges payload with a single TableChange. Fixture/test-side
  * only (real payloads arrive encoded), so CodegenFallback is fine — the
  * hot decode path has full codegen. */
case class PbEncodeChange(table: Expression, pk: Expression, ordinal: Expression,
    operation: Expression, fields: Expression) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(table, pk, ordinal, operation, fields)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val t = table.eval(input).asInstanceOf[UTF8String]
    val p = pk.eval(input).asInstanceOf[UTF8String] // null = oneof unset
    val o = ordinal.eval(input).asInstanceOf[java.lang.Number]
    val op = operation.eval(input).asInstanceOf[java.lang.Number]
    val f = fields.eval(input).asInstanceOf[MapData]
    ProtoWire.encodeChange(
      if (t == null) UTF8String.EMPTY_UTF8 else t, p,
      if (o == null) 0L else o.longValue(),
      if (op == null) 0 else op.intValue(), f)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(table = cs(0), pk = cs(1), ordinal = cs(2), operation = cs(3), fields = cs(4))
}
