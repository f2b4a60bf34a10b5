package graft.sink

import java.math.BigInteger
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.ChType._
import graft.model.{ChTable, ChType}

/** ClickHouse RowBinary row encoder — the exact bytes the reference's sink
  * puts on its insert socket.
  *
  * The reference streams every insert as RowBinary positional tuples: the
  * forked `SchemaInserter` serializes each `DynamicInsert` as a serde tuple
  * (`src/table_info.rs:73-167`) whose elements the clickhouse crate's
  * RowBinary serializer writes back-to-back, columns in SORTED column-name
  * order (discovery `ORDER BY column_name`, `src/table_info.rs:221-236`),
  * and the cursor row the same way in struct-field order
  * (`src/loader.rs:34-40`). RowBinary itself is ClickHouse's public format:
  *
  *  - String: LEB128 varint byte-length + UTF-8 bytes
  *  - FixedString(n): exactly n bytes — zero-padded, silently truncated
  *    (the reference writes `bytes[i]` for i < n, `table_info.rs:140-146`)
  *  - U?Int8/16/32/64/128/256: little-endian two's complement of the width
  *  - Float32/64: IEEE-754 bits, little-endian
  *  - Bool: one byte 0/1
  *  - DateTime: epoch SECONDS as 4 bytes LE (the reference parses RFC-3339
  *    and truncates `timestamp() as i32`, `table_info.rs:151-156`)
  *  - Date: days since epoch as UInt16 LE (reference `unimplemented!`;
  *    supported here — documented §1.2 divergence)
  *  - Nullable(T): flag byte (1 = NULL, then nothing; 0 then the value)
  *  - LowCardinality(T): plain T (dictionary encoding is server-side)
  *  - Decimal(p,s): the scaled unscaled-value as the narrowest CH decimal
  *    width for p (Int32/Int64/Int128/Int256 LE)
  *
  * Divergence (SURVEY §1.2, same stance as [[graft.cast.DynamicCast]]):
  * Int128/Int256 negatives encode correctly as two's complement — the
  * reference routes Int256 through an unsigned decimal parser and panics.
  *
  * Input values are the sink's canonical STRINGS (the reference encodes from
  * its `HashMap<String, String>`), so this composes directly with the
  * DynamicCast fields-map: `rowbinary_encode(fieldsMap, table)` yields the
  * full positional row as BINARY. Golden byte vectors are pinned in
  * RowBinarySpec; the `pipe_o13_rowbinary` lane replays the hex encoding in
  * the DuckDB oracle.
  */
object RowBinary {

  /** Column-API entry: MAP<STRING,STRING> fields → BINARY RowBinary row in
    * `table`'s sorted-column order. */
  def rowbinary_encode(fieldsMap: Column, table: ChTable): Column =
    ColumnBridge.column(RowBinaryEncode(ColumnBridge.expression(fieldsMap), table))

  /** Growable little-endian byte sink (driver- and executor-side; one per
    * row encode — rows are small, the array is right-sized on toBytes). */
  final class Buf(initial: Int = 64) {
    private var a = new Array[Byte](initial)
    private var n = 0
    private def ensure(k: Int): Unit =
      if (n + k > a.length) {
        val grown = new Array[Byte](math.max(a.length * 2, n + k))
        System.arraycopy(a, 0, grown, 0, n); a = grown
      }
    def byte(b: Int): Unit = { ensure(1); a(n) = b.toByte; n += 1 }
    def bytes(bs: Array[Byte]): Unit = { ensure(bs.length); System.arraycopy(bs, 0, a, n, bs.length); n += bs.length }
    /** `width` bytes of `v`, little-endian (sign bits beyond width dropped). */
    def intLE(v: Long, width: Int): Unit = {
      ensure(width)
      var i = 0
      while (i < width) { a(n + i) = ((v >>> (8 * i)) & 0xFF).toByte; i += 1 }
      n += width
    }
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  /** LEB128 unsigned varint — RowBinary's length prefix. */
  def writeVarint(out: Buf, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0L) { out.byte(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.byte((v & 0x7F).toInt)
  }

  def writeString(out: Buf, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    writeVarint(out, b.length.toLong)
    out.bytes(b)
  }

  /** Two's complement little-endian at exactly `width` bytes (BigInteger is
    * big-endian minimal — sign-extend then reverse). */
  def writeWideLE(out: Buf, v: BigInteger, width: Int): Unit = {
    val be = v.toByteArray // minimal two's complement, big-endian
    val pad: Byte = if (v.signum() < 0) 0xFF.toByte else 0
    var i = 0
    while (i < width) {
      val beIdx = be.length - 1 - i // LE position i = BE position from the end
      out.byte(if (beIdx >= 0) be(beIdx) else pad)
      i += 1
    }
  }

  /** Parse an unsigned integer of `bits` width, LOUDLY (advice r13): the
    * reference parses exact-width Rust types and panics out-of-range, so a
    * silent two's-complement wrap here would put corrupt bytes on the wire
    * where the reference fails the insert. Same IllegalArgumentException
    * taxonomy as Bool/Decimal. */
  private def parseUnsigned(v: String, bits: Int, t: ChType): BigInteger = {
    val b =
      try new BigInteger(v.trim)
      catch { case e: NumberFormatException =>
        throw new IllegalArgumentException(s"bad $t '$v'", e) }
    if (b.signum() < 0 || b.bitLength() > bits)
      throw new IllegalArgumentException(s"value '$v' out of range for $t [0, 2^$bits)")
    b
  }

  /** Parse a signed integer of `bits` width (two's complement range). */
  private def parseSigned(v: String, bits: Int, t: ChType): BigInteger = {
    val b =
      try new BigInteger(v.trim)
      catch { case e: NumberFormatException =>
        throw new IllegalArgumentException(s"bad $t '$v'", e) }
    // signed w-bit range: [-2^(w-1), 2^(w-1)); BigInteger.bitLength excludes
    // the sign bit, so both bounds collapse to bitLength <= bits-1, with the
    // one extra legal value -2^(w-1) (bitLength == bits-1 holds for it too)
    if (b.bitLength() > bits - 1)
      throw new IllegalArgumentException(s"value '$v' out of range for $t")
    b
  }

  private def parseEpochSeconds(s: String): Long = {
    val t = s.trim
    if (t.matches("-?[0-9]+"))
      t.toLong // already epoch seconds (the DynamicCast-canonical form)
    else
      try java.time.OffsetDateTime.parse(t).toEpochSecond // the reference's RFC-3339
      catch { case _: java.time.format.DateTimeParseException =>
        // "yyyy-MM-dd HH:mm:ss" (ClickHouse's own text form), taken as UTC
        java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .toEpochSecond(java.time.ZoneOffset.UTC)
      }
  }

  /** One value in RowBinary. `v == null` is only legal under Nullable,
    * which LowCardinality may wrap: `LowCardinality(Nullable(T))`. */
  def writeValue(out: Buf, t: ChType, v: String): Unit = t match {
    case ChLowCardinality(inner) => writeValue(out, inner, v)
    case ChNullable(inner) =>
      if (v == null) out.byte(1)
      else { out.byte(0); writeValue(out, inner, v) }
    case _ if v == null =>
      throw new IllegalArgumentException(s"NULL value for non-Nullable $t")
    case ChString => writeString(out, v)
    case ChFixedString(width) =>
      val b = v.getBytes(StandardCharsets.UTF_8)
      var i = 0
      while (i < width) { out.byte(if (i < b.length) b(i) else 0); i += 1 }
    // integer widths range-check BEFORE encoding (advice r13): the previous
    // parsers accepted e.g. "300" for UInt8 via Short.parseShort and wrote
    // the wrapped byte 0x2C — silent wire corruption where the reference
    // panics. Every lane now rejects out-of-range input loudly.
    case ChUInt8 => out.intLE(parseUnsigned(v, 8, t).longValue(), 1)
    case ChInt8 => out.intLE(java.lang.Byte.parseByte(v.trim).toLong, 1)
    case ChUInt16 => out.intLE(parseUnsigned(v, 16, t).longValue(), 2)
    case ChInt16 => out.intLE(java.lang.Short.parseShort(v.trim).toLong, 2)
    case ChUInt32 => out.intLE(parseUnsigned(v, 32, t).longValue(), 4)
    case ChInt32 => out.intLE(Integer.parseInt(v.trim).toLong, 4)
    case ChUInt64 => writeWideLE(out, parseUnsigned(v, 64, t), 8)
    case ChInt64 => out.intLE(java.lang.Long.parseLong(v.trim), 8)
    case ChUInt128 => writeWideLE(out, parseUnsigned(v, 128, t), 16)
    case ChInt128 => writeWideLE(out, parseSigned(v, 128, t), 16)
    case ChUInt256 => writeWideLE(out, parseUnsigned(v, 256, t), 32)
    case ChInt256 => writeWideLE(out, parseSigned(v, 256, t), 32)
    case ChFloat32 => out.intLE(java.lang.Float.floatToIntBits(v.trim.toFloat).toLong, 4)
    case ChFloat64 => out.intLE(java.lang.Double.doubleToLongBits(v.trim.toDouble), 8)
    case ChBool =>
      val b = v.trim.toLowerCase match {
        case "true" | "1" => 1
        case "false" | "0" => 0
        case other => throw new IllegalArgumentException(s"bad Bool '$other'")
      }
      out.byte(b)
    case ChDateTime =>
      // range-check like the integer lanes (advice r14): ClickHouse DateTime
      // is UInt32 epoch seconds (valid to 2106); silently wrapping values
      // outside [0, 2^32) would put corrupt bytes on the wire
      val e = parseEpochSeconds(v)
      if (e < 0L || e > 0xFFFFFFFFL)
        throw new IllegalArgumentException(
          s"value '$v' out of range for $t [1970-01-01, 2106-02-07)")
      out.intLE(e, 4)
    case ChDate => out.intLE(java.time.LocalDate.parse(v.trim).toEpochDay, 2)
    case ChDecimal(p, s) =>
      // setScale with no rounding mode throws ArithmeticException on excess
      // fractional digits — rethrow inside the encoder's documented
      // IllegalArgumentException taxonomy with the offending value (review
      // r13 finding; in-contract inputs are DynamicCast-canonical and exact)
      val unscaled =
        try new java.math.BigDecimal(v.trim).setScale(s).unscaledValue()
        catch { case e: ArithmeticException =>
          throw new IllegalArgumentException(
            s"value '$v' does not fit Decimal($p,$s) without rounding", e)
        }
      val width = if (p <= 9) 4 else if (p <= 18) 8 else if (p <= 38) 16 else 32
      writeWideLE(out, unscaled, width)
  }

  /** One table row: `table`'s columns in sorted-name order (the reference's
    * discovery ORDER BY), each value pulled from the string-valued map. */
  def encodeRow(table: ChTable, valueOf: String => String): Array[Byte] = {
    val out = new Buf()
    table.sortedColumns.foreach { c => writeValue(out, c.chType, valueOf(c.name)) }
    out.toBytes
  }

  /** The cursor row (reference `src/loader.rs:34-40`): struct-field order
    * `(id, cursor, block_num: UInt64, block_id)` — NOT name-sorted; derive
    * rows keep their declaration order. */
  def encodeCursor(id: String, cursor: String, blockNum: Long, blockId: String): Array[Byte] = {
    val out = new Buf()
    writeString(out, id)
    writeString(out, cursor)
    out.intLE(blockNum, 8)
    writeString(out, blockId)
    out.toBytes
  }

  // ---- decoder (round 14): the SERVER side of the wire ---------------------
  //
  // What a ClickHouse endpoint does with the insert body — needed by the
  // loopback HTTP fixture to actually SPEAK the format (decode, verify,
  // store) and by the sink's SELECT read-back. Inverse of writeValue over
  // the same §1.2 matrix, producing the canonical strings writeValue
  // accepts, so decode(encode(v)) == v for in-contract values (pinned in
  // RowBinarySpec).

  /** Mutable cursor over a byte buffer. */
  final class Reader(val buf: Array[Byte], var pos: Int) {
    def remaining: Int = buf.length - pos
    private[RowBinary] def need(n: Int): Unit =
      if (pos + n > buf.length)
        throw new IllegalArgumentException(
          s"truncated RowBinary: need $n bytes at $pos of ${buf.length}")
    def u8(): Int = { need(1); val v = buf(pos) & 0xFF; pos += 1; v }
    def longLE(width: Int): Long = {
      need(width)
      var v = 0L
      var i = width - 1
      while (i >= 0) { v = (v << 8) | (buf(pos + i) & 0xFFL); i -= 1 }
      pos += width
      v
    }
    def wideLE(width: Int, signed: Boolean): BigInteger = {
      need(width)
      val be = new Array[Byte](width)
      var i = 0
      while (i < width) { be(i) = buf(pos + width - 1 - i); i += 1 }
      pos += width
      if (signed) new BigInteger(be) else new BigInteger(1, be)
    }
    def bytes(n: Int): Array[Byte] = {
      need(n)
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      out
    }
  }

  def readVarint(r: Reader): Long = {
    var v = 0L
    var shift = 0
    while (shift < 64) {
      val b = r.u8()
      v |= (b & 0x7FL) << shift
      if ((b & 0x80) == 0) return v
      shift += 7
    }
    throw new IllegalArgumentException("varint longer than 64 bits")
  }

  /** One value off the wire as its canonical string (null under Nullable).
    * Sign-extension per type width matters: longLE is unsigned-raw, so
    * signed narrow types cast through the matching JVM width. */
  def readValue(r: Reader, t: ChType): String = t match {
    case ChNullable(inner) =>
      if (r.u8() == 1) null else readValue(r, inner)
    case ChString => new String(r.bytes(readVarint(r).toInt), StandardCharsets.UTF_8)
    case ChFixedString(width) =>
      val b = r.bytes(width)
      var n = width
      while (n > 0 && b(n - 1) == 0) n -= 1 // strip the zero padding
      new String(b, 0, n, StandardCharsets.UTF_8)
    case ChUInt8 => r.longLE(1).toString
    case ChInt8 => r.longLE(1).toByte.toString
    case ChUInt16 => r.longLE(2).toString
    case ChInt16 => r.longLE(2).toShort.toString
    case ChUInt32 => r.longLE(4).toString
    case ChInt32 => r.longLE(4).toInt.toString
    case ChUInt64 => r.wideLE(8, signed = false).toString
    case ChInt64 => r.longLE(8).toString
    case ChUInt128 => r.wideLE(16, signed = false).toString
    case ChInt128 => r.wideLE(16, signed = true).toString
    case ChUInt256 => r.wideLE(32, signed = false).toString
    case ChInt256 => r.wideLE(32, signed = true).toString
    case ChFloat32 => java.lang.Float.intBitsToFloat(r.longLE(4).toInt).toString
    case ChFloat64 => java.lang.Double.longBitsToDouble(r.longLE(8)).toString
    case ChBool => r.u8() match {
      case 0 => "false"
      case 1 => "true"
      case other => throw new IllegalArgumentException(s"bad Bool byte $other")
    }
    // epoch seconds, UNSIGNED (advice r14): DateTime is UInt32, valid to
    // 2106 — .toInt would render post-2038 epochs as negative strings
    case ChDateTime => r.longLE(4).toString
    case ChDate => java.time.LocalDate.ofEpochDay(r.longLE(2)).toString
    case ChDecimal(p, s) =>
      val width = if (p <= 9) 4 else if (p <= 18) 8 else if (p <= 38) 16 else 32
      new java.math.BigDecimal(r.wideLE(width, signed = true), s).toPlainString
    case ChLowCardinality(inner) => readValue(r, inner)
  }

  /** One row in the given column order → canonical strings. */
  def decodeRow(cols: Seq[ChType], r: Reader): Array[String] = {
    val out = new Array[String](cols.size)
    var i = 0
    cols.foreach { t => out(i) = readValue(r, t); i += 1 }
    out
  }

  /** A whole insert body in the given column order → rows. Trailing
    * garbage (a desynced stream) fails loudly. */
  def decodeRows(cols: Seq[ChType], body: Array[Byte]): Seq[Array[String]] = {
    val r = new Reader(body, 0)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    while (r.remaining > 0) rows += decodeRow(cols, r)
    rows.toSeq
  }

  /** Executor entry for codegen: MapData of UTF8String → row bytes. */
  def encodeFromMap(table: ChTable, fields: MapData): Array[Byte] = {
    val keys = fields.keyArray()
    val vals = fields.valueArray()
    val m = new java.util.HashMap[String, String](fields.numElements() * 2)
    var i = 0
    while (i < fields.numElements()) {
      val v = if (vals.isNullAt(i)) null else vals.getUTF8String(i).toString
      m.put(keys.getUTF8String(i).toString, v)
      i += 1
    }
    encodeRow(table, m.get)
  }
}

/** MAP<STRING,STRING> → BINARY RowBinary row. Codegen emits a static call
  * (the ChTable travels as a codegen reference object), so the expression
  * stays inside whole-stage codegen like the ProtoWire codec. */
case class RowBinaryEncode(child: Expression, table: ChTable) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    RowBinary.encodeFromMap(table, input.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("chTable", table, classOf[ChTable].getName)
    nullSafeCodeGen(ctx, ev, m =>
      s"${ev.value} = graft.sink.RowBinary.encodeFromMap($tableRef, $m);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
