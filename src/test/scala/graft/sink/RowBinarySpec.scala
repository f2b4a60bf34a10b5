package graft.sink

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.ChType._
import graft.model.{ChColumn, ChTable, ChType}

/** Golden byte vectors for the RowBinary encoder — hand-derived from the
  * ClickHouse RowBinary format spec, pinning the exact bytes the reference's
  * sink streams (`src/table_info.rs:73-167` serialize_tuple via the
  * RowBinary serializer; cursor row `src/loader.rs:34-40`). */
class RowBinarySpec extends SparkSpec {

  private def enc(t: ChType, v: String): String = {
    val out = new RowBinary.Buf()
    RowBinary.writeValue(out, t, v)
    out.toBytes.map(b => f"${b & 0xFF}%02x").mkString
  }

  test("String: LEB128 varint length + UTF-8 bytes") {
    assert(enc(ChString, "abc") === "03616263")
    assert(enc(ChString, "") === "00")
    // 300 chars: varint 300 = AC 02 (two bytes)
    assert(enc(ChString, "a" * 300) === "ac02" + "61" * 300)
    // multi-byte UTF-8: length is BYTES, not chars ("é" = C3 A9)
    assert(enc(ChString, "é") === "02c3a9")
  }

  test("FixedString(n): zero-padded, silently truncated (table_info.rs:140-146)") {
    assert(enc(ChFixedString(5), "ab") === "6162000000")
    assert(enc(ChFixedString(2), "abcdef") === "6162")
    assert(enc(ChFixedString(3), "") === "000000")
  }

  test("integer widths: little-endian two's complement") {
    assert(enc(ChUInt8, "255") === "ff")
    assert(enc(ChInt8, "-1") === "ff")
    assert(enc(ChUInt16, "65535") === "ffff")
    assert(enc(ChInt16, "-2") === "feff")
    assert(enc(ChUInt32, "4294967295") === "ffffffff")
    assert(enc(ChInt32, "1") === "01000000")
    assert(enc(ChInt32, "-1") === "ffffffff")
    assert(enc(ChUInt64, "18446744073709551615") === "ff" * 8)
    assert(enc(ChInt64, "-2") === "fe" + "ff" * 7)
    assert(enc(ChInt64, "1") === "01" + "00" * 7)
  }

  test("decoder: decode(encode(v)) == v across the §1.2 matrix (the server side of the wire)") {
    def roundTrip(t: ChType, v: String): String = {
      val out = new RowBinary.Buf()
      RowBinary.writeValue(out, t, v)
      val r = new RowBinary.Reader(out.toBytes, 0)
      val got = RowBinary.readValue(r, t)
      assert(r.remaining === 0, s"decoder must consume exactly the encoding of $t")
      got
    }
    assert(roundTrip(ChString, "héllo") === "héllo")
    assert(roundTrip(ChString, "") === "")
    assert(roundTrip(ChUInt8, "255") === "255")
    assert(roundTrip(ChInt8, "-128") === "-128")
    assert(roundTrip(ChUInt16, "65535") === "65535")
    assert(roundTrip(ChInt16, "-2") === "-2")
    assert(roundTrip(ChUInt32, "4294967295") === "4294967295")
    assert(roundTrip(ChInt32, "-1") === "-1")
    assert(roundTrip(ChUInt64, "18446744073709551615") === "18446744073709551615")
    assert(roundTrip(ChInt64, "-9223372036854775808") === "-9223372036854775808")
    assert(roundTrip(ChUInt128, "340282366920938463463374607431768211455")
      === "340282366920938463463374607431768211455")
    assert(roundTrip(ChInt128, "-1") === "-1")
    assert(roundTrip(ChUInt256, "115792089237316195423570985008687907853269984665640564039457584007913129639935")
      === "115792089237316195423570985008687907853269984665640564039457584007913129639935")
    assert(roundTrip(ChInt256, "-1") === "-1")
    assert(roundTrip(ChFloat32, "1.5") === "1.5")
    assert(roundTrip(ChFloat64, "-2.25") === "-2.25")
    assert(roundTrip(ChBool, "true") === "true")
    assert(roundTrip(ChBool, "false") === "false")
    assert(roundTrip(ChDateTime, "1672531200") === "1672531200")
    assert(roundTrip(ChDate, "2023-01-01") === "2023-01-01")
    assert(roundTrip(ChDecimal(9, 2), "12345.67") === "12345.67")
    assert(roundTrip(ChDecimal(20, 3), "-1.500") === "-1.500")
    assert(roundTrip(ChNullable(ChInt32), null) === null)
    assert(roundTrip(ChNullable(ChString), "x") === "x")
    assert(roundTrip(ChLowCardinality(ChString), "dict") === "dict")
    assert(roundTrip(ChLowCardinality(ChNullable(ChString)), null) === null)
    assert(roundTrip(ChLowCardinality(ChNullable(ChString)), "x") === "x")
    // FixedString: padding strips on decode (the lossy-by-design lane)
    assert(roundTrip(ChFixedString(5), "ab") === "ab")
    // whole rows in an explicit column order
    val cols = Seq[ChType](ChUInt64, ChString, ChBool)
    val buf = new RowBinary.Buf()
    Seq(("7", "alpha", "true"), ("8", "beta", "false")).foreach { case (a, b, c) =>
      RowBinary.writeValue(buf, cols(0), a)
      RowBinary.writeValue(buf, cols(1), b)
      RowBinary.writeValue(buf, cols(2), c)
    }
    val rows = RowBinary.decodeRows(cols, buf.toBytes)
    assert(rows.map(_.toSeq) === Seq(Seq("7", "alpha", "true"), Seq("8", "beta", "false")))
    // trailing garbage is loud, not a short row
    intercept[IllegalArgumentException] {
      RowBinary.decodeRows(cols, buf.toBytes :+ 0x05.toByte)
    }
  }

  test("out-of-range integers are rejected LOUDLY, never wrapped (advice r13)") {
    // the reference parses exact-width Rust types and panics on overflow;
    // a silent two's-complement wrap would corrupt wire bytes undetected
    intercept[IllegalArgumentException] { enc(ChUInt8, "300") }   // was 0x2C pre-fix
    intercept[IllegalArgumentException] { enc(ChUInt8, "-1") }
    intercept[IllegalArgumentException] { enc(ChUInt16, "65536") }
    intercept[IllegalArgumentException] { enc(ChUInt32, "4294967296") }
    intercept[IllegalArgumentException] { enc(ChUInt64, "-2") }
    intercept[IllegalArgumentException] { enc(ChUInt64, "18446744073709551616") }
    intercept[IllegalArgumentException] { enc(ChUInt128, "-1") }
    intercept[IllegalArgumentException] { enc(ChUInt256, "-1") }
    intercept[IllegalArgumentException] { enc(ChInt128, "2" + "0" * 45) } // > 2^127
    intercept[IllegalArgumentException] { enc(ChUInt8, "abc") }
    // boundary values still encode exactly
    assert(enc(ChUInt8, "0") === "00")
    assert(enc(ChInt128, "-170141183460469231731687303715884105728") === "00" * 15 + "80")
  }

  test("128/256-bit: LE limbs — and Int256 negatives encode (reference panics, §1.2)") {
    assert(enc(ChUInt128, "1") === "01" + "00" * 15)
    assert(enc(ChInt128, "-1") === "ff" * 16)
    // 2^256 - 1
    assert(enc(ChUInt256,
      "115792089237316195423570985008687907853269984665640564039457584007913129639935")
      === "ff" * 32)
    assert(enc(ChUInt256, "256") === "0001" + "00" * 30)
    // documented divergence: the reference's U256::from_dec_str unwrap
    // panics on a negative Int256; we emit correct two's complement
    assert(enc(ChInt256, "-1") === "ff" * 32)
  }

  test("floats: IEEE-754 bits little-endian") {
    assert(enc(ChFloat32, "1.5") === "0000c03f")
    assert(enc(ChFloat64, "-2.5") === "00000000000004c0")
  }

  test("Bool, DateTime (epoch seconds as 4 LE bytes), Date (UInt16 days)") {
    assert(enc(ChBool, "true") === "01")
    assert(enc(ChBool, "false") === "00")
    // 2021-01-01T00:00:00Z = 1609459200 = 0x5FEE6600
    assert(enc(ChDateTime, "2021-01-01T00:00:00Z") === "0066ee5f")
    assert(enc(ChDateTime, "1609459200") === "0066ee5f") // canonical digits form
    assert(enc(ChDateTime, "2021-01-01 00:00:00") === "0066ee5f") // CH text form, UTC
    assert(enc(ChDate, "1970-02-01") === "1f00") // day 31
  }

  test("DateTime is UInt32 (advice r14): post-2038 round-trips positive; out-of-range is loud") {
    def roundTrip(t: ChType, v: String): String = {
      val out = new RowBinary.Buf()
      RowBinary.writeValue(out, t, v)
      RowBinary.readValue(new RowBinary.Reader(out.toBytes, 0), t)
    }
    // 2106-01-01T00:00:00Z = 4291747200 > 2^31 — previously decoded negative
    assert(roundTrip(ChDateTime, "4291747200") === "4291747200")
    assert(roundTrip(ChDateTime, "4294967295") === "4294967295") // 2^32-1, the last second
    assert(roundTrip(ChDateTime, "2147483648") === "2147483648") // 2^31, first post-2038
    // encoder range check, same loud taxonomy as the integer widths
    intercept[IllegalArgumentException](enc(ChDateTime, "-1"))
    intercept[IllegalArgumentException](enc(ChDateTime, "4294967296")) // 2^32
    intercept[IllegalArgumentException](enc(ChDateTime, "1969-12-31T23:59:59Z"))
  }

  test("Nullable flag byte; Decimal as scaled int of the precision width") {
    assert(enc(ChNullable(ChInt32), null) === "01")
    assert(enc(ChNullable(ChInt32), "7") === "0007000000")
    // LowCardinality is plain T on the wire, so it may wrap Nullable
    assert(enc(ChLowCardinality(ChNullable(ChString)), null) === "01")
    assert(enc(ChLowCardinality(ChNullable(ChString)), "x") === "000178")
    assert(enc(ChDecimal(9, 2), "123.45") === "39300000") // 12345 = 0x3039, Int32
    assert(enc(ChDecimal(20, 0), "1") === "01" + "00" * 15) // p>18 → Int128
    intercept[IllegalArgumentException] { enc(ChInt32, null) }
    // excess fractional digits surface as the encoder's own taxonomy with
    // the value named, not a bare ArithmeticException (r13 review)
    val e = intercept[IllegalArgumentException] { enc(ChDecimal(9, 2), "123.456") }
    assert(e.getMessage.contains("123.456") && e.getMessage.contains("Decimal(9,2)"))
  }

  test("row: sorted-column order (the reference's discovery ORDER BY column_name)") {
    // declared out of order on purpose; encoded order must be b_key, a_val? no:
    // sorted names are [a_val, b_key, c_flag]
    val table = ChTable("t", Seq(
      ChColumn("c_flag", ChBool),
      ChColumn("a_val", ChString),
      ChColumn("b_key", ChUInt32)))
    val row = Map("a_val" -> "hi", "b_key" -> "513", "c_flag" -> "true")
    val hex = RowBinary.encodeRow(table, row.apply).map(b => f"${b & 0xFF}%02x").mkString
    // a_val "hi" = 02 68 69; b_key 513 = 01 02 00 00; c_flag = 01
    assert(hex === "026869" + "01020000" + "01")
  }

  test("cursor row: struct-field order (id, cursor, block_num UInt64, block_id)") {
    val hex = RowBinary.encodeCursor("id1", "cursor-5", 7L, "b7")
      .map(b => f"${b & 0xFF}%02x").mkString
    assert(hex === "03696431" + "08637572736f722d35" + "07" + "00" * 7 + "026237")
  }

  test("RowBinaryEncode expression: codegen path over a DataFrame map column") {
    val table = ChTable("t", Seq(
      ChColumn("name", ChString),
      ChColumn("num", ChUInt64),
      ChColumn("status", ChFixedString(2))))
    val df = spark.range(3).select(
      map(
        lit("name"), concat(lit("n"), col("id")),
        lit("num"), col("id").cast("string"),
        lit("status"), lit("O")).as("fields"))
    val got = df.select(lower(hex(RowBinary.rowbinary_encode(col("fields"), table))).as("h"))
      .collect().map(_.getString(0)).sorted
    // name "n0" = 02 6E 30; num 0 = 8x00; status "O" = 4F 00
    assert(got(0) === "026e30" + "00" * 8 + "4f00")
    assert(got(1) === "026e31" + "01" + "00" * 7 + "4f00")
    assert(got(2) === "026e32" + "02" + "00" * 7 + "4f00")
  }
}
