package graft.model

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.ChType._

class ColumnTypesSpec extends AnyFunSuite {

  test("plain type names parse to the documented Spark types") {
    val expect: Map[String, DataType] = Map(
      "String" -> StringType,
      "UInt8" -> ShortType,
      "UInt16" -> IntegerType,
      "UInt32" -> LongType,
      "UInt64" -> DecimalType(20, 0),
      "UInt128" -> StringType,
      "UInt256" -> StringType,
      "Int8" -> ByteType,
      "Int16" -> ShortType,
      "Int32" -> IntegerType,
      "Int64" -> LongType,
      "Int128" -> StringType,
      "Int256" -> StringType,
      "Float32" -> FloatType,
      "Float64" -> DoubleType,
      "Bool" -> BooleanType,
      "DateTime" -> TimestampType,
      "Date" -> DateType)
    expect.foreach { case (ch, dt) =>
      assert(ChType.parse(ch).sparkType === dt, s"for $ch")
    }
  }

  test("parameterized types keep their parameters") {
    assert(ChType.parse("FixedString(40)") === ChFixedString(40))
    assert(ChType.parse("Decimal(38, 10)") === ChDecimal(38, 10))
    assert(ChType.parse("Decimal(9)") === ChDecimal(9, 0))
    assert(ChType.parse("DateTime('UTC')") === ChDateTime)
  }

  test("wrapped types recurse") {
    assert(ChType.parse("Nullable(Int32)") === ChNullable(ChInt32))
    assert(ChType.parse("LowCardinality(String)") === ChLowCardinality(ChString))
    assert(ChType.parse("Nullable(FixedString(8))") === ChNullable(ChFixedString(8)))
    assert(ChType.parse("Nullable(Int32)").sparkType === IntegerType)
    assert(ChType.isNullable(ChType.parse("Nullable(Int32)")))
    assert(!ChType.isNullable(ChType.parse("Int32")))
  }

  test("LowCardinality(Nullable(T)) is nullable; LowCardinality(T) is not") {
    assert(ChType.isNullable(ChType.parse("LowCardinality(Nullable(String))")))
    assert(!ChType.isNullable(ChType.parse("LowCardinality(String)")))
  }

  test("unknown types are rejected") {
    intercept[IllegalArgumentException](ChType.parse("Enum8('a' = 1)"))
    intercept[IllegalArgumentException](ChType.parse(""))
  }

  test("table schema orders columns by name (reference sorts discovery + main)") {
    val t = ChTable("t", Seq(
      ChColumn("zeta", ChInt64),
      ChColumn("alpha", ChString),
      ChColumn("mid", ChFloat64)))
    assert(t.schema.fieldNames.toSeq === Seq("alpha", "mid", "zeta"))
    assert(t.schema === StructType(Seq(
      StructField("alpha", StringType),
      StructField("mid", DoubleType),
      StructField("zeta", LongType))))
  }
}
