package graft.model

import org.apache.spark.sql.types._

/** ClickHouse column-type system, re-expressed for Spark.
  *
  * The reference discovers each table's `information_schema.columns.data_type`
  * strings and parses them into a `ColumnType` enum, stripping parameters like
  * `FixedString(40)` (reference `src/table_info.rs:13-38, 170-196`). String
  * values are then cast to the column's type at the sink boundary
  * (`src/table_info.rs:73-167`).
  *
  * Divergences from the reference (deliberate, documented in SURVEY §1.2):
  *  - `Date`, `Nullable(T)`, `LowCardinality(T)`, `Decimal(p,s)` are
  *    `unimplemented!` panics in the reference; we support them.
  *  - `Int256` is parsed with an unsigned parser in the reference (negative
  *    values panic, `src/table_info.rs:136-139`); we parse signed correctly.
  *  - unsigned widths map to the next-wider Spark signed type (Spark has no
  *    unsigned integers): UInt8→Short, UInt16→Int, UInt32→Long,
  *    UInt64→Decimal(20,0).
  *  - 128/256-bit lanes exceed Decimal(38) at the extremes (i128::MIN has 39
  *    digits), so they travel as a canonical decimal string plus an
  *    order-preserving bits/8-byte binary (graft.functions.U256).
  */
sealed trait ChType {
  /** Spark type the typed projection casts to. */
  def sparkType: DataType
}

object ChType {
  case object ChString extends ChType { val sparkType: DataType = StringType }
  /** Zero-padded fixed-width byte string (reference table_info.rs:140-146). */
  final case class ChFixedString(n: Int) extends ChType { val sparkType: DataType = BinaryType }
  case object ChUInt8 extends ChType { val sparkType: DataType = ShortType }
  case object ChUInt16 extends ChType { val sparkType: DataType = IntegerType }
  case object ChUInt32 extends ChType { val sparkType: DataType = LongType }
  case object ChUInt64 extends ChType { val sparkType: DataType = DecimalType(20, 0) }
  case object ChUInt128 extends ChType { val sparkType: DataType = StringType }
  case object ChUInt256 extends ChType { val sparkType: DataType = StringType }
  case object ChInt8 extends ChType { val sparkType: DataType = ByteType }
  case object ChInt16 extends ChType { val sparkType: DataType = ShortType }
  case object ChInt32 extends ChType { val sparkType: DataType = IntegerType }
  case object ChInt64 extends ChType { val sparkType: DataType = LongType }
  case object ChInt128 extends ChType { val sparkType: DataType = StringType }
  case object ChInt256 extends ChType { val sparkType: DataType = StringType }
  case object ChFloat32 extends ChType { val sparkType: DataType = FloatType }
  case object ChFloat64 extends ChType { val sparkType: DataType = DoubleType }
  case object ChBool extends ChType { val sparkType: DataType = BooleanType }
  /** RFC-3339 string → second-precision timestamp (table_info.rs:151-156). */
  case object ChDateTime extends ChType { val sparkType: DataType = TimestampType }
  case object ChDate extends ChType { val sparkType: DataType = DateType }
  final case class ChDecimal(p: Int, s: Int) extends ChType {
    val sparkType: DataType = DecimalType(p, s)
  }
  final case class ChNullable(inner: ChType) extends ChType {
    def sparkType: DataType = inner.sparkType
  }
  final case class ChLowCardinality(inner: ChType) extends ChType {
    // dictionary encoding is a storage concern; Parquet/Tungsten do it free
    def sparkType: DataType = inner.sparkType
  }

  private val WithParams = """^([A-Za-z]+)\((.*)\)$""".r

  /** Parse a ClickHouse `data_type` string, e.g. "UInt64", "FixedString(40)",
    * "Nullable(Int32)", "LowCardinality(String)", "Decimal(38, 10)".
    * Mirrors the strum EnumString + parameter-strip deserializer of the
    * reference (table_info.rs:170-196), but keeps the parameters it drops.
    */
  def parse(s: String): ChType = s.trim match {
    case "String" => ChString
    case "UInt8" => ChUInt8
    case "UInt16" => ChUInt16
    case "UInt32" => ChUInt32
    case "UInt64" => ChUInt64
    case "UInt128" => ChUInt128
    case "UInt256" => ChUInt256
    case "Int8" => ChInt8
    case "Int16" => ChInt16
    case "Int32" => ChInt32
    case "Int64" => ChInt64
    case "Int128" => ChInt128
    case "Int256" => ChInt256
    case "Float32" => ChFloat32
    case "Float64" => ChFloat64
    case "Bool" | "Boolean" => ChBool
    case "DateTime" => ChDateTime
    case "Date" | "Date32" => ChDate
    case "Decimal" => ChDecimal(38, 10)
    case WithParams("FixedString", n) => ChFixedString(n.trim.toInt)
    case WithParams("DateTime", _) => ChDateTime // DateTime('UTC') etc.
    case WithParams("Nullable", inner) => ChNullable(parse(inner))
    case WithParams("LowCardinality", inner) => ChLowCardinality(parse(inner))
    case WithParams("Decimal", ps) =>
      ps.split(",").map(_.trim.toInt) match {
        case Array(p, sc) => ChDecimal(p, sc)
        case Array(p) => ChDecimal(p, 0)
        case _ => throw new IllegalArgumentException(s"bad Decimal params: $s")
      }
    case other =>
      throw new IllegalArgumentException(s"unsupported ClickHouse type: $other")
  }

  /** Whether the column takes NULL: `Nullable(T)`, also inside
    * `LowCardinality`. */
  def isNullable(t: ChType): Boolean = t match {
    case ChLowCardinality(inner) => isNullable(inner)
    case ChNullable(_) => true
    case _ => false
  }
}

/** Column metadata — reference `ColumnInfo` (table_info.rs:198-202). */
final case class ChColumn(name: String, chType: ChType) {
  def toStructField: StructField =
    StructField(name, chType.sparkType, nullable = true)
}

/** Per-table schema — reference `DynamicTable` (table_info.rs:46-57).
  * Column order = sorted by name, as the reference sorts both the discovery
  * query (ORDER BY column_name) and again in main.rs:183.
  */
final case class ChTable(name: String, columns: Seq[ChColumn]) {
  val sortedColumns: Seq[ChColumn] = columns.sortBy(_.name)
  def schema: StructType = StructType(sortedColumns.map(_.toStructField))
}
