package graft.sink

import java.sql.{Connection, SQLException}

import org.apache.spark.sql.types._

import graft.model.ChType
import graft.model.ChType._

/** Target-database dialect for [[JdbcMultiTableSink]].
  *
  * The sink's batch shape (route/cast → write tables → cursor last) is
  * engine-independent; what varies is identifier quoting, DDL type names,
  * table-creation syntax, whether point DELETEs are cheap enough for the
  * replace-on-PK idempotent write, and per-connection session settings.
  *
  * Two dialects ship: [[DerbyDialect]] (the embedded test target, and a
  * reasonable portable-ANSI default) and [[ClickHouseDialect]] (the engine
  * the reference loads into — `/root/reference/src/loader.rs:49-60`,
  * `src/main.rs:268-276`).
  */
trait SqlDialect extends Serializable {

  def name: String

  /** Quote an identifier (`cursor` is a reserved word in most dialects). */
  def quote(ident: String): String

  /** DDL type for a column. `chType` — the catalog's declared ClickHouse
    * type — wins when present so engines with a native type system get an
    * exact round-trip; `sparkType` is the fallback for frames without a
    * catalog entry. */
  def columnType(chType: Option[ChType], sparkType: DataType): String

  /** CREATE TABLE statement. `pk` is the sink's replace/locality key (a
    * GROUP key with duplicate rows — never a uniqueness constraint). */
  def createTableSql(table: String, cols: Seq[(String, String)], pk: Seq[String]): String

  /** Statements to run after CREATE TABLE (e.g. a PK lookup index). */
  def postCreateSql(table: String, pk: Seq[String]): Seq[String] = Nil

  /** Cursor-table columns (name → DDL type), reference `loader.rs:34-40`. */
  def cursorColumns: Seq[(String, String)]

  /** CREATE TABLE for the CURSOR table specifically. The cursor write path
    * is insert-only everywhere ("we are constantly inserting the cursor and
    * use the latest of them to recover", reference `README.md:9-11`), so a
    * dialect may model the replace-on-duplicates storage natively — see
    * [[ClickHouseDialect]]'s ReplacingMergeTree override. Default: the same
    * generic DDL as data tables, keyed (id, block_num) for the recovery
    * scan. */
  def cursorTableSql(table: String, cols: Seq[(String, String)]): String =
    createTableSql(table, cols, Seq("id", "block_num"))

  /** true → the replace-on-PK write (DELETE pk range + re-insert, one
    * transaction per partition) is used for exactly-once-effective output.
    * false → plain batched INSERTs, at-least-once on retry — the engines
    * where DELETE is an async mutation (ClickHouse) match the reference's
    * own delivery semantics here. */
  def supportsDeleteOnPk: Boolean

  /** `SET key = value` statements issued on every new connection. */
  def sessionSettings: Map[String, String] = Map.empty

  /** The exact statements [[initConnection]] runs (pure, for specs). */
  final def initStatements: Seq[String] =
    sessionSettings.toSeq.sortBy(_._1).map { case (k, v) => s"SET $k = $v" }

  def initConnection(conn: Connection): Unit =
    initStatements.foreach { sql =>
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    }

  /** Whether a CREATE failure means "already exists" and is safe to ignore
    * (engines without IF NOT EXISTS). */
  def ignorableCreateError(e: SQLException): Boolean = false

  /** LIMIT-1 clause for the cursor-recovery point query. */
  def limitOneClause: String = "LIMIT 1"
}

/** Apache Derby — the embedded engine the specs run against; also a decent
  * portable-ANSI baseline (BIGINT/DOUBLE/VARCHAR names, FETCH FIRST). */
object DerbyDialect extends SqlDialect {
  val name = "derby"

  def quote(ident: String): String = "\"" + ident + "\""

  def columnType(chType: Option[ChType], sparkType: DataType): String =
    sparkType match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType | ByteType => "SMALLINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case d: DecimalType => s"DECIMAL(${math.min(d.precision, 31)},${d.scale})"
      case TimestampType => "TIMESTAMP"
      case DateType => "DATE"
      case _ => "VARCHAR(4000)"
    }

  def createTableSql(table: String, cols: Seq[(String, String)], pk: Seq[String]): String =
    s"CREATE TABLE ${quote(table)} (${cols.map { case (n, t) => s"${quote(n)} $t" }.mkString(", ")})"

  /** The replace-on-PK deletes must be point lookups, not table scans that
    * grow with accumulated rows (PK is a GROUP key with duplicates, so an
    * index — not a PRIMARY KEY constraint). */
  override def postCreateSql(table: String, pk: Seq[String]): Seq[String] =
    Seq(s"CREATE INDEX ${quote(s"ix_${table}_pk")} ON ${quote(table)} (${pk.map(quote).mkString(", ")})")

  def cursorColumns: Seq[(String, String)] = Seq(
    "id" -> "VARCHAR(256)", "cursor" -> "VARCHAR(1024)",
    "block_num" -> "BIGINT", "block_id" -> "VARCHAR(256)")

  val supportsDeleteOnPk = true

  /** Derby: X0Y32 = object already exists (no IF NOT EXISTS support). */
  override def ignorableCreateError(e: SQLException): Boolean = e.getSQLState == "X0Y32"

  override val limitOneClause: String = "FETCH FIRST 1 ROWS ONLY"
}

/** ClickHouse — the reference's target (`loader.rs`, `table_info.rs`).
  *
  * - Type names are the exact reverse of [[graft.model.ChType.parse]], so a
  *   catalog discovered FROM ClickHouse generates DDL that ClickHouse
  *   parses back to the identical type (round-trip pinned in the spec).
  * - `CREATE TABLE IF NOT EXISTS … ENGINE = MergeTree ORDER BY (pk)`:
  *   MergeTree by default — the PK is a GROUP key with legitimate duplicate
  *   rows, so ReplacingMergeTree (which collapses same-key rows) would be
  *   wrong; callers fronting a dedup engine can override `engine`.
  * - Delivery is plain batched INSERTs, at-least-once on retry — the same
  *   contract as the reference's async inserters (`loader.rs:49-60`); a
  *   DELETE here would be an async ALTER mutation, not a transaction.
  * - Session settings come from the JDBC URL's query pairs, mirroring the
  *   reference's `client.with_option(k, v)` per URL pair
  *   (`main.rs:273-275`) — e.g. `?async_insert=1&wait_for_async_insert=0`
  *   buffers inserts server-side like the reference's `with_period(15 s)`.
  */
final case class ClickHouseDialect(
    override val sessionSettings: Map[String, String] = Map.empty,
    engine: String = "MergeTree") extends SqlDialect {
  val name = "clickhouse"

  def quote(ident: String): String = "`" + ident + "`"

  def columnType(chType: Option[ChType], sparkType: DataType): String =
    ClickHouseDialect.chName(chType.getOrElse(ClickHouseDialect.chTypeOf(sparkType)))

  def createTableSql(table: String, cols: Seq[(String, String)], pk: Seq[String]): String = {
    val order = if (pk.isEmpty) "tuple()" else pk.map(quote).mkString("(", ", ", ")")
    s"CREATE TABLE IF NOT EXISTS ${quote(table)} " +
      s"(${cols.map { case (n, t) => s"${quote(n)} $t" }.mkString(", ")}) " +
      s"ENGINE = $engine ORDER BY $order"
  }

  /** block_num is u64 in the reference's Cursor row (`loader.rs:34-40`). */
  def cursorColumns: Seq[(String, String)] = Seq(
    "id" -> "String", "cursor" -> "String",
    "block_num" -> "UInt64", "block_id" -> "String")

  /** The reference's "replace on duplicates" cursor persistence
    * (`README.md:9-11`) modeled natively: `ReplacingMergeTree(block_num)
    * ORDER BY (id)` keeps, after background merges, exactly the max-version
    * (latest block_num) row per cursor id. Merges are EVENTUAL, so the
    * sink's recovery query still orders by block_num and takes 1 — the
    * read is correct whether or not the collapse has run (the spec pins
    * that invariance); the engine merely guarantees the table does not
    * grow forever under constant cursor inserts. */
  override def cursorTableSql(table: String, cols: Seq[(String, String)]): String =
    s"CREATE TABLE IF NOT EXISTS ${quote(table)} " +
      s"(${cols.map { case (n, t) => s"${quote(n)} $t" }.mkString(", ")}) " +
      s"ENGINE = ReplacingMergeTree(${quote("block_num")}) ORDER BY (${quote("id")})"

  val supportsDeleteOnPk = false
}

object ClickHouseDialect {

  /** Build a dialect from a ClickHouse JDBC URL, treating every query pair
    * as a session setting — the reference applies URL pairs the same way
    * (`main.rs:273-275`). `jdbc:clickhouse://host:8123/db?async_insert=1`
    * → `SET async_insert = 1` on each connection. Pairs are URL-decoded
    * (a `%2C`-escaped list value must reach `SET` as a literal comma, not
    * the escape), and a malformed escape fails LOUDLY here rather than
    * surfacing as a cryptic ClickHouse `SET` parse error at first commit. */
  def fromUrl(url: String): ClickHouseDialect = {
    def dec(s: String, role: String): String =
      try java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"malformed %-escape in ClickHouse URL $role '$s' (url: $url)", e)
      }
    val qIdx = url.indexOf('?')
    if (qIdx < 0) ClickHouseDialect()
    else {
      val pairs = url.substring(qIdx + 1).split("&").toSeq
        .filter(_.nonEmpty)
        .map { p =>
          p.split("=", 2) match {
            case Array(k, v) => dec(k, "key") -> dec(v, "value")
            case Array(k) => dec(k, "key") -> "1"
          }
        }
      ClickHouseDialect(sessionSettings = pairs.toMap)
    }
  }

  /** ClickHouse DDL name for a ChType — the exact reverse of
    * [[graft.model.ChType.parse]]. */
  def chName(t: ChType): String = t match {
    case ChString => "String"
    case ChFixedString(n) => s"FixedString($n)"
    case ChUInt8 => "UInt8"
    case ChUInt16 => "UInt16"
    case ChUInt32 => "UInt32"
    case ChUInt64 => "UInt64"
    case ChUInt128 => "UInt128"
    case ChUInt256 => "UInt256"
    case ChInt8 => "Int8"
    case ChInt16 => "Int16"
    case ChInt32 => "Int32"
    case ChInt64 => "Int64"
    case ChInt128 => "Int128"
    case ChInt256 => "Int256"
    case ChFloat32 => "Float32"
    case ChFloat64 => "Float64"
    case ChBool => "Bool"
    case ChDateTime => "DateTime"
    case ChDate => "Date"
    case ChDecimal(p, s) => s"Decimal($p, $s)"
    case ChNullable(inner) => s"Nullable(${chName(inner)})"
    case ChLowCardinality(inner) => s"LowCardinality(${chName(inner)})"
  }

  /** Spark type → ChType for columns without a catalog declaration (the
    * sink's meta columns, permissive-mode frames and undeclared DDL). */
  def chTypeOf(dt: DataType): ChType = dt match {
    case LongType => ChInt64
    case IntegerType => ChInt32
    case ShortType => ChInt16
    case ByteType => ChInt8
    case DoubleType => ChFloat64
    case FloatType => ChFloat32
    case BooleanType => ChBool
    case TimestampType => ChDateTime
    case DateType => ChDate
    case d: DecimalType => ChDecimal(d.precision, d.scale)
    case _ => ChString
  }
}
