package graft.sink

import java.sql.{Connection, DriverManager, PreparedStatement, Types}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{BlockScoped, ChTable, ChType, CursorRow}

/** JDBC variant of the per-table micro-batch sink (operator O13) — the
  * database-loading role the reference fills with per-table ClickHouse
  * inserters (`/root/reference/src/loader.rs:49-80`; BASELINE "Structured
  * Streaming + JDBC/ClickHouse sink").
  *
  * Same `writeBatch` contract as [[MultiTableSink]]: route/cast each released
  * block's changes per table, write data, THEN the cursor row
  * (write-last ordering, `src/loader.rs:111-175`).
  *
  * Engine specifics live in [[SqlDialect]]. With the default [[DerbyDialect]]
  * (and any engine with transactional point DELETEs), delivery is
  * replace-on-PK — each partition deletes its PK range and re-inserts in one
  * transaction (batched, `batchSize` rows per round trip), so a re-delivered
  * batch overwrites itself instead of duplicating; with Spark's checkpoint
  * preventing cross-restart re-delivery this yields exactly-once-EFFECTIVE
  * output, strictly stronger than the reference's at-least-once inserts.
  * With [[ClickHouseDialect]] the sink issues plain batched INSERTs
  * (at-least-once on retry — DELETE is an async mutation there), matching
  * the reference's own delivery contract.
  *
  * Scale: writes run on the executors (one connection per partition per
  * table, like the reference's per-table async inserters); only the cursor
  * row and the DDL touch the driver. The embedded test target is Derby (on
  * the Spark classpath); any network JDBC URL works the same way.
  */
class JdbcMultiTableSink(
    catalog: Seq[ChTable],
    url: String,
    cursorId: String,
    pkCols: Map[String, Seq[String]] = Map.empty,
    batchSize: Int = 1000,
    isolation: Int = Connection.TRANSACTION_READ_COMMITTED,
    strict: Boolean = false,
    dialect: SqlDialect = DerbyDialect) extends Serializable {

  import JdbcMultiTableSink._

  val cursorTable = "graft_cursors"

  @transient @volatile private var schemaReady = false

  private def q(ident: String): String = dialect.quote(ident)

  /** foreachBatch body: write every table's typed rows, then the cursor
    * (batch shape shared with the parquet sink via [[SinkBatch]]). */
  def writeBatch(blocks: Dataset[BlockScoped], batchId: Long): Unit =
    SinkBatch.run(blocks, catalog, strict, onFrames = ensureSchema)(writeTable) {
      (cursor, blockNum, blockId) =>
        persistCursor(CursorRow(cursorId, cursor, blockNum, blockId))
    }

  /** Replace-on-PK write (dialects with `supportsDeleteOnPk`). The PK here
    * is a GROUP key (a block can carry many rows): all rows sharing a PK are
    * deleted once, then re-inserted. Two invariants make that idempotent
    * under retry:
    *  - rows are repartitioned by PK, so a group lives in exactly one task
    *    and another task's delete can never remove its inserts;
    *  - within a task each PK is deleted only on first encounter, so a group
    *    spanning several `batchSize` chunks isn't wiped by its own later
    *    chunks. A retried task re-deletes its groups and re-inserts them.
    * The repartition is one narrow-ish shuffle per table per micro-batch —
    * the price of exactly-once-effective output on an append-only protocol.
    * Insert-only dialects skip the delete lane (at-least-once, like the
    * reference) but keep the same batching and partitioning. */
  private def writeTable(table: String, df: DataFrame): Unit = {
    val schema = df.schema
    val pk = pkCols.getOrElse(table, Seq("block_num"))
    val pkIdx = pk.map(schema.fieldIndex)
    val cols = schema.fieldNames.toSeq
    val deleteSql = s"""DELETE FROM ${q(table)} WHERE ${pk.map(c => s"${q(c)} = ?").mkString(" AND ")}"""
    val insertSql = s"""INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")})
                       |VALUES (${cols.map(_ => "?").mkString(", ")})""".stripMargin
    val sqlCodes = schema.fields.map(f => sqlTypeCode(f.dataType))
    val (jdbcUrl, batch, iso, dia) = (url, batchSize, isolation, dialect)
    df.repartition(pk.map(col): _*).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(jdbcUrl)
        try {
          dia.initConnection(conn)
          conn.setAutoCommit(false)
          conn.setTransactionIsolation(iso)
          val del = if (dia.supportsDeleteOnPk) conn.prepareStatement(deleteSql) else null
          val ins = conn.prepareStatement(insertSql)
          val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
          rows.grouped(batch).foreach { chunk =>
            var deletes = 0
            chunk.foreach { row =>
              if (del != null && seen.add(pkIdx.map(row.get))) {
                pkIdx.zipWithIndex.foreach { case (ci, pi) =>
                  setParam(del, pi + 1, sqlCodes(ci), row, ci)
                }
                del.addBatch(); deletes += 1
              }
              var i = 0
              while (i < sqlCodes.length) { setParam(ins, i + 1, sqlCodes(i), row, i); i += 1 }
              ins.addBatch()
            }
            if (deletes > 0) del.executeBatch()
            ins.executeBatch()
            conn.commit()
          }
        } finally conn.close()
      }
    }
  }

  def persistCursor(row: CursorRow): Unit = withConnection { conn =>
    val ps = conn.prepareStatement(
      s"""INSERT INTO ${q(cursorTable)} (${Seq("id", "cursor", "block_num", "block_id").map(q).mkString(", ")})
         |VALUES (?, ?, ?, ?)""".stripMargin)
    ps.setString(1, row.id); ps.setString(2, row.cursor)
    ps.setLong(3, row.blockNum); ps.setString(4, row.blockId)
    ps.executeUpdate()
  }

  /** O15: latest cursor for this id (`src/main.rs:299-310`). */
  def loadCursor(spark: SparkSession): Option[CursorRow] = withConnection { conn =>
    execIgnoringExists(conn, cursorDdl)
    val ps = conn.prepareStatement(
      s"""SELECT ${Seq("cursor", "block_num", "block_id").map(q).mkString(", ")}
         |FROM ${q(cursorTable)} WHERE ${q("id")} = ?
         |ORDER BY ${q("block_num")} DESC ${dialect.limitOneClause}""".stripMargin)
    ps.setString(1, cursorId)
    val rs = ps.executeQuery()
    if (rs.next()) Some(CursorRow(cursorId, rs.getString(1), rs.getLong(2), rs.getString(3)))
    else None
  }

  // ---- DDL (driver-side, once) --------------------------------------------

  private lazy val chTypesByTable: Map[String, Map[String, ChType]] =
    catalog.map(t => t.name -> t.columns.map(c => c.name -> c.chType).toMap).toMap

  /** Every DDL statement the sink will issue for these frame schemas — a
    * pure function of (catalog, dialect, pkCols), so the spec can pin the
    * generated ClickHouse/Derby DDL without a live server. Catalog-declared
    * ChTypes take precedence over the frame's Spark type, giving native-type
    * engines an exact round-trip. */
  def ddlStatements(schemas: Map[String, StructType]): Seq[String] = {
    val tables = schemas.toSeq.sortBy(_._1).flatMap { case (table, schema) =>
      val chTypes = chTypesByTable.getOrElse(table, Map.empty)
      val cols = schema.fields.toSeq.map(f =>
        f.name -> dialect.columnType(chTypes.get(f.name), f.dataType))
      val pk = pkCols.getOrElse(table, Seq("block_num"))
      dialect.createTableSql(table, cols, pk) +: dialect.postCreateSql(table, pk)
    }
    tables :+ cursorDdl
  }

  private def cursorDdl: String =
    dialect.cursorTableSql(cursorTable, dialect.cursorColumns)

  private def ensureSchema(frames: Map[String, DataFrame]): Unit =
    if (!schemaReady) synchronized {
      if (!schemaReady) {
        withConnection { conn =>
          ddlStatements(frames.map { case (t, df) => t -> df.schema })
            .foreach(execIgnoringExists(conn, _))
        }
        schemaReady = true
      }
    }

  private def execIgnoringExists(conn: Connection, ddl: String): Unit =
    try {
      val st = conn.createStatement()
      st.executeUpdate(ddl)
      st.close()
    } catch {
      case e: java.sql.SQLException if dialect.ignorableCreateError(e) => ()
    }

  private def withConnection[A](f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try {
      dialect.initConnection(conn)
      f(conn)
    } finally conn.close()
  }
}

object JdbcMultiTableSink {

  def sqlTypeCode(dt: DataType): Int = dt match {
    case LongType => Types.BIGINT
    case IntegerType => Types.INTEGER
    case ShortType | ByteType => Types.SMALLINT
    case DoubleType => Types.DOUBLE
    case FloatType => Types.REAL
    case BooleanType => Types.BOOLEAN
    case _: DecimalType => Types.DECIMAL
    case TimestampType => Types.TIMESTAMP
    case DateType => Types.DATE
    case _ => Types.VARCHAR
  }

  def setParam(ps: PreparedStatement, idx: Int, sqlCode: Int, row: Row, col: Int): Unit =
    if (row.isNullAt(col)) ps.setNull(idx, sqlCode)
    else sqlCode match {
      case Types.BIGINT => ps.setLong(idx, row.getLong(col))
      case Types.INTEGER => ps.setInt(idx, row.getInt(col))
      case Types.SMALLINT => ps.setShort(idx, row.getAs[Number](col).shortValue())
      case Types.DOUBLE => ps.setDouble(idx, row.getDouble(col))
      case Types.REAL => ps.setFloat(idx, row.getFloat(col))
      case Types.BOOLEAN => ps.setBoolean(idx, row.getBoolean(col))
      case Types.DECIMAL => ps.setBigDecimal(idx, row.getDecimal(col))
      case Types.TIMESTAMP => ps.setTimestamp(idx, row.getTimestamp(col))
      case Types.DATE => ps.setDate(idx, row.getDate(col))
      case _ => ps.setString(idx, String.valueOf(row.get(col)))
    }
}
