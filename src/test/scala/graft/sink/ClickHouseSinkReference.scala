package graft.sink

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cast.DynamicCast
import graft.model.{BlockScoped, ChTable, CursorRow}
import graft.model.ChType._
import graft.pipeline.{ChangePipeline, FieldsMapOracle}

/** The ClickHouse sink's per-batch DataFrame path, kept as the byte-level
  * oracle for [[ClickHouseHttpSink]]'s bound plan. Each batch builds and
  * runs one Dataset: the released blocks explode with change-less blocks
  * kept (`explode_outer`), each change row gets its RowBinary bytes from a
  * `CASE` over the catalog tables (typed projection, canonical strings,
  * encode), and one `mapPartitions` streams them into one insert per table.
  * Statements, DDL and the cursor row come from a [[ClickHouseHttpSink]]
  * built with the same arguments, so the two differ only in how the rows
  * are routed, cast and encoded. */
final class ClickHouseSinkReference(
    catalog: Seq[ChTable],
    endpoint: String,
    cursorId: String,
    user: String = "default",
    password: String = "",
    compress: Boolean = true,
    strict: Boolean = false,
    blockBytes: Int = ChNativeCodec.DefaultBlockBytes) extends Serializable {

  import ClickHouseSinkReference._

  private val sink = new ClickHouseHttpSink(catalog, endpoint, cursorId, user, password,
    compress, strict, blockBytes = blockBytes)

  @transient @volatile private var schemaReady = false
  @transient @volatile private var typedSchemas: Map[String, StructType] = _

  def writeBatch(blocks: Dataset[BlockScoped], batchId: Long): Unit = {
    val schemas = frameSchemas(blocks)
    val inserts = schemas.map { case (t, s) => t -> sink.insertStatement(sink.frameChTable(t, s)) }
    val ddl = if (schemaReady) Seq.empty else sink.ddlStatements(schemas)
    val (ep, u, p, c, bb) = (endpoint, user, password, compress, blockBytes)
    val tops = encodedRows(blocks, schemas)
      .mapPartitions(writePartition(ep, u, p, c, bb, ddl, inserts))(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING))
      .collect()
    if (tops.nonEmpty) {
      schemaReady = true
      val (blockNum, cursor, blockId) = tops.maxBy(_._1)
      sink.persistCursor(CursorRow(cursorId, cursor, blockNum, blockId))
    }
  }

  private def frameSchemas(blocks: Dataset[BlockScoped]): Map[String, StructType] = {
    if (typedSchemas == null)
      typedSchemas = ChangePipeline.process(blocks, catalog, strict)
        .map { case (t, df) => t -> df.schema }
    typedSchemas
  }

  /** One row per change, plus one per change-less block (`table` null):
    * `(block_num, cursor, block_id, table, rb)`, where `rb` is the row's
    * RowBinary bytes in its table's insert order — null when the table is
    * absent from the catalog or the block has no changes. */
  def encodedRows(blocks: Dataset[BlockScoped], schemas: Map[String, StructType]): DataFrame = {
    val meta = Seq(col("block_num"), col("block_id"), col("cursor"))
    val changes = blocks.toDF()
      .select(col("clock.number").as("block_num"), col("clock.id").as("block_id"),
        col("cursor"), explode_outer(col("changes")).as("change"))
      .select(meta ++ Seq(col("change.table").as("table"),
        FieldsMapOracle.fieldsToMap(col("change.fields"), col("change.compositePk"))
          .as("fields_map")): _*)
    val branches = catalog.map { t =>
      (col("table") === t.name, encodeRow(t.name, schemas(t.name),
        meta ++ DynamicCast.projection(col("fields_map"), t, strict)))
    }
    val rb = branches.headOption.fold(lit(null).cast(BinaryType)) { case (c0, v0) =>
      branches.tail.foldLeft(when(c0, v0)) { case (acc, (c, v)) => acc.when(c, v) }
    }
    changes.select(col("block_num"), col("cursor"), col("block_id"), col("table"), rb.as("rb"))
  }

  /** `table`'s typed columns (`schema` holds their names and types, in the
    * same order) → one BINARY RowBinary row, in the insert's column order:
    * each value goes to its canonical string first, timestamps as epoch
    * seconds, binary as hex text into a String target. */
  def encodeRow(table: String, schema: StructType, typed: Seq[Column]): Column = {
    val ct = sink.frameChTable(table, schema)
    val byName = ct.columns.map(c => c.name -> c.chType).toMap
    val entries = schema.fields.toSeq.zip(typed).flatMap { case (f, v) =>
      val s = f.dataType match {
        case TimestampType => unix_timestamp(v).cast("string")
        case BinaryType =>
          byName(f.name) match {
            case ChString | ChNullable(ChString) => hex(v)
            case other => throw new IllegalArgumentException(
              s"binary column '${f.name}' of $table maps to $other; binary " +
                "travels as hex text and requires a String target")
          }
        case _ => v.cast("string")
      }
      Seq(lit(f.name), s)
    }
    RowBinary.rowbinary_encode(map(entries: _*), ct)
  }
}

object ClickHouseSinkReference {
  import ClickHouseHttpSink.{post, InsertStream}

  /** The task body: stream each row's bytes into its table's insert, opened
    * on that table's first row, then finish every insert; any failure
    * aborts every insert still open. A partition with rows sends `ddl`
    * first and returns its top `(block_num, cursor, block_id)`. */
  private def writePartition(endpoint: String, user: String, password: String,
      compress: Boolean, blockBytes: Int, ddl: Seq[String], inserts: Map[String, String])(
      rows: Iterator[Row]): Iterator[(Long, String, String)] = {
    if (!rows.hasNext) return Iterator.empty
    ddl.foreach(post(endpoint, _, Array.emptyByteArray, user, password, compress = false))
    val streams = mutable.Map.empty[String, InsertStream]
    var top = (Long.MinValue, "", "")
    var done = false
    try {
      rows.foreach { r =>
        if (r.getLong(0) > top._1) top = (r.getLong(0), r.getString(1), r.getString(2))
        if (!r.isNullAt(4)) {
          val table = r.getString(3)
          streams.getOrElseUpdate(table, InsertStream.open(endpoint, inserts(table),
            user, password, compress, blockBytes)).out.write(r.getAs[Array[Byte]](4))
        }
      }
      streams.valuesIterator.foreach(_.finish())
      done = true
    } finally if (!done) streams.valuesIterator.foreach(_.abort())
    Iterator(top)
  }
}
