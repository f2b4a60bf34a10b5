package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.cast.DynamicCast
import graft.model.{BlockScoped, ChTable}

/** The change-set batch pipeline: operators O8–O12 of SURVEY §2.1, expressed
  * as declarative column transforms so Catalyst fuses them into one
  * whole-stage-codegen'd pass per table.
  *
  *   blocks ─ explode changes (O8/O9 route key) ─ fields→map latest-wins
  *   (O10, reference src/main.rs:291-297) ─ composite-PK merge (O11,
  *   src/loader.rs:143-149) ─ per-table typed projection (O12,
  *   src/table_info.rs:73-167)
  *
  * Scale: the explode+project path is shuffle-free — routing to N tables is
  * N filtered scans of the same exploded frame (or one pass in foreachBatch),
  * not a groupBy; intra-table input order is preserved because explode keeps
  * array order and no exchange is introduced before the sink.
  */
object ChangePipeline {

  /** Blocks → one row per change:
    * (block_num, block_id, ts, cursor, table, fields_map).
    * Fields arrive as ARRAY<STRUCT<name,newValue,oldValue>> and leave as a
    * deduped MAP<STRING,STRING> with composite-PK keys merged over it.
    */
  def explodeChanges(blocks: Dataset[BlockScoped]): DataFrame = {
    blocks.toDF()
      .select(
        col("clock.number").as("block_num"),
        col("clock.id").as("block_id"),
        col("clock.ts").as("block_ts"),
        col("cursor"),
        explode(col("changes")).as("change"))
      .select(
        col("block_num"), col("block_id"), col("block_ts"), col("cursor"),
        col("change.table").as("table"),
        fieldsToMap(col("change.fields"), col("change.compositePk")).as("fields_map"))
  }

  /** O10 + O11: ARRAY<STRUCT<name,newValue,_>> (+ composite-PK map) → one
    * MAP<STRING,STRING>, duplicate names resolved latest-wins and PK keys
    * winning over field entries — exactly `HashMap::extend` semantics in the
    * reference (`src/main.rs:291-297`, `src/loader.rs:143-149`).
    *
    * One Catalyst expression ([[FieldsToMap]]) whose generated code is a
    * static call into [[FieldsToMap.build]], so it stays inside whole-stage
    * codegen like the ProtoWire and RowBinary codecs. The entries are the
    * fields then the PK keys; an entry survives iff no later entry has the
    * same name, and survivors keep their order. A null field struct, or a
    * field whose name is null, is skipped: the reference's names are
    * protobuf strings and never null, and the source never builds one. A
    * null `fields` gives NULL; a null `compositePk` adds no entries.
    */
  def fieldsToMap(fields: Column, compositePk: Column): Column =
    ColumnBridge.column(FieldsToMap(ColumnBridge.expression(fields),
      ColumnBridge.expression(compositePk)))

  /** O9 + O12: route the exploded change rows to their tables and apply each
    * table's typed projection. Returns one DataFrame per catalog table —
    * block/cursor metadata first, then the schema columns in canonical
    * (name-sorted) order. Tables absent from the batch yield empty frames.
    */
  def routeAndCast(
      changes: DataFrame,
      catalog: Seq[ChTable],
      strict: Boolean = false): Map[String, DataFrame] = {
    catalog.map { t =>
      val meta = Seq(col("block_num"), col("block_id"), col("cursor"))
      t.name -> changes
        .filter(col("table") === t.name)
        .select(meta ++ DynamicCast.projection(col("fields_map"), t, strict): _*)
    }.toMap
  }

  /** End-to-end batch path: blocks → per-table typed frames. */
  def process(
      blocks: Dataset[BlockScoped],
      catalog: Seq[ChTable],
      strict: Boolean = false): Map[String, DataFrame] =
    routeAndCast(explodeChanges(blocks), catalog, strict)
}

/** `fields` ARRAY<STRUCT<name STRING, newValue STRING, …>> and `compositePk`
  * MAP<STRING,STRING> → the change's fields map ([[ChangePipeline.fieldsToMap]]
  * has the rules). The struct's `name` and `newValue` are found by name with
  * the session's resolver, as `getField` finds them. */
case class FieldsToMap(fields: Expression, compositePk: Expression) extends BinaryExpression {
  override def left: Expression = fields
  override def right: Expression = compositePk

  private def element: Option[StructType] = fields.dataType match {
    case ArrayType(st: StructType, _) => Some(st)
    case _ => None
  }
  private def ordinal(st: StructType, name: String): Int =
    st.fieldNames.indexWhere(SQLConf.get.resolver(_, name))

  override def checkInputDataTypes(): TypeCheckResult = (element, compositePk.dataType) match {
    case (Some(st), MapType(StringType, StringType, _))
        if Seq("name", "newValue").forall(n =>
          ordinal(st, n) >= 0 && st(ordinal(st, n)).dataType == StringType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "fields_to_map takes ARRAY<STRUCT<name STRING, newValue STRING, ...>> and " +
        s"MAP<STRING,STRING>, not ${fields.dataType.simpleString} and " +
        compositePk.dataType.simpleString)
  }

  private lazy val st = element.get
  private lazy val nameAt = ordinal(st, "name")
  private lazy val valueAt = ordinal(st, "newValue")

  override def dataType: DataType = {
    val nullValues = (fields.dataType, compositePk.dataType) match {
      case (ArrayType(s: StructType, containsNull), MapType(_, _, pkNulls)) =>
        containsNull || pkNulls || s(ordinal(s, "newValue")).nullable
      case _ => true
    }
    MapType(StringType, StringType, nullValues)
  }
  override def nullable: Boolean = fields.nullable

  override def eval(input: InternalRow): Any = {
    val f = fields.eval(input)
    if (f == null) null
    else FieldsToMap.build(f.asInstanceOf[ArrayData], nameAt, valueAt, st.length,
      compositePk.eval(input).asInstanceOf[MapData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = fields.genCode(ctx)
    val pk = compositePk.genCode(ctx)
    ev.copy(code = code"""
      ${f.code}
      boolean ${ev.isNull} = ${f.isNull};
      org.apache.spark.sql.catalyst.util.MapData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${pk.code}
        ${ev.value} = graft.pipeline.FieldsToMap.build(${f.value}, $nameAt, $valueAt,
          ${st.length}, ${pk.isNull} ? null : ${pk.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FieldsToMap =
    copy(fields = newLeft, compositePk = newRight)
}

object FieldsToMap {

  /** One pass over the entries (the `width`-wide field structs with a
    * non-null name, then the PK map's entries): the survivors, in order, as
    * the map. */
  def build(fields: ArrayData, nameAt: Int, valueAt: Int, width: Int, pk: MapData): MapData = {
    val nf = fields.numElements()
    val cap = nf + (if (pk == null) 0 else pk.numElements())
    val keys = new Array[UTF8String](cap)
    val values = new Array[UTF8String](cap)
    var n = 0
    var i = 0
    while (i < nf) {
      val f = if (fields.isNullAt(i)) null else fields.getStruct(i, width)
      if (f != null && !f.isNullAt(nameAt)) {
        keys(n) = f.getUTF8String(nameAt)
        if (!f.isNullAt(valueAt)) values(n) = f.getUTF8String(valueAt)
        n += 1
      }
      i += 1
    }
    i = 0
    while (i < cap - nf) {
      keys(n) = pk.keyArray().getUTF8String(i)
      if (!pk.valueArray().isNullAt(i)) values(n) = pk.valueArray().getUTF8String(i)
      n += 1; i += 1
    }
    val keep = new Array[Boolean](n)
    var kept = 0
    i = n - 1
    while (i >= 0) {
      var j = i + 1
      while (j < n && !(keep(j) && keys(j) == keys(i))) j += 1
      keep(i) = j == n
      if (keep(i)) kept += 1
      i -= 1
    }
    val ks = new Array[Any](kept)
    val vs = new Array[Any](kept)
    var k = 0
    i = 0
    while (i < n) {
      if (keep(i)) { ks(k) = keys(i); vs(k) = values(i); k += 1 }
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }
}
