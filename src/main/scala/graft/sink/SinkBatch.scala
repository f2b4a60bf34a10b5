package graft.sink

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{BlockScoped, ChTable}
import graft.pipeline.ChangePipeline

/** Shared micro-batch skeleton for the parquet and JDBC sinks (O13/O14).
  * They differ ONLY in how a table frame is written and where the cursor
  * row goes, so the batch shape lives here once:
  *
  *  1. cache the released blocks, so the stateful fold upstream runs once;
  *  2. ONE aggregation over the cache yields the tables the batch touches
  *     and the top block's cursor; an empty batch stops here, with no DDL
  *     and no writes;
  *  3. route/cast the blocks per table (ChangePipeline) and write each
  *     present table;
  *  4. persist the top cursor LAST — only after every table committed
  *     (reference ordering, `src/loader.rs:111-175`).
  *
  * On the streaming path, where the released blocks sit in one partition,
  * that is 1 + (present tables) Spark jobs per batch (SinkBatchSpec). The
  * summary is its own job because neither write can hand one back: the
  * parquet sink writes through `DataFrameWriter`, and the JDBC sink
  * repartitions each table by its key first. The ClickHouse HTTP sink,
  * whose tasks return it, runs one job per batch ([[ClickHouseHttpSink]]).
  */
object SinkBatch {

  def run(
      blocks: Dataset[BlockScoped],
      catalog: Seq[ChTable],
      strict: Boolean,
      onFrames: Map[String, DataFrame] => Unit = _ => ())(
      writeTable: (String, DataFrame) => Unit)(
      persistCursor: (String, Long, String) => Unit): Unit = {
    val cached = blocks.cache()
    try {
      val summary = cached.toDF()
        .agg(
          flatten(collect_set(col("changes.table"))).as("tables"),
          max_by(struct(col("cursor"), col("clock.number").as("number"), col("clock.id").as("id")),
            col("clock.number")).as("top"))
        .head()
      if (summary.isNullAt(1)) return
      val present = summary.getSeq[String](0).toSet
      val frames = ChangePipeline.process(cached, catalog, strict)
      onFrames(frames)
      frames.foreach { case (table, df) =>
        if (present(table)) writeTable(table, df)
      }
      val top = summary.getStruct(1)
      persistCursor(top.getString(0), top.getLong(1), top.getString(2))
    } finally cached.unpersist()
  }
}
