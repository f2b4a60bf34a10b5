package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{BlockMsg, BlockScoped, ChTable}
import graft.sink.{ClickHouseHttpSink, JdbcMultiTableSink, MultiTableSink}

/** End-to-end wiring of the streaming load path (reference run-loop,
  * `src/main.rs:194-235`):
  *
  *   message stream → finality buffer/undo (stateful, one state store) →
  *   per-batch: decode/route/cast → per-table sink → cursor write-last
  *
  * Checkpointing covers both the source offsets and the buffer state, so a
  * restarted query resumes mid-chain without re-delivering committed batches
  * — the Spark-native equivalent of the reference's cursor-resume + in-memory
  * buffer rebuild. Micro-batch period plays the reference's 15 s insert
  * period (`src/loader.rs:58`); pass a `Trigger` via `writeStream` options if
  * the default (as-fast-as-possible) isn't wanted.
  */
object GraftStream {

  /** Generic wiring: any sink honoring the `(releasedBlocks, batchId)`
    * contract — parquet ([[MultiTableSink]]) and JDBC
    * ([[JdbcMultiTableSink]]) both plug in here.
    *
    * The finality operator is single-keyed, so it needs exactly one state
    * store. By default Spark gives a stateful operator
    * `spark.sql.shuffle.partitions` stores and records that count in the
    * offset log; every store but the one holding `"chain"` would sit empty,
    * yet each still loads and commits (a delta file plus a checksum file)
    * on every micro-batch. The query therefore starts from a session clone
    * whose state-store count is 1 ([[SessionBridge.withConf]]): the
    * caller's conf is never written, the caller's streaming listeners are
    * carried over, and a checkpoint written with another count keeps it on
    * restart. Downstream parallelism is unchanged: every released block
    * already sat in the one partition that holds the key, and shuffles in
    * `writeBatch` still use the caller's `spark.sql.shuffle.partitions`.
    *
    * The same clone names the checkpoint file manager,
    * [[LocalCheckpointFiles]]. Every micro-batch writes an offset-log entry,
    * a commit-log entry and a state delta with its checksum file; on a
    * `file:` checkpoint, Hadoop's local filesystem without `libhadoop` forks
    * a `chmod` or `readlink` process for each file it creates or renames,
    * about 40 per batch. The manager writes them with java.nio instead. Its
    * files are Spark's minus Hadoop's `.crc` sidecars, so a checkpoint
    * restarts under a plain Spark query and back.
    *
    * The same clone turns Spark's artifact isolation off, so the query's
    * tasks run under the executor's default class loader. Spark caches
    * generated code per (task class loader, code). Each query runs on a
    * clone of its session with a new session UUID, and with isolation on,
    * each UUID gets its own executor class loader: every query's first
    * micro-batch recompiled the plan's ~18 generated classes. Now every
    * query reuses the classes that an earlier query in the JVM compiled.
    * [[StreamingFinality]]'s fixed state encoder keeps the state serializer's
    * code the same across queries. A caller session that holds
    * session-scoped artifacts keeps isolation on (see
    * [[SessionBridge.withConf]]). */
  def startWith(msgs: Dataset[BlockMsg], checkpointDir: String)(
      writeBatch: (Dataset[BlockScoped], Long) => Unit): StreamingQuery =
    SessionBridge.withConf(StreamingFinality.released(msgs),
        Map(SessionBridge.StateStoresKey -> "1",
          SessionBridge.CheckpointManagerKey -> classOf[LocalCheckpointFiles].getName))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(writeBatch)
      .start()

  def start(
      msgs: Dataset[BlockMsg],
      catalog: Seq[ChTable],
      outDir: String,
      checkpointDir: String,
      cursorId: String,
      strict: Boolean = false): StreamingQuery =
    startWith(msgs, checkpointDir)(
      new MultiTableSink(catalog, outDir, cursorId, strict).writeBatch)

  /** Stream into a JDBC database with replace-on-PK idempotent writes. */
  def startJdbc(
      msgs: Dataset[BlockMsg],
      catalog: Seq[ChTable],
      url: String,
      checkpointDir: String,
      cursorId: String,
      pkCols: Map[String, Seq[String]] = Map.empty,
      strict: Boolean = false): StreamingQuery =
    startWith(msgs, checkpointDir)(
      new JdbcMultiTableSink(catalog, url, cursorId, pkCols, strict = strict).writeBatch)

  /** Stream into a ClickHouse HTTP endpoint — RowBinary + native-LZ4
    * inserts, cursor row last (the reference's actual delivery path,
    * VERDICT r13 #1). At-least-once inserts + ReplacingMergeTree cursor
    * collapse, exactly the reference's contract. */
  def startClickHouse(
      msgs: Dataset[BlockMsg],
      catalog: Seq[ChTable],
      endpoint: String,
      checkpointDir: String,
      cursorId: String,
      user: String = "default",
      password: String = "",
      strict: Boolean = false): StreamingQuery =
    startWith(msgs, checkpointDir)(
      new ClickHouseHttpSink(catalog, endpoint, cursorId, user, password,
        strict = strict).writeBatch)

  /** Streaming file source of BlockMsg parquet rows — the fixture stand-in
    * for the gRPC connector (SURVEY §7.1 source a). One file per trigger
    * keeps batch boundaries deterministic for tests. */
  def fileSource(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): Dataset[BlockMsg] = {
    implicit val enc = Encoders.product[BlockMsg]
    spark.readStream
      .schema(enc.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
      .as[BlockMsg]
  }
}
