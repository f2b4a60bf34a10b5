package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{BlockMsg, BlockScoped}
import graft.state.{BufferStateWire, FinalityBuffer}
import graft.state.FinalityBuffer.BufferState

/** The finality buffer as a Structured Streaming stateful operator.
  *
  * The chain is one totally-ordered stream (the reference consumes it in a
  * single sequential task, `src/main.rs:208-231`), so the state lives under
  * ONE group key, in one state store ([[GraftStream.startWith]] starts the
  * query with a single store). Messages are tiny envelope rows and the
  * state is a bounded 12-deep queue. The released blocks leave the operator
  * in the one partition that holds the key; downstream work on them runs
  * there too unless a sink repartitions. Per-batch the group sorts by `seq`
  * so replay order is deterministic regardless of upstream partitioning.
  *
  * The state is one BINARY value: the [[BufferState]] as protobuf wire
  * bytes ([[BufferStateWire]]). The operator generates its state serializer
  * and deserializer from the state encoder in every task; for a binary
  * value they have no collection fields, so no lambda variables, and every
  * batch generates the same small code, which Spark's generated-code cache
  * (keyed by class loader and code) compiles once per JVM — given the shared
  * class loader that [[GraftStream.startWith]]'s queries run under. Decoding
  * and encoding the at most 12 buffered blocks is a byte walk.
  *
  * [[releasedLegacy]] is the operator as it was before: the [[BufferState]]
  * case class itself as the state, through a product encoder with nested
  * collections. Its deserializer's `MapObjects` lambdas are numbered anew
  * each time the operator resolves it, so every batch that reads state
  * compiles one class. It stays for checkpoints written with that schema:
  * Spark refuses to restart a stateful operator under another state schema,
  * and [[GraftStream.startWith]] picks the operator that matches the
  * checkpoint.
  */
object StreamingFinality {

  /** Building an encoder numbers the lambda variables of its collection
    * serializers from a JVM-wide counter, so one fixed encoder keeps the
    * legacy state serializer's code the same across queries. */
  private val legacyStateEncoder: ExpressionEncoder[BufferState] = ExpressionEncoder[BufferState]()

  /** Works on both streaming and batch Datasets (same plan either way). */
  def released(msgs: Dataset[BlockMsg]): Dataset[BlockScoped] = {
    val spark: SparkSession = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_ => "chain")
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(process _)(
        Encoders.BINARY, implicitly)
  }

  /** [[released]] with the [[BufferState]] case class as the state, for a
    * checkpoint written with that schema. */
  def releasedLegacy(msgs: Dataset[BlockMsg]): Dataset[BlockScoped] = {
    val spark: SparkSession = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_ => "chain")
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(processLegacy _)(
        legacyStateEncoder, implicitly)
  }

  /** [[released]], or [[releasedLegacy]] when the state schema recorded
    * under `checkpointDir` is the [[BufferState]] case class. */
  def releasedFor(msgs: Dataset[BlockMsg], checkpointDir: String): Dataset[BlockScoped] =
    if (legacyState(msgs.sparkSession, checkpointDir)) releasedLegacy(msgs) else released(msgs)

  /** Whether the finality state schema recorded under `checkpointDir` is
    * the [[BufferState]] case class: its one field `buffer`, the array of
    * buffered blocks. The schema files are Spark's, under the operator's
    * `state/0/`: `0/_metadata/schema` (through Spark 4.1 for this operator)
    * or `_stateSchema/` (Spark's newer layout); each holds the value schema
    * as JSON text. */
  private[streaming] def legacyState(spark: SparkSession, checkpointDir: String): Boolean = {
    val op = new Path(checkpointDir, "state/0")
    val fs = op.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("0/_metadata", "_stateSchema").map(new Path(op, _)).filter(fs.exists).exists { dir =>
      val files = fs.listFiles(dir, true)
      var found = false
      while (!found && files.hasNext) {
        val in = fs.open(files.next().getPath)
        try found = new String(in.readAllBytes(), StandardCharsets.UTF_8).contains(LegacyStateField)
        finally in.close()
      }
      found
    }
  }

  /** The JSON of the legacy state value's one field, as Spark writes it. */
  private val LegacyStateField = "{\"name\":\"buffer\",\"type\":{\"type\":\"array\""

  private[streaming] def process(
      key: String,
      it: Iterator[BlockMsg],
      state: GroupState[Array[Byte]]): Iterator[BlockScoped] = {
    val (st, out) = fold(state.getOption.fold(FinalityBuffer.empty)(BufferStateWire.decode), it)
    state.update(BufferStateWire.encode(st))
    out
  }

  private[streaming] def processLegacy(
      key: String,
      it: Iterator[BlockMsg],
      state: GroupState[BufferState]): Iterator[BlockScoped] = {
    val (st, out) = fold(state.getOption.getOrElse(FinalityBuffer.empty), it)
    state.update(st)
    out
  }

  /** The batch's messages in `seq` order through the buffer. */
  private def fold(start: BufferState, it: Iterator[BlockMsg]): (BufferState, Iterator[BlockScoped]) = {
    var st = start
    val out = Seq.newBuilder[BlockScoped]
    it.toSeq.sortBy(_.seq).foreach { msg =>
      val (st2, rel) = FinalityBuffer.step(st, msg)
      st = st2
      out ++= rel
    }
    (st, out.result().iterator)
  }
}
