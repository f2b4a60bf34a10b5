package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{BlockMsg, BlockScoped}
import graft.state.{BufferStateWire, FinalityBuffer}

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
  * The state is one BINARY value: the [[FinalityBuffer.BufferState]] as
  * protobuf wire bytes ([[BufferStateWire]]). The operator generates its
  * state serializer and deserializer from the state encoder in every task;
  * for a binary value they have no collection fields, so no lambda
  * variables, and every batch generates the same small code, which Spark's
  * generated-code cache (keyed by class loader and code) compiles once per
  * JVM — given the shared class loader that [[GraftStream.startWith]]'s
  * queries run under. Decoding and encoding the at most 12 buffered blocks
  * is a byte walk.
  *
  * This is the only state format. Spark records a stateful operator's
  * state schema in the checkpoint and refuses to restart it under another
  * one, so a checkpoint written with any other state value (such as the
  * `BufferState` case class that earlier versions stored) fails at its
  * first micro-batch and writes nothing.
  */
object StreamingFinality {

  /** Works on both streaming and batch Datasets (same plan either way). */
  def released(msgs: Dataset[BlockMsg]): Dataset[BlockScoped] = {
    val spark: SparkSession = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_ => "chain")
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(process _)(
        Encoders.BINARY, implicitly)
  }

  /** The batch's messages in `seq` order through the buffer. */
  private[streaming] def process(
      key: String,
      it: Iterator[BlockMsg],
      state: GroupState[Array[Byte]]): Iterator[BlockScoped] = {
    var st = state.getOption.fold(FinalityBuffer.empty)(BufferStateWire.decode)
    val out = Seq.newBuilder[BlockScoped]
    it.toSeq.sortBy(_.seq).foreach { msg =>
      val (st2, rel) = FinalityBuffer.step(st, msg)
      st = st2
      out ++= rel
    }
    state.update(BufferStateWire.encode(st))
    out.result().iterator
  }
}
