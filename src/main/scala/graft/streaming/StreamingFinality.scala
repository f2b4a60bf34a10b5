package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{BlockMsg, BlockScoped}
import graft.state.FinalityBuffer
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
  * The state encoder is one fixed [[ExpressionEncoder]]. Building an
  * encoder numbers the lambda variables of its collection serializers from
  * a JVM-wide counter, and the operator compiles the state serializer from
  * the encoder as given, so every new encoder is new generated code. With
  * one encoder, every query that runs this plan generates the same state
  * serializer, and Spark's generated-code cache (keyed by class loader and
  * code) compiles it once per JVM — given the shared class loader that
  * [[GraftStream.startWith]]'s queries run under.
  */
object StreamingFinality {

  private val stateEncoder: ExpressionEncoder[BufferState] = ExpressionEncoder[BufferState]()

  /** Works on both streaming and batch Datasets (same plan either way). */
  def released(msgs: Dataset[BlockMsg]): Dataset[BlockScoped] = {
    val spark: SparkSession = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_ => "chain")
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(process _)(
        stateEncoder, implicitly)
  }

  private[streaming] def process(
      key: String,
      it: Iterator[BlockMsg],
      state: GroupState[BufferState]): Iterator[BlockScoped] = {
    var st = state.getOption.getOrElse(FinalityBuffer.empty)
    val out = Seq.newBuilder[BlockScoped]
    it.toSeq.sortBy(_.seq).foreach { msg =>
      val (st2, rel) = FinalityBuffer.step(st, msg)
      st = st2
      out ++= rel
    }
    state.update(st)
    out.result().iterator
  }
}
