package graft.state

import graft.model.{BlockMsg, BlockScoped}

/** Finality buffer + undo handling (operators O6/O7) as a pure state machine
  * `(state, event) => (state, released)`, replicating the reference semantics
  * (`src/loader.rs:82-109` buffer, `:177-193` undo, `BUFFER_LEN`=12 `:24`):
  *
  *  - non-final blocks queue FIFO;
  *  - every block whose number ≤ the incoming block's `final_block_height`
  *    is released (an already-final incoming block passes straight through);
  *  - if the queue still exceeds capacity, the oldest overflow blocks are
  *    released anyway (reorg deeper than the buffer is unrecoverable — same
  *    trade-off as the reference, `README.md:14-16`);
  *  - undo(lastValid=N) drops every buffered block with number > N; blocks
  *    already released are NOT retracted (buffer depth bounds reorg
  *    tolerance).
  *
  * Pure and driver-independent: unit/property-tested without Spark, then
  * wrapped in `flatMapGroupsWithState` (graft.streaming.StreamingFinality)
  * for the streaming path. Total order over the chain is required for
  * correctness — the reference processes blocks in a single sequential task
  * (`src/main.rs:208-231`); we keep the state single-keyed so Spark gives the
  * same per-key sequencing. Released blocks stay in that key's single
  * partition; they are not spread out again after release.
  */
object FinalityBuffer {
  val BufferLen = 12

  /** FIFO of not-yet-final blocks, oldest first. */
  final case class BufferState(buffer: Vector[BlockScoped]) {
    def size: Int = buffer.size
  }
  val empty: BufferState = BufferState(Vector.empty)

  /** New block arrives: returns the new state and the blocks released for
    * downstream processing, in chain order. Exact reference semantics
    * (`src/loader.rs:82-109`):
    *  - release the buffered PREFIX up to the newest buffered block whose
    *    number ≤ the incoming `final_block_height` (an index scan from the
    *    tail, not a filter — correct because block numbers are monotone
    *    between undos);
    *  - otherwise, if the buffer is already at capacity, release the oldest
    *    `size - capacity + 1` blocks (capacity is checked BEFORE insert);
    *  - the incoming block itself is released iff its own number ≤ its
    *    `final_block_height`, else appended.
    */
  def onBlock(state: BufferState, block: BlockScoped, capacity: Int = BufferLen): (BufferState, Seq[BlockScoped]) = {
    val buf = state.buffer
    val finalIdx = buf.lastIndexWhere(_.clock.number <= block.finalBlockHeight)
    val drainCount =
      if (finalIdx >= 0) finalIdx + 1
      else if (buf.size >= capacity) buf.size - capacity + 1
      else 0
    val (rel, kept) = buf.splitAt(drainCount)
    if (block.clock.number <= block.finalBlockHeight) (BufferState(kept), rel :+ block)
    else (BufferState(kept :+ block), rel)
  }

  /** Undo signal: truncate everything after the newest buffered block whose
    * number equals the signal; a signal that misses the buffer is a no-op —
    * exact parity with `src/loader.rs:177-193` (which matches on `==`, not
    * `≤`). Blocks already released are not retracted. */
  def onUndo(state: BufferState, lastValidBlock: Long): BufferState = {
    val idx = state.buffer.lastIndexWhere(_.clock.number == lastValidBlock)
    if (idx < 0) state else BufferState(state.buffer.take(idx + 1))
  }

  /** Tagged-union step for stream consumption. */
  def step(state: BufferState, msg: BlockMsg): (BufferState, Seq[BlockScoped]) =
    msg.kind match {
      case "data" => onBlock(state, msg.data.get)
      case "undo" => (onUndo(state, msg.undo.get.lastValidBlock), Seq.empty)
      case other => throw new IllegalArgumentException(s"unknown message kind: $other")
    }

  /** Fold a whole ordered sequence (batch replay of a stream segment). */
  def run(msgs: Seq[BlockMsg], state: BufferState = empty): (BufferState, Seq[BlockScoped]) =
    msgs.foldLeft((state, Seq.empty[BlockScoped])) { case ((st, acc), m) =>
      val (st2, rel) = step(st, m)
      (st2, acc ++ rel)
    }
}
