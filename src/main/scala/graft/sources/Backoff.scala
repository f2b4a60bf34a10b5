package graft.sources

/** Operator O3's reconnect policy (reference `src/substreams_stream.rs:62,
  * 96,105`): exponential backoff from 10 ms doubling to a 45 s cap, reset
  * to the base whenever a good message arrives; authentication failures are
  * fatal (no retry). Pure schedule + a retry driver so the policy is
  * unit-testable without a network; the real connector wraps its RPC call
  * in `retry`. */
object Backoff {
  val BaseMillis: Long = 10L
  val CapMillis: Long = 45000L

  /** Delay before retry `attempt` (0-based): base * 2^attempt, capped. */
  def delayMillis(attempt: Int): Long = {
    require(attempt >= 0)
    // 10 << 13 already exceeds the cap; anything past that would overflow
    val shifted = if (attempt >= 32) CapMillis else BaseMillis << attempt
    math.min(shifted, CapMillis)
  }

  /** Fatal errors (reference: Unauthenticated gRPC status) abort immediately. */
  final case class FatalException(cause: Throwable)
    extends RuntimeException("fatal source error, not retrying", cause)

  /** Retry `op` with the schedule; `isFatal` short-circuits. The attempt
    * counter resets on every success, mirroring the reference's reset-on-
    * good-message. */
  def retry[A](maxAttempts: Int, isFatal: Throwable => Boolean = _ => false,
      sleep: Long => Unit = Thread.sleep)(op: () => A): A = {
    var attempt = 0
    while (true) {
      try return op()
      catch {
        case e: Throwable if isFatal(e) => throw FatalException(e)
        case e: Throwable =>
          if (attempt >= maxAttempts - 1) throw e
          sleep(delayMillis(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** An error that a replay of the same request meets again: the reference's
  * `Unauthenticated` status, a malformed frame (a desynced or hostile peer),
  * a deterministic grpc-status, the server's `fatal_error`. The chain
  * reader's [[Backoff.retry]] treats exactly these as fatal. */
trait FatalSourceError { self: Throwable => }
