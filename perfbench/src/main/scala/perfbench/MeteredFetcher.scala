package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow

import graft.sources.{BlockFetcher, ChainSource, GrpcBlockFetcher}

/** The `sources` layer seen from outside: a [[BlockFetcher]] that delegates
  * every call to [[GrpcBlockFetcher]] and records each fetch. Selected with
  * `.option("fetcherClass", "perfbench.MeteredFetcher")`.
  *
  * With a pacing schedule set ([[Meter.pace]]) it is the open-loop load
  * generator of the tip phase: seq `s` is released no earlier than its due
  * time `t0 + (s - s0) / rate`, a fixed schedule that never slows when the
  * program does. `t0` is the moment a restarted reader first asks for a
  * paced seq, so the schedule starts at the live edge rather than while the
  * query is still starting. Without a schedule fetches pass straight
  * through (the closed-loop catch-up phase). Executors share this JVM in local mode, so
  * the schedule and the records live in the [[Meter]] singleton. */
final class MeteredFetcher(cfg: ChainSource.Config) extends BlockFetcher {
  private val inner = new GrpcBlockFetcher(cfg)

  override def hintRange(start: Long, end: Long): Unit = inner.hintRange(start, end)

  override def fetch(seq: Long): InternalRow = {
    val due = Meter.awaitDue(seq)
    val t0 = Wall.nowMs
    try {
      val row = inner.fetch(seq)
      Meter.record(seq, due, t0, Wall.nowMs, ok = true)
      row
    } catch {
      case e: Throwable =>
        Meter.record(seq, due, t0, Wall.nowMs, ok = false)
        throw e
    }
  }

  override def close(): Unit = inner.close()
}

object Meter {
  /** (s0, messages per second); null = no pacing. */
  @volatile private var schedule: (Long, Double) = _
  /** Epoch ms the schedule starts at; NaN until the first paced fetch. */
  @volatile private var t0: Double = Double.NaN

  val calls = new AtomicLong()
  val failed = new AtomicLong()
  /** `[seq, due, start, end, ok]` per fetch; `due` is NaN when unpaced. */
  val fetches = new ConcurrentLinkedQueue[Array[Double]]()

  def pace(s0: Long, ratePerS: Double): Unit = synchronized {
    t0 = Double.NaN
    schedule = (s0, ratePerS)
  }
  def unpace(): Unit = synchronized { schedule = null; t0 = Double.NaN }

  /** Due time of `seq`; the first call for a paced seq starts the clock. */
  def dueMs(seq: Long): Double = {
    val s = schedule
    if (s == null || seq < s._1) Double.NaN
    else {
      if (t0.isNaN) synchronized { if (t0.isNaN) t0 = Wall.nowMs }
      t0 + (seq - s._1) * 1000.0 / s._2
    }
  }

  /** Block until `seq` is due; returns its due time (NaN when unpaced). */
  def awaitDue(seq: Long): Double = {
    val due = dueMs(seq)
    if (!due.isNaN) {
      var wait = due - Wall.nowMs
      while (wait > 0) {
        Thread.sleep(math.max(1L, wait.toLong))
        wait = due - Wall.nowMs
      }
    }
    due
  }

  def record(seq: Long, due: Double, start: Double, end: Double, ok: Boolean): Unit = {
    calls.incrementAndGet()
    if (!ok) failed.incrementAndGet()
    fetches.add(Array(seq.toDouble, due, start, end, if (ok) 1.0 else 0.0))
  }

  def reset(): Unit = {
    unpace()
    calls.set(0); failed.set(0); fetches.clear()
  }
}
