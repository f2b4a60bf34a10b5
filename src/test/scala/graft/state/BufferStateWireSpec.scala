package graft.state

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{BlockScoped, ChangeRec, Clock, FieldKV}
import graft.state.FinalityBuffer.BufferState

class BufferStateWireSpec extends AnyFunSuite {

  private def ts(s: String, nanos: Int): Timestamp = {
    val t = Timestamp.valueOf(s); t.setNanos(nanos); t
  }

  test("every BufferState round-trips exactly, nulls and empties included") {
    val states = Seq(
      FinalityBuffer.empty,
      BufferState(Vector(BlockScoped(Clock("b1", 1L, ts("2023-01-01 00:00:00", 0)), "c1", 0L,
        Seq(ChangeRec("t", "", Map.empty, Seq(FieldKV("v", "1", ""))))))),
      BufferState(Vector(
        BlockScoped(Clock("", -5L, ts("1969-12-31 23:59:59", 123456789)), "", Long.MaxValue,
          Seq(ChangeRec("t", null, Map("k" -> "v", "é" -> null, "" -> ""),
            Seq(FieldKV(null, null, null), null, FieldKV("ünï", "😀", "old"))), null)),
        BlockScoped(Clock(null, Long.MinValue, null), null, -1L, null),
        BlockScoped(null, "c", 3L, Seq.empty),
        BlockScoped(Clock("x", 2L, ts("1500-06-01 12:00:00", 1)), "c2", 2L,
          Seq(ChangeRec(null, "pk", null, null), ChangeRec("t", "pk", Map.empty, Seq.empty))))))
    states.foreach { st =>
      val back = BufferStateWire.decode(BufferStateWire.encode(st))
      assert(back === st)
      back.buffer.zip(st.buffer).foreach { case (b, a) =>
        if (a.clock != null && a.clock.ts != null)
          assert(b.clock.ts.getTime === a.clock.ts.getTime && b.clock.ts.getNanos === a.clock.ts.getNanos)
        if (a.changes != null) a.changes.zip(b.changes).foreach { case (x, y) =>
          if (x != null && x.compositePk != null) assert(y.compositePk.toSeq === x.compositePk.toSeq)
        }
      }
    }
    assert(BufferStateWire.encode(FinalityBuffer.empty).isEmpty)
  }

  test("malformed bytes fail loudly") {
    val good = BufferStateWire.encode(BufferState(Vector(BlockScoped(
      Clock("b1", 1L, Timestamp.valueOf("2023-01-01 00:00:00")), "c1", 0L, Seq.empty))))
    intercept[RuntimeException](BufferStateWire.decode(good.dropRight(1)))
  }
}
