package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Parity.BlockRow

class ParitySpec extends AnyFunSuite {

  private val expected = Seq(
    BlockRow("blocks", 10, "b10-f0", Seq("10", "0")),
    BlockRow("transfers", 11, "b11-f0", Seq("a", "1")),
    BlockRow("transfers", 11, "b11-f0", Seq("b", "2")),
    BlockRow("blocks", 12, "b12-f0", Seq("12", "0")))
  private val cursor = Some((12L, "c12"))

  test("an identical load passes, whatever the row order") {
    val r = Parity.check(expected, expected.reverse, cursor, cursor)
    assert(r.failed === 0)
    assert(r.attempted === 4) // three blocks and the cursor
    assert(r.rows === 4)
  }

  test("a dropped row fails its block") {
    val r = Parity.check(expected, expected.filterNot(_.values == Seq("b", "2")), cursor, cursor)
    assert(r.failed === 1)
    assert(r.details === Seq("block 11/b11-f0 different"))
  }

  test("a block with every row dropped is missing, an unexpected one extra") {
    val landed = expected.filterNot(_.blockNum == 10) :+ BlockRow("blocks", 13, "b13-f0", Seq("13", "0"))
    val r = Parity.check(expected, landed, cursor, cursor)
    assert(r.failed === 2)
    assert(r.details.toSet === Set("block 10/b10-f0 missing", "block 13/b13-f0 extra"))
  }

  test("a changed value fails its block") {
    val landed = expected.map(r => if (r.blockNum == 12) r.copy(values = Seq("12", "1")) else r)
    assert(Parity.check(expected, landed, cursor, cursor).failed === 1)
  }

  test("a stale cursor fails even when every row landed") {
    val r = Parity.check(expected, expected, cursor, Some((11L, "c11")))
    assert(r.failed === 1)
    assert(r.details.head.startsWith("cursor"))
    assert(Parity.check(expected, expected, cursor, None).failed === 1)
  }

  test("the lane digest ignores row order and last-bit float noise") {
    import org.apache.spark.sql.Row
    val a = Seq(Row(1L, 0.1 + 0.2, "x"), Row(2L, 1.0, null))
    val b = Seq(Row(2L, 1.0, null), Row(1L, 0.3, "x"))
    assert(Parity.digest(a.iterator) === Parity.digest(b.iterator))
    assert(Parity.digest(a.iterator) !== Parity.digest(a.take(1).iterator))
    assert(Parity.digest(a.iterator)._1 === 2L)
  }
}
