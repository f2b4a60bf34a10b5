package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChainPlanSpec extends AnyFunSuite {

  test("chain: the plan is a function of the seed") {
    assert(Chain.plan(5L, 20) === Chain.plan(5L, 20))
    assert(Chain.plan(5L, 20) !== Chain.plan(6L, 20))
  }

  test("chain: the same seed yields the same messages and release schedule") {
    val p = Chain.plan(5L, 20)
    val cfg = Chain.cfgOf(p.gen)
    val seqs = p.start until p.start + 300
    assert(seqs.map(Chain.msgAt(_, cfg)) === seqs.map(Chain.msgAt(_, Chain.cfgOf(Chain.plan(5L, 20).gen))))
    val a = Chain.releasesBySeq(p.start, p.start + 300, cfg)
    assert(a === Chain.releasesBySeq(p.start, p.start + 300, cfg))
    assert(seqs.exists(s => Chain.msgAt(s, cfg).kind == "undo"), "reorgs are on")
    assert(a.values.map(_.size).sum > 0, "blocks are released")
  }
}
