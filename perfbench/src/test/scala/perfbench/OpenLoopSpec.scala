package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  private val ms = 1000000L

  test("latency is timed from the due time, so a stall charges the requests queued behind it") {
    // one connection, a request due every 20 ms; the first stalls 200 ms
    val schedule = (0 until 6).map(i => Due(i * 20 * ms, 0, i))
    val rung = OpenLoop.run(50.0, 120 * ms, schedule, 1) { (_, i) =>
      if (i == 0) Thread.sleep(200)
      true
    }
    val byOp = rung.sent.map(s => s.req.op -> s).toMap
    assert(byOp(0).latencyMs >= 200)
    // request 5 was due at 100 ms and could not start before 200 ms
    assert(byOp(5).latencyMs >= 95)
    // measured from the send time instead, it would look instant
    assert((byOp(5).endNs - byOp(5).sendNs) / 1e6 < 50)
    // the queued requests waited on a busy connection: backlog, not lag
    assert((1 to 5).forall(i => byOp(i).lagNs == -1L))
    assert(rung.backlogAt(150 * ms) == 5)
  }

  test("an idle connection sends on time and reports its lag") {
    val schedule = (0 until 5).map(i => Due(i * 10 * ms, 0, i))
    val rung = OpenLoop.run(100.0, 50 * ms, schedule, 1)((_, _) => true)
    assert(rung.sent.forall(_.lagNs >= 0))
    assert(rung.sent.forall(s => s.sendNs >= s.req.dueNs))
    assert(rung.backlogEnd == 0)
    assert(rung.lagP99Ms < 50)
  }

  test("a failed or throwing request is recorded as not ok") {
    val schedule = Seq(Due(0L, 0, "ok"), Due(0L, 1, "wrong"), Due(0L, 2, "boom"))
    val rung = OpenLoop.run(1.0, ms, schedule, 3) {
      case (_, "boom") => throw new RuntimeException("boom")
      case (_, op) => op == "ok"
    }
    assert(rung.sent.map(s => s.req.op -> s.ok).toMap == Map("ok" -> true, "wrong" -> false, "boom" -> false))
  }

  test("a backlog that keeps growing is flagged; a steady one is not") {
    def sent(due: Long, send: Long) = Sent(Due(due, 0, ()), send, send + 1, ok = true, lagNs = -1L)
    val growing = Rung(10.0, 100L, (0 until 10).map(i => sent(i * 10L, 101L + i)))
    assert(growing.backlogMid == 6 && growing.backlogEnd == 10)
    assert(growing.backlogGrowing(conns = 1))
    val steady = Rung(10.0, 100L, (0 until 10).map(i => sent(i * 10L, i * 10L + 1)))
    assert(!steady.backlogGrowing(conns = 1))
  }

  test("the paced schedule is fixed by the seed and spreads over the connections") {
    val a = OpenLoop.paced(50.0, 4.0, 4, new java.util.Random(7))
    assert(a == OpenLoop.paced(50.0, 4.0, 4, new java.util.Random(7)))
    assert(a.size == 200 || a.size == 199)
    assert(a.map(_._2).take(5) == Seq(0, 1, 2, 3, 0))
    assert(a.sliding(2).forall { case Seq(x, y) => y._1 - x._1 == 20 * ms || y._1 - x._1 == 20 * ms - 1 || y._1 - x._1 == 20 * ms + 1 })
    assert(a.head._1 < 20 * ms && a.last._1 < 4000 * ms)
  }
}
