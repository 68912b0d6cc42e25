package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import YcsbWorkload._

class ChecksSpec extends AnyFunSuite {

  test("a fingerprint is order-sensitive and blind to numeric encoding") {
    val a = Seq(Row(1L, 2.5, "x"), Row(2L, 3.0, "y"))
    assert(Fingerprint.of(a) == Fingerprint.of(Seq(Row(1, new java.math.BigDecimal("2.50"), "x"), Row(2.0, 3, "y"))))
    assert(Fingerprint.of(a) != Fingerprint.of(a.reverse))
    assert(Fingerprint.of(a).rows == 2)
    // parallel sums differ in their last bits from run to run
    assert(Fingerprint.of(Seq(Row(0.1 + 0.2))) == Fingerprint.of(Seq(Row(0.3))))
  }

  test("zipfian keys favour low ranks") {
    val z = new Zipf(250, theta)
    val rng = new java.util.Random(1)
    val counts = Array.fill(250)(0)
    (1 to 20000).foreach(_ => counts(z.next(rng)) += 1)
    assert(counts(0) > counts(10) && counts(10) > counts(200))
    assert(counts.sum == 20000)
  }

  test("one seed gives one request stream and the same expected answers") {
    val init = initialData(3)
    def stream() = { val m = new Model(1, 3, init); Seq.fill(500)(m.next()) }
    assert(stream() == stream())
  }

  test("the model answers reads with what the connection last wrote") {
    val init = initialData(5)
    val conn = conns - 1
    val m = new Model(conn, 5, init)
    val ops = Seq.fill(2000)(m.next())
    val live = scala.collection.mutable.Map.empty[Long, IndexedSeq[String]] ++ init.filter(_._1 % conns == conn)
    ops.foreach {
      case r: Read => assert(r.expect == live.get(r.key))
      case i: Insert => assert(!live.contains(i.key)); live(i.key) = i.fields
      case u: Update =>
        assert(u.expect == (if (live.contains(u.key)) 1 else 0))
        live.get(u.key).foreach(f => live(u.key) = u.value +: f.tail)
      case d: Delete => assert(d.expect == (if (live.remove(d.key).isDefined) 1 else 0))
      case w: Rmw =>
        assert(w.read.expect == live.get(w.read.key))
        live.get(w.update.key).foreach(f => live(w.update.key) = w.update.value +: f.tail)
      case s: Scan =>
        assert(s.expectOwn == live.toSeq.filter { case (k, _) => k >= s.lo && k <= s.hi }.sortBy(_._1))
    }
    assert(ops.forall {
      case r: Read => r.key % conns == conn
      case i: Insert => i.key % conns == conn
      case _ => true
    })
  }

  test("read and scan checks reject wrong answers") {
    val f = IndexedSeq.tabulate(10)(i => s"v$i")
    val row = Row.fromSeq(7L +: f)
    assert(checkRead(Read(7L, Some(f)), Seq(row)))
    assert(!checkRead(Read(7L, Some(f)), Nil))
    assert(!checkRead(Read(7L, None), Seq(row)))
    assert(!checkRead(Read(7L, Some(f.updated(0, "x"))), Seq(row)))
    val other = Row.fromSeq(8L +: f)
    val own = (7 % conns).toInt
    assert(checkScan(Scan(6L, 9L, own, Seq(7L -> f)), Seq(row, other)))
    assert(!checkScan(Scan(6L, 9L, own, Seq(7L -> f)), Seq(other, row)))
    assert(!checkScan(Scan(6L, 9L, own, Seq(7L -> f)), Seq(other)))
  }
}
