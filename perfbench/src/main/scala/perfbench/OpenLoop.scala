package perfbench

import java.util.concurrent.locks.LockSupport

/** One scheduled request: due `dueNs` after the rung starts, sent on
  * connection `conn`. Requests of one connection run in due order.
  */
final case class Due[A](dueNs: Long, conn: Int, op: A)

/** What happened to one request, in ns since the rung started. `lagNs`
  * is how late the generator sent a request whose connection was idle
  * when it fell due (-1 when the connection was still busy: that wait is
  * backlog, not generator lag).
  */
final case class Sent[A](req: Due[A], sendNs: Long, endNs: Long, ok: Boolean, lagNs: Long) {
  /** Latency timed from the due time, so a stall also charges the wait
    * it imposes on every request queued behind it.
    */
  def latencyMs: Double = (endNs - req.dueNs) / 1e6
}

final case class Rung[A](rate: Double, windowNs: Long, sent: Seq[Sent[A]]) {
  /** Requests due by `t` but not yet sent at `t`. */
  def backlogAt(t: Long): Int = sent.count(s => s.req.dueNs <= t && s.sendNs > t)
  def backlogEnd: Int = backlogAt(windowNs)
  def backlogMid: Int = backlogAt(windowNs / 2)
  /** A backlog that ends larger than it was halfway and larger than the
    * connections can absorb in one round is growing.
    */
  def backlogGrowing(conns: Int): Boolean = backlogEnd > backlogMid && backlogEnd >= 2 * conns
  def lagP99Ms: Double = {
    val lags = sent.filter(_.lagNs >= 0).map(_.lagNs / 1e6)
    if (lags.isEmpty) 0.0 else Stats.percentile(lags, 99)
  }
}

object OpenLoop {

  /** Arrivals at `rate` per second over `seconds`, spread over `conns`
    * connections in turn: evenly spaced from a seeded phase. Poisson
    * arrivals made the read p50 at 4 and 8 ops/s differ by a third
    * between runs, from the queueing their bursts cause.
    */
  def paced(rate: Double, seconds: Double, conns: Int, rng: java.util.Random): Seq[(Long, Int)] = {
    val gap = 1.0 / rate
    val phase = rng.nextDouble() * gap
    Iterator.from(0).map(i => (phase + i * gap, i)).takeWhile(_._1 < seconds)
      .map { case (t, i) => (t * 1e9).toLong -> (i % conns) }.toSeq
  }

  /** Run a schedule: one thread per connection sleeps until each of its
    * requests falls due (or sends at once if it is already late) and
    * calls `exec`, which returns whether the result was correct.
    */
  def run[A](rate: Double, windowNs: Long, schedule: Seq[Due[A]], conns: Int)(
      exec: (Int, A) => Boolean): Rung[A] = {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Sent[A]]()
    val start = System.nanoTime()
    val threads = (0 until conns).map { c =>
      val mine = schedule.filter(_.conn == c).sortBy(_.dueNs)
      var prevEnd = Long.MinValue
      new Thread(() => mine.foreach { r =>
        val idleAtDue = prevEnd <= r.dueNs
        var now = System.nanoTime() - start
        while (now < r.dueNs) {
          LockSupport.parkNanos(r.dueNs - now)
          now = System.nanoTime() - start
        }
        val send = System.nanoTime() - start
        val ok = try exec(c, r.op) catch {
          case t: Throwable =>
            System.err.println(s"[perfbench] request failed: $t")
            false
        }
        prevEnd = System.nanoTime() - start
        results.add(Sent(r, send, prevEnd, ok, if (idleAtDue) send - r.dueNs else -1L))
      }, s"perfbench-conn-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    Rung(rate, windowNs, results.asScala.toSeq.sortBy(_.req.dueNs))
  }
}
