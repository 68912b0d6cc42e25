package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one request share `request`;
  * `parent` is the span that was open on the same thread when this one
  * started (0 for a request's root).
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans are kept until the
  * run ends and summarised there; nothing is written while measuring.
  * A tracer that is not `enabled` runs the bodies and records nothing:
  * the same calls without spans, which prices the tracing.
  */
final class Tracer(enabled: Boolean = true) {
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long)]] { // (span id, request id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Run `body` as a new request's root span. */
  def request[T](name: String)(body: => T): T = if (!enabled) body else {
    val saved = open.get()
    open.set(Nil)
    try span(name)(body) finally open.set(saved)
  }

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val (parent, req) = stack.headOption.getOrElse((0L, id))
    open.set((id, req) :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
      open.set(stack)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every recorded span: its duration minus the part of
    * it that its child spans, or `extra` intervals (Spark jobs), cover.
    */
  def selfTimes(extra: Seq[(Long, Long)] = Nil): Seq[(Span, Long)] = {
    val s = all
    val children = s.groupBy(_.parent)
    s.map { sp =>
      val kids = children.getOrElse(sp.id, Nil).map(c => (c.startNs, c.endNs))
      sp -> Trace.selfNs(sp.startNs, sp.endNs, kids ++ extra)
    }
  }
}

object Trace {

  /** What the spans cost, in percent: the median over requests of each
    * request's spanned time over its unspanned time, less one. Pairing
    * and the median keep a stall in either run of one request from
    * standing for the tracing.
    */
  def overheadPct(spanned: Seq[Double], bare: Seq[Double]): Double = {
    require(spanned.size == bare.size, "spanned and unspanned times must pair up")
    if (spanned.isEmpty) 0.0 else (Stats.median(spanned.zip(bare).map { case (a, b) => a / b }) - 1) * 100
  }

  /** `end - start` minus the length of the union of `children`, each
    * clipped to [start, end]. Overlapping children count once.
    */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    (end - start) - covered
  }
}
