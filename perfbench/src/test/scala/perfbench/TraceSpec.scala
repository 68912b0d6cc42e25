package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time is the span minus the union of its children") {
    assert(Trace.selfNs(0, 100, Nil) == 100)
    assert(Trace.selfNs(0, 100, Seq(10L -> 30L, 50L -> 60L)) == 70)
  }

  test("overlapping children count once") {
    assert(Trace.selfNs(0, 100, Seq(10L -> 40L, 20L -> 50L, 45L -> 55L)) == 55)
  }

  test("children are clipped to the parent") {
    assert(Trace.selfNs(100, 200, Seq(50L -> 150L, 190L -> 250L)) == 40)
    assert(Trace.selfNs(100, 200, Seq(0L -> 50L, 300L -> 400L)) == 100)
    assert(Trace.selfNs(100, 200, Seq(0L -> 500L)) == 0)
  }

  test("the tracer nests spans of one request and computes self time from them") {
    val t = new Tracer
    t.request("request") {
      t.span("child") { Thread.sleep(20) }
      Thread.sleep(10)
    }
    val spans = t.all
    val root = spans.find(_.name == "request").get
    val child = spans.find(_.name == "child").get
    assert(child.parent == root.id && root.parent == 0L)
    assert(child.request == root.request)
    val self = t.selfTimes().map { case (s, ns) => s.name -> ns }.toMap
    assert(self("request") == root.durationNs - child.durationNs)
    assert(self("child") == child.durationNs)
  }

  test("a span started outside a request is its own request") {
    val t = new Tracer
    t.span("a")(())
    t.span("b")(())
    val Seq(a, b) = t.all.sortBy(_.id)
    assert(a.request == a.id && b.request == b.id && b.parent == 0L)
  }

  test("a disabled tracer runs the bodies and records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.request("request")(t.span("child")(41) + 1) == 42)
    assert(t.all.isEmpty)
  }

  test("tracing overhead is the median paired ratio, blind to one stalled request") {
    assert(math.abs(Trace.overheadPct(Seq(11.0, 22.0, 33.0), Seq(10.0, 20.0, 30.0)) - 10.0) < 1e-9)
    assert(math.abs(Trace.overheadPct(Seq(11.0, 22.0, 3000.0), Seq(10.0, 20.0, 30.0)) - 10.0) < 1e-9)
    assert(Trace.overheadPct(Nil, Nil) == 0.0)
  }
}
