package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, a: Long, b: Long) = Span(id, parent, 0, s"s$id", a, b)

  test("self time subtracts the union of direct children, counting overlaps once") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30), span(2, 0, 20, 50), // overlap 20..30
      span(3, 0, 60, 70),
      span(4, 1, 12, 28)) // grandchild: counts against span 1 only
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - (40 + 10))
    assert(self(1) == 20 - 16)
    assert(self(2) == 30)
    assert(self(4) == 16)
  }

  test("covered length counts overlapping and nested intervals once") {
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L), (40L, 40L))) == 25)
    assert(Trace.covered(Nil) == 0)
  }

  test("children reaching outside their parent are clipped to it") {
    val self = Trace.selfTimes(Seq(span(0, -1, 10, 20), span(1, 0, 5, 15)))
    assert(self(0) == 5)
  }

  test("the tracer nests spans by call structure and records nothing while inactive") {
    val t = new Tracer
    t.span("off")(())
    assert(t.spans.isEmpty)
    t.active = true
    t.op = 7
    t.span("outer") { t.span("inner")(Thread.sleep(5)) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(t.spans.forall(_.op == 7))
    val self = Trace.selfSecondsByName(t.spans)
    assert(self("outer") >= 0 && self("outer") < byName("outer").durNs / 1e9)
  }
}
