package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the union of the children, clipped to the span") {
    val parent = Span(1, 0, "query", "q", 0.0, 100.0)
    val kids = Seq(
      Span(2, 1, "build", "q", 10.0, 30.0),
      Span(3, 1, "job", "j", 20.0, 50.0),
      Span(4, 1, "job", "k", 90.0, 120.0))
    assert(Span.selfMs(parent, kids) == 50.0)
    assert(Span.selfMs(parent, Nil) == 100.0)
  }

  test("self times over a tree: each span loses only its own children") {
    val spans = Seq(
      Span(1, 0, "run", "r", 0.0, 1000.0),
      Span(2, 1, "trigger", "t", 100.0, 600.0),
      Span(3, 2, "sink", "s", 200.0, 500.0),
      Span(4, 3, "job", "j", 250.0, 450.0),
      Span(5, 4, "stage", "st", 260.0, 440.0))
    val self = Span.selfTimes(spans)
    assert(self(1) == 500.0)
    assert(self(2) == 200.0)
    assert(self(3) == 100.0)
    assert(self(4) == 20.0)
    assert(self(5) == 180.0)
    // Self times of a tree add up to the root's duration.
    assert(self.values.sum == 1000.0)
  }

  test("tracer keeps spans in memory in id order") {
    val t = new Tracer
    val a = t.newId()
    val b = t.newId()
    t.add(Span(b, a, "build", "x", 0.5, 1.0))
    t.add(Span(a, 0, "query", "x", 0.0, 1.0))
    assert(t.all.map(_.id) == Seq(a, b))
    assert(t.all.last.parent == a)
  }
}
