package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def sp(id: Int, parent: Int, layer: String, a: Long, b: Long) =
    Span(id, parent, layer, s"s$id", "r", a, b)

  test("self time subtracts the union of the direct children, clipped to the parent") {
    val spans = Seq(
      sp(0, -1, "features", 0, 100),
      sp(1, 0, "tables", 10, 30),
      sp(2, 0, "tables", 20, 50), // overlaps span 1: counted once
      sp(3, 0, "spark", 90, 120), // reaches past the parent: clipped at 100
      sp(4, 1, "spark", 12, 18)) // a grandchild: only span 1 loses it
    val self = Trace.selfNs(spans)
    assert(self(0) == 100 - (40 + 10))
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(3) == 30)
    assert(self(4) == 6)
    val layers = Trace.layerSelfS(spans)
    assert(layers("features") == 50 / 1e9)
    assert(layers("tables") == 44 / 1e9)
    assert(layers("spark") == 36 / 1e9)
  }

  test("union of intervals") {
    assert(Trace.union(Nil) == 0)
    assert(Trace.union(Seq((5L, 10L), (0L, 3L), (2L, 4L), (10L, 12L))) == 4 + 7)
  }

  test("the tracer nests spans and records nothing while inactive") {
    val t = new Tracer("run")
    t.span("a", "off")(())
    assert(t.spans.isEmpty)
    t.active = true
    t.span("a", "outer")(t.span("b", "inner")(()))
    val Seq(outer, inner) = t.spans
    assert(outer.parent == -1 && inner.parent == outer.id)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    assert(t.spans.forall(_.run == "run"))
  }
}
