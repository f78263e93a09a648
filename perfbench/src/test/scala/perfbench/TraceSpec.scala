package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("an unstarted tracer records nothing") {
    val t = new Tracer
    assert(t.span("x", 1)(42) == 42)
    assert(t.spans.isEmpty)
  }

  test("nested spans carry parent and op, and self time excludes children") {
    val t = new Tracer
    t.start()
    t.span("outer", 7) { Thread.sleep(5); t.span("inner", 7)(Thread.sleep(5)) }
    val ss = t.spans
    val outer = ss.find(_.name == "outer").get
    val inner = ss.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0 && inner.op == 7)
    val (sums, leaks) = Tracer.summarize(ss)
    assert(leaks == 0)
    val o = sums.find(_.name == "outer").get
    assert(math.abs(o.selfMs - (outer.ms - inner.ms)) < 1e-9)
  }

  test("a child outside its parent is counted") {
    val p = Span(1, "p", 100, 200, 0, 1)
    val c = Span(2, "c", 150, 250, 1, 1)
    assert(Tracer.summarize(Seq(p, c))._2 == 1)
  }
}
