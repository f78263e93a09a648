package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("p90 needs ten samples beyond it") {
    assert(Stats.percentile(xs(100), 90) == Stats.Pct(Some(90.0), None))
    val short = Stats.percentile(xs(99), 90)
    assert(short.value.isEmpty)
    assert(short.reason.exists(_.contains("9 of 99 samples lie beyond p90")))
  }

  test("p50 needs twenty samples") {
    assert(Stats.percentile(xs(20), 50).value.contains(10.0))
    assert(Stats.percentile(xs(19), 50).value.isEmpty)
    assert(Stats.percentile(Nil, 50).reason.contains("no samples"))
  }

  test("percentile ignores input order") {
    assert(Stats.percentile(xs(40).reverse, 50) == Stats.percentile(xs(40), 50))
  }

  test("median of repetitions has no sample floor") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("metric names are restricted") {
    Seq("setup_s", "api.self_ms.search", "index.register_s.lsh", "a-b.9").foreach(n =>
      assert(Stats.validName(n), n))
    Seq("", "has space", "a/b", "p90%", "naïve").foreach(n => assert(!Stats.validName(n), n))
    assertThrows[IllegalArgumentException](Metric.of("bad name", "ms", 1.0, 1))
  }

  test("a percentile metric carries the reason when null") {
    val m = Metric.pct("search_p90_ms", "ms", xs(50), 90)
    assert(m.value.isEmpty && m.samples == 50 && m.note.nonEmpty)
  }

  test("ratios over nothing are null") {
    assert(Metric.ratio("x", "1/s", 5, 0, 0).value.isEmpty)
    assert(Metric.ratio("x", "1/s", 5, 2, 1).value.contains(2.5))
  }
}
