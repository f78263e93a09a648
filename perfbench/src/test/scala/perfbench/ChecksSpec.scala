package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val rng = Rng(1, "checks")
  private val cs = VectorGen.centres(1)
  private val lib: Map[String, ModelChunk] = (0 until 200).map { i =>
    f"c$i%03d" -> ModelChunk("d", VectorGen.point(rng, cs), VectorGen.Types(i % 8))
  }.toMap
  private val q = VectorGen.point(rng, cs)
  private def asHits(xs: Seq[(String, Double)]) =
    xs.map { case (id, s) => HitView(id, s, lib(id).ctype) }.toVector

  test("the oracle's own answer passes every check") {
    val hs = asHits(Oracle.topK(lib, q, 10, None))
    assert(Checks.shape(hs, 10).isEmpty)
    assert(Checks.exact(hs, lib, q, 10, None).isEmpty)
    assert(Checks.recall(hs, lib, q, 10) == 1.0)
  }

  test("a wrong, short or unsorted answer fails") {
    val want = Oracle.topK(lib, q, 11, None)
    val wrong = asHits(want.take(9) :+ want(10))
    assert(Checks.exact(wrong, lib, q, 10, None).nonEmpty)
    assert(Checks.exact(asHits(want.take(9)), lib, q, 10, None).nonEmpty)
    assert(Checks.shape(asHits(want.take(10).reverse), 10).nonEmpty)
    assert(Checks.shape(asHits(want), 10).nonEmpty)
  }

  test("filtered answers must match the filter and hold min(k, matching)") {
    val hs = asHits(Oracle.topK(lib, q, 10, Some("t3")))
    assert(Checks.filtered(hs, lib, 10, "t3").isEmpty)
    assert(Checks.filtered(hs.take(5), lib, 10, "t3").nonEmpty)
    assert(Checks.filtered(hs, lib, 10, "t4").nonEmpty)
  }
}
