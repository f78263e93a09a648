package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def chunks(seed: Long) = VectorGen.digest(new Digest, VectorGen.library(seed, 2, 300, 3)).hex
  private def docs(seed: Long) = DedupIngest.digest(DedupIngest.generate(seed))

  test("the same seed gives the same inputs") {
    assert(chunks(7) == chunks(7))
    assert(docs(7) == docs(7))
  }

  test("another seed gives other inputs") {
    assert(chunks(7) != chunks(8))
    assert(docs(7) != docs(8))
  }

  test("chunk types follow the skewed weights") {
    val cs = VectorGen.library(3, 1, 20000, 1)
    val share = cs.groupBy(_.ctype).view.mapValues(_.size / 20000.0).toMap
    assert(math.abs(share("t0") - 0.34) < 0.02)
    assert(math.abs(share("t7") - 0.01) < 0.005)
    assert(cs.forall(_.vec.length == VectorGen.Dim))
  }

  test("planted near-duplicates clear the threshold and decoys do not") {
    val in = DedupIngest.generate(5)
    val text = in.corpus.toMap
    def j(a: Long, b: Long) = DocGen.jaccard(DocGen.shingles(text(a)), DocGen.shingles(text(b)))
    assert(in.planted.nonEmpty && in.planted.forall { case (a, b) => j(a, b) >= DedupIngest.Threshold })
    val rng = Rng(5, "decoy-test")
    val vocab = DocGen.vocab(5)
    val base = DocGen.fresh(rng, vocab)
    val d = DocGen.jaccard(DocGen.shingles(base.mkString(" ")),
      DocGen.shingles(DocGen.decoy(rng, vocab, base).mkString(" ")))
    assert(d > 0.2 && d < DedupIngest.Threshold)
  }
}
