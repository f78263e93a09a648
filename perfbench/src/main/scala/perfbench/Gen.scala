package perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest

/** Seeded input generators for every workload. The seed is the only
  * source of randomness: the same seed gives byte-identical inputs, and
  * [[Digest]] over them proves it (GenSpec pins that). The program
  * under test only ever sees what these return. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  private var spare = Double.NaN

  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hiInclusive: Int): Int = lo + r.nextInt(hiInclusive - lo + 1)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p

  /** Standard normal by Box–Muller, so the stream does not depend on
    * a JDK's nextGaussian implementation. */
  def gaussian(): Double =
    if (!spare.isNaN) { val g = spare; spare = Double.NaN; g }
    else {
      var u = 0.0
      while (u == 0.0) u = r.nextDouble()
      val v = r.nextDouble()
      val m = math.sqrt(-2.0 * math.log(u))
      spare = m * math.sin(2 * math.Pi * v)
      m * math.cos(2 * math.Pi * v)
    }

  /** Index drawn with probability proportional to `weights`. */
  def weighted(weights: Array[Double]): Int = {
    var x = r.nextDouble() * weights.sum
    var i = 0
    while (i < weights.length - 1 && x >= weights(i)) { x -= weights(i); i += 1 }
    i
  }
}

object Rng {
  /** An independent stream per (seed, purpose), so adding a draw to one
    * generator never shifts another's inputs. */
  def apply(seed: Long, purpose: String): Rng =
    new Rng(new java.util.SplittableRandom(seed ^ purpose.hashCode.toLong * 0x9E3779B97F4A7C15L).nextLong())
}

/** SHA-256 over a canonical byte encoding of generated inputs; printed
  * with every run so two runs can be shown to share inputs. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private val buf = ByteBuffer.allocate(8)
  def long(x: Long): Digest = { buf.clear(); buf.putLong(x); md.update(buf.array(), 0, 8); this }
  def double(x: Double): Digest = long(java.lang.Double.doubleToLongBits(x))
  def str(s: String): Digest = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    long(b.length.toLong); md.update(b); this
  }
  def floats(v: Array[Float]): Digest = {
    long(v.length.toLong); v.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong)); this
  }
  def hex: String = md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
}

/** One generated chunk: library ordinal, document ordinal, text,
  * 64-d embedding, metadata `type`. */
final case class ChunkGen(lib: Int, doc: Int, text: String, vec: Array[Float], ctype: String)

object VectorGen {
  val Dim = 64
  val Clusters = 25
  val Sigma = 0.1

  /** Metadata `type` values: t0 holds about a third of rows, t7 about
    * 1% — the common and rare ends of the filtered-search ladder. */
  val Types: Array[String] = Array.tabulate(8)(i => s"t$i")
  val TypeWeights: Array[Double] = Array(0.34, 0.2, 0.15, 0.1, 0.09, 0.06, 0.05, 0.01)

  /** Unit-norm cluster centres, the clustered ANN fixture's shape. */
  def centres(seed: Long): Array[Array[Double]] = {
    val rng = Rng(seed, "centres")
    Array.fill(Clusters) {
      val c = Array.fill(Dim)(rng.gaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
  }

  def around(rng: Rng, centre: Array[Double], sigma: Double): Array[Float] =
    Array.tabulate(Dim)(i => (centre(i) + sigma * rng.gaussian()).toFloat)

  def point(rng: Rng, cs: Array[Array[Double]]): Array[Float] =
    around(rng, cs(rng.int(cs.length)), Sigma)

  /** A small perturbation of `q`: the next query of an interactive
    * session, overlapping the previous one's neighbourhood. */
  def perturb(rng: Rng, q: Array[Float], step: Double = 0.03): Array[Float] =
    q.map(x => (x + step * rng.gaussian()).toFloat)

  private val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")

  def text(rng: Rng): String = Seq.fill(6)(words(rng.int(words.length))).mkString(" ")

  /** `perLib` chunks for each of `libs` libraries, `docsPerLib`
    * documents each. */
  def library(seed: Long, libs: Int, perLib: Int, docsPerLib: Int): Vector[ChunkGen] = {
    val cs = centres(seed)
    val rng = Rng(seed, "chunks")
    (for (l <- 0 until libs; i <- 0 until perLib) yield
      ChunkGen(l, i % docsPerLib, text(rng), point(rng, cs),
        Types(rng.weighted(TypeWeights)))).toVector
  }

  def digest(d: Digest, chunks: Seq[ChunkGen]): Digest = {
    chunks.foreach { c =>
      d.long(c.lib.toLong).long(c.doc.toLong).str(c.text).floats(c.vec).str(c.ctype)
    }
    d
  }
}

/** Synthetic documents for the dedup workload. */
object DocGen {
  val VocabSize = 5000

  /** Lower-case letter words, single-space separated, so every
    * whitespace tokenizer agrees with the in-harness shingler. */
  def vocab(seed: Long): Array[String] = {
    val rng = Rng(seed, "vocab")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize)
      seen += Seq.fill(rng.between(3, 9))(('a' + rng.int(26)).toChar).mkString
    seen.toArray
  }

  def fresh(rng: Rng, vocab: Array[String]): Array[String] =
    Array.fill(rng.between(80, 200))(vocab(rng.int(vocab.length)))

  /** One-token edit: a near-duplicate (Jaccard of 3-shingles ≈ 0.95). */
  def edit(rng: Rng, vocab: Array[String], toks: Array[String]): Array[String] = {
    val t = toks.clone()
    t(rng.int(t.length)) = vocab(rng.int(vocab.length))
    t
  }

  /** A decoy: shares a contiguous run of ~46% of `toks`, the rest
    * fresh — Jaccard near 0.3, under the 0.5 threshold. */
  def decoy(rng: Rng, vocab: Array[String], toks: Array[String]): Array[String] = {
    val run = (toks.length * 0.46).toInt
    val start = rng.int(toks.length - run + 1)
    toks.slice(start, start + run) ++ Array.fill(toks.length - run)(vocab(rng.int(vocab.length)))
  }

  /** Exact Jaccard of distinct word 3-shingle sets. */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}
