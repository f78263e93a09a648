package perfbench

/** One reported number. `value` is None when the metric cannot be
  * computed honestly from this run (too few samples, layer not used);
  * `note` then says why. */
final case class Metric(name: String, unit: String, value: Option[Double],
                        samples: Long, note: Option[String] = None) {
  require(Stats.validName(name), s"metric name '$name' must match ${Stats.NamePattern}")
}

object Metric {
  def of(name: String, unit: String, value: Double, samples: Long): Metric =
    Metric(name, unit, Some(value), samples)

  /** A percentile of `xs`, null with the reason when too few samples
    * lie beyond it (see [[Stats.percentile]]). */
  def pct(name: String, unit: String, xs: Seq[Double], p: Double): Metric = {
    val r = Stats.percentile(xs, p)
    Metric(name, unit, r.value, xs.size.toLong, r.reason)
  }

  /** Total ÷ count, null when the count is zero. */
  def ratio(name: String, unit: String, num: Double, den: Double,
            samples: Long): Metric =
    if (den <= 0) Metric(name, unit, None, samples, Some("denominator is zero"))
    else Metric(name, unit, Some(num / den), samples)
}

object Stats {
  val NamePattern = "[A-Za-z0-9_.-]+"
  private val nameRe = NamePattern.r

  def validName(s: String): Boolean = nameRe.matches(s)

  /** The fewest samples that must rank strictly above a reported
    * percentile; with fewer, the tail is a handful of points and the
    * percentile is noise. */
  val MinBeyond = 10

  final case class Pct(value: Option[Double], reason: Option[String])

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`. The value is
    * the sample at rank ceil(p/100 · n); the samples beyond it are the
    * n − rank ranked above. Null, with the reason, when fewer than
    * [[MinBeyond]] samples lie beyond it — so a p50 needs 20 samples
    * and a p90 needs 100. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val n = xs.size
    val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
    val beyond = n - rank
    if (n == 0) Pct(None, Some("no samples"))
    else if (beyond < MinBeyond)
      Pct(None, Some(s"$beyond of $n samples lie beyond p${fmt(p)}; $MinBeyond needed"))
    else Pct(Some(xs.sorted.apply(rank - 1)), None)
  }

  /** Median of a handful of repeated measurements (set-up repetitions,
    * whole-replay timings): the middle value, or the mean of the two
    * middle values. Unlike [[percentile]] it has no sample floor — it
    * summarizes repetitions, not a latency distribution. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def fmt(p: Double): String =
    if (p == p.floor) p.toLong.toString else p.toString
}
