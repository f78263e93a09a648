package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run. `runDir` is the run's
  * private scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
                     runDir: File, cpus: Int) {
  /** The measured window: all untraced, or (traced run) an untraced
    * first half, for the overhead ratio, then a traced second half. */
  def untracedMs: Long = if (trace) seconds * 500L else seconds * 1000L
  def tracedMs: Long = if (trace) seconds * 1000L - untracedMs else 0L
}

/** What a workload hands back. `metrics` are its end-to-end figures
  * (untraced); `throughputKey` and `latencyKey` name the two of them
  * that stand for the benchmark's generic `throughput_per_s` and
  * `latency_p50_ms`. `traced` repeats end-to-end figures measured in
  * the traced half; `layers` are the per-layer figures. */
final case class Report(inputs: Seq[(String, Long)], digest: String,
                        setupS: Seq[Double], metrics: Seq[Metric],
                        throughputKey: String, latencyKey: String,
                        attempted: Long, failed: Long, failures: Seq[String],
                        layers: Seq[Metric] = Nil, traced: Seq[Metric] = Nil,
                        spans: Seq[Span] = Nil)

trait Workload {
  def name: String
  def run(ctx: Ctx): Report
}

object Main {
  val Workloads: Seq[Workload] =
    Seq(SearchSession, DedupIngest)

  /** The generic end-to-end metrics every workload reports in the
    * result line (BENCHMARK.json `end_to_end`). */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms")

  /** The per-layer metrics every workload reports in the traced
    * result line (BENCHMARK.json `per_layer`): the Spark and planning
    * attribution, which every workload exercises. Layer-specific
    * figures are printed on LAYER lines. */
  val PerLayer: Seq[String] = Seq(
    "plans.query_executions_per_op", "plans.planning_ms_per_op",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.task_cpu_ms_per_op", "spark.job_wall_ms_per_op",
    "spark.shuffle_bytes_per_op", "spark.gc_ms_per_op",
    "spark.codegen_compiles_per_op", "spark.driver_remainder_ms_per_op")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" + Workloads.map(_.name).mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"--$k is required"))
    val wl = Workloads.find(_.name == opt("workload"))
      .getOrElse(usage(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = opt("seconds").toIntOption.filter(_ > 0)
      .getOrElse(usage("--seconds must be a positive integer"))
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }

    val cpus = Runtime.getRuntime.availableProcessors()
    val canaryBefore = Canary.measureMs()
    val runDir = new File(sys.props.getOrElse("perfbench.runDir", "perfbench-run")).getAbsoluteFile
    runDir.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = Ctx(spark, seed, seconds, trace, runDir, cpus)
    val rep = wl.run(ctx)
    val canaryAfter = Canary.measureMs()

    val record = Seq(
      "workload" -> Json.str(wl.name), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (trace) "1" else "0"),
      "nproc" -> cpus.toString, "master" -> Json.str(s"local[$cpus]"),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
      "jdk" -> Json.str(s"${sys.props("java.vendor")} ${sys.props("java.runtime.version")}"),
      "spark" -> Json.str(spark.version),
      "commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "source_digest" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown")),
      "canary_before_ms" -> Json.num(canaryBefore),
      "canary_after_ms" -> Json.num(canaryAfter))
    println("RECORD " + Json.obj(record: _*))
    println("INPUT " + Json.obj(
      (rep.inputs.map { case (k, v) => k -> v.toString } :+ ("digest" -> Json.str(rep.digest))): _*))

    val setup = Metric.of("setup_s", "s", Stats.median(rep.setupS), rep.setupS.size.toLong)
    val failedRatio = Metric.ratio("failed_ratio", "ratio", rep.failed.toDouble,
      rep.attempted.toDouble, rep.attempted)
    (setup +: failedRatio +: rep.metrics).foreach(m => println("METRIC " + Json.metric(m)))
    rep.failures.take(20).foreach(f => println("FAILURE " + Json.str(f)))
    if (trace) {
      rep.layers.foreach(m => println("LAYER " + Json.metric(m)))
      // tracing overhead: each end-to-end figure of the traced half
      // over the same figure of the untraced half
      rep.traced.foreach { t =>
        rep.metrics.find(_.name == t.name).foreach { u =>
          val r = for (a <- t.value; b <- u.value if b != 0) yield a / b
          println("OVERHEAD " + Json.obj("name" -> Json.str(t.name),
            "traced" -> Json.opt(t.value), "untraced" -> Json.opt(u.value),
            "ratio" -> Json.opt(r)))
        }
      }
      val (sums, leaks) = Tracer.summarize(rep.spans)
      sums.foreach(s => println("SPAN " + Json.obj("name" -> Json.str(s.name),
        "count" -> s.count.toString, "total_ms" -> Json.num(s.totalMs),
        "self_ms" -> Json.num(s.selfMs))))
      println("SPANS " + Json.obj("spans" -> rep.spans.size.toString,
        "children_outside_parent" -> leaks.toString))
      writeSpans(new File(runDir, "spans.tsv"), rep.spans)
    }

    val byName = (setup +: rep.metrics).map(m => m.name -> m).toMap
    val chosen: Seq[(String, Metric)] =
      if (trace) PerLayer.map(n => n -> rep.layers.find(_.name == n).orNull)
      else Seq("setup_s" -> byName.get("setup_s").orNull,
        "throughput_per_s" -> byName.get(rep.throughputKey).orNull,
        "latency_p50_ms" -> byName.get(rep.latencyKey).orNull)
    val missing = chosen.filter { case (_, m) => m == null || m.value.isEmpty }
    spark.stop()
    if (missing.nonEmpty) {
      System.err.println("perfbench: no value for " + missing.map { case (n, m) =>
        n + Option(m).flatMap(_.note).map(r => s" ($r)").getOrElse("") }.mkString(", "))
      sys.exit(1)
    }
    val metrics = chosen.map { case (n, m) =>
      val unit = EndToEnd.toMap.getOrElse(n, m.unit)
      n -> Json.obj("value" -> Json.num(m.value.get), "unit" -> Json.str(unit))
    }
    println(Json.obj("correct" -> (rep.failed == 0).toString,
      "attempted" -> rep.attempted.toString, "failed" -> rep.failed.toString,
      "metrics" -> Json.obj(metrics: _*)))
    System.out.flush()
    sys.exit(0)
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("id\tname\tstart_ns\tend_ns\tparent\top")
      spans.sortBy(_.startNs).foreach(s =>
        w.println(s"${s.id}\t${s.name}\t${s.startNs}\t${s.endNs}\t${s.parent}\t${s.op}"))
    } finally w.close()
  }
}

/** A fixed pure-JVM timing (no Spark, no I/O) taken before and after
  * the workload: if it moves between runs, the host was loaded, not
  * the program slower. Median of five. */
object Canary {
  def measureMs(): Double = {
    val xs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val rng = new java.util.SplittableRandom(7L)
      val a = Array.fill(400000)(rng.nextDouble())
      java.util.Arrays.sort(a)
      var h = 0L
      var i = 0
      while (i < a.length) { h = h * 31 + java.lang.Double.doubleToLongBits(a(i)); i += 1 }
      if (h == 42L) println("") // keep the loop observable
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(xs)
  }
}
