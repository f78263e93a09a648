package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Replaying a directory of files through Structured Streaming, one
  * file per micro-batch, with the file order pinned by modification
  * time. */
object Replay {
  /** Writes one JSON-lines file per element of `files` (already in
    * arrival order; each string one JSON object) under `dir`, with
    * strictly increasing mtimes so the file source lists them in
    * exactly that order. Plain file writes: staging costs no Spark
    * jobs, so set-up time is the program's, not the staging's. */
  def stage(dir: File, files: Seq[Seq[String]]): Unit = {
    dir.mkdirs()
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = new File(dir, f"f$i%04d.json")
      java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.setLastModified(1600000000000L + i * 10000L)
    }
  }

  /** Data micro-batches (rows in) of a finished query, oldest first. */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    dataBatchesOf(q.recentProgress.toSeq)

  def dataBatchesOf(progress: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    progress.filter(_.numInputRows > 0)

  def duration(p: StreamingQueryProgress, key: String): Option[Double] =
    Option(p.durationMs.get(key)).map(_.doubleValue)

  /** The streaming.* layer metrics over every progress event of the
    * traced window's queries. The state-store ones need a stateful
    * query, which no kept workload runs. */
  def layers(progress: Seq[StreamingQueryProgress]): Seq[Metric] = {
    val data = dataBatchesOf(progress)
    def d(key: String) = data.flatMap(duration(_, key))
    val stateless = Some("no workload in the benchmark runs a stateful stream")
    Seq(
      Metric.pct("streaming.trigger_ms_p50", "ms", d("triggerExecution"), 50),
      Metric.pct("streaming.add_batch_ms_p50", "ms", d("addBatch"), 50),
      Metric.pct("streaming.query_planning_ms_p50", "ms", d("queryPlanning"), 50),
      Metric.pct("streaming.wal_commit_ms_p50", "ms", d("walCommit"), 50),
      Metric.of("streaming.batches", "count", data.size.toDouble, progress.size.toLong),
      Metric.of("streaming.no_data_batches", "count", (progress.size - data.size).toDouble, progress.size.toLong),
      Metric("streaming.state_rows", "count", None, 0, stateless),
      Metric("streaming.state_bytes", "bytes", None, 0, stateless),
      Metric("streaming.rows_dropped_by_watermark", "count", None, 0, stateless))
  }
}

object Files {
  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(): Unit
  }
}

/** dedup_ingest: near-duplicate detection over a synthetic corpus
  * (phase A: MinHash pairs, then duplicate components), then
  * incremental ingest of file micro-batches against the corpus index
  * through Structured Streaming foreachBatch (phase B). */
object DedupIngest extends Workload {
  val name = "dedup_ingest"
  val CorpusDocs = 5000
  val Batches = 30
  val BatchDocs = 300
  val Threshold = 0.5
  val SetupReps = 3
  /** Nominal wall time of one pass of both phases. */
  val PassMs = 15000L
  /** Phase A runs this many times per pass: one run is a single
    * few-second timing, too few to be steady. */
  val PhaseAPasses = 2

  def docLines(docs: Seq[(Long, String)]): Seq[String] =
    docs.map { case (id, t) => Json.obj("doc_id" -> id.toString, "text" -> Json.str(t)) }

  final case class Inputs(corpus: Vector[(Long, String)], planted: Set[(Long, Long)],
                          batches: Vector[Vector[(Long, String)]], batchPlanted: Set[(Long, Long)])

  /** 10% of corpus docs are one-token edits of an earlier doc, 2% are
    * Jaccard≈0.3 decoys; each batch is 25% edits of corpus docs, 3%
    * edits of an earlier doc of the same batch, the rest fresh. */
  def generate(seed: Long): Inputs = {
    val vocab = DocGen.vocab(seed)
    val rng = Rng(seed, "docs")
    val corpus = ArrayBuffer.empty[(Long, Array[String])]
    val planted = Set.newBuilder[(Long, Long)]
    (0 until CorpusDocs).foreach { i =>
      val r = rng.double()
      val toks =
        if (i > 10 && r < 0.10) {
          val src = corpus(rng.int(corpus.size))
          planted += ((src._1, i.toLong))
          DocGen.edit(rng, vocab, src._2)
        } else if (i > 10 && r < 0.12) DocGen.decoy(rng, vocab, corpus(rng.int(corpus.size))._2)
        else DocGen.fresh(rng, vocab)
      corpus += ((i.toLong, toks))
    }
    val bp = Set.newBuilder[(Long, Long)]
    val batches = Vector.tabulate(Batches) { b =>
      val out = ArrayBuffer.empty[(Long, Array[String])]
      (0 until BatchDocs).foreach { j =>
        val id = 1000000L + b * 100000L + j
        val r = rng.double()
        val toks =
          if (r < 0.25) {
            val src = corpus(rng.int(corpus.size))
            bp += ((id, src._1))
            DocGen.edit(rng, vocab, src._2)
          } else if (r < 0.28 && out.nonEmpty) DocGen.edit(rng, vocab, out(rng.int(out.size))._2)
          else DocGen.fresh(rng, vocab)
        out += ((id, toks))
      }
      out.map { case (id, t) => (id, t.mkString(" ")) }.toVector
    }
    Inputs(corpus.map { case (id, t) => (id, t.mkString(" ")) }.toVector, planted.result(),
      batches, bp.result())
  }

  def digest(in: Inputs): String = {
    val d = new Digest
    in.corpus.foreach { case (id, t) => d.long(id).str(t) }
    in.batches.foreach(_.foreach { case (id, t) => d.long(id).str(t) })
    d.hex
  }

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val in = generate(ctx.seed)
    val texts = (in.corpus ++ in.batches.flatten).toMap
    val shingles = new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
    def sh(id: Long) = shingles.computeIfAbsent(id, i => DocGen.shingles(texts(i)))
    def exactJ(a: Long, b: Long) = DocGen.jaccard(sh(a), sh(b))

    // set-up: the corpus as a cached frame and the batch files staged
    // for replay, repeated; the last repetition's inputs are used
    var corpusDf: DataFrame = null
    var batchDir: File = null
    val setups = (0 until SetupReps).map { rep =>
      if (corpusDf != null) corpusDf.unpersist(blocking = true)
      val t0 = System.nanoTime()
      corpusDf = spark.createDataFrame(
        in.corpus.map { case (id, t) => org.apache.spark.sql.Row(id, t) }.asJava, schema)
        .repartition(ctx.cpus).cache()
      corpusDf.count()
      batchDir = new File(ctx.runDir, s"ingest-in-$rep")
      Replay.stage(batchDir, in.batches.map(docLines))
      (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def fail(msg: String): Unit = { failed += 1; if (failures.size < 50) failures += msg }

    final case class Iter(phaseAS: Double, batchMs: Seq[Double], probeMs: Seq[Double],
                          streamS: Double, foundA: Int, foundB: Int, rounds: Int,
                          verified: Long, candidates: Option[Long], indexS: Double)

    /** One pass of both phases over `corpus` and the batch files in
      * `dir`; `counted = false` is the untimed warm-up pass. */
    def iteration(n: Int, traced: Boolean, corpus: DataFrame = corpusDf, dir: File = batchDir,
                  batches: Int = Batches, counted: Boolean = true): Iter = {
      def check(ok: Boolean, msg: => String): Unit = if (counted && !ok) fail(msg)
      // phase A, PhaseAPasses times: self near-dups, then duplicate
      // components
      val passA = (1 to PhaseAPasses).map { _ =>
        val a0 = System.nanoTime()
        val pairs = tracer.span("dedup.minhash", n) {
          Dedup.minhashNearDups(corpus, "doc_id", "text", Threshold)
            .select(col("id_a"), col("id_b")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        val rounds = tracer.span("dedup.components", n) {
          val pdf = spark.createDataFrame(pairs.toSeq).toDF("id_a", "id_b")
          val (labels, r) = Dedup.duplicateComponentsWithRounds(pdf)
          labels.count()
          r
        }
        val sec = (System.nanoTime() - a0) / 1e9
        if (counted) attempted += 1
        val badA = pairs.filter { case (a, b) => exactJ(a, b) < Threshold }
        check(badA.isEmpty, s"phase A reported ${badA.length} pairs under Jaccard $Threshold, e.g. ${badA.head}")
        (sec, pairs, rounds)
      }
      val phaseAS = passA.map(_._1).sum
      val (_, pairs, rounds) = passA.last
      val norm = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val foundA = in.planted.count(p => norm.contains((math.min(p._1, p._2), math.max(p._1, p._2))))
      val candidates = if (traced) Some(tracer.span("dedup.candidates", n) {
        Dedup.minhashCandidatePairs(Dedup.minhashSignatures(corpus, "doc_id", "text")).count()
      }) else None

      // phase B: the corpus index, then the micro-batch replay with the
      // dedup_ingest_stream gate's probe arguments
      val i0 = System.nanoTime()
      val (shC, bandC) = tracer.span("dedup.corpus_index", n) {
        val (s, b) = Dedup.corpusIndex(corpus, "doc_id", "text")
        def parts(df: DataFrame): Int =
          (df.queryExecution.optimizedPlan.stats.sizeInBytes / (32L << 20))
            .min(BigInt(spark.sparkContext.defaultParallelism)).max(BigInt(1)).toInt
        (s.coalesce(parts(s)).localCheckpoint(true), b.coalesce(parts(b)).localCheckpoint(true))
      }
      val indexS = (System.nanoTime() - i0) / 1e9
      val found = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
      val probeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val ck = new File(ctx.runDir, s"ingest-ck-$n")
      val s0 = System.nanoTime()
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(dir.getPath)
        .writeStream.option("checkpointLocation", ck.getPath)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val p0 = System.nanoTime()
          tracer.span("dedup.probe", n) {
            Dedup.incrementalNearDupsAgainst(shC, bandC, batch, "doc_id", "text", Threshold,
                smallBatch = Some(true))
              .select(col("batch_id"), col("corpus_id"), col("jaccard")).collect()
              .foreach(r => found.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
          }
          probeMs.add((System.nanoTime() - p0) / 1e6)
          ()
        }
        .start()
      try q.awaitTermination() finally q.stop()
      val streamS = (System.nanoTime() - s0) / 1e9
      val data = Replay.dataBatches(q)
      if (counted) attempted += batches
      check(data.size == batches && data.map(_.numInputRows).sum == batches.toLong * BatchDocs,
        s"ingest replay ran ${data.size} data batches over ${data.map(_.numInputRows).sum} rows")
      val got = found.asScala.toVector
      val badB = got.filter { case (b, c, _) => exactJ(b, c) < Threshold }
      check(badB.isEmpty, s"ingest reported ${badB.size} pairs under Jaccard $Threshold, e.g. ${badB.head}")
      val gotSet = got.map { case (b, c, _) => (b, c) }.toSet
      Dedup.releaseScratch(spark)
      Files.rmTree(ck)
      Iter(phaseAS, data.flatMap(Replay.duration(_, "triggerExecution")), probeMs.asScala.toSeq,
        streamS, foundA, in.batchPlanted.count(gotSet.contains), rounds, pairs.length.toLong,
        candidates, indexS)
    }

    // a fixed number of passes for the window (one per PassMs, at
    // least one): a time-bounded loop would make the pass count, and
    // with it the warmth of the last pass, depend on the host's speed
    def passes(ms: Long, traced: Boolean, first: Int): Vector[Iter] =
      if (ms <= 0) Vector.empty
      else Vector.tabulate(math.max(1, (ms / PassMs).toInt))(i => iteration(first + i, traced))
    // warm-up: both phases once over a slice, so JIT and codegen
    // stay out of the first measured pass
    val warmDir = new File(ctx.runDir, "ingest-warm")
    Replay.stage(warmDir, in.batches.take(1).map(docLines))
    iteration(-1, traced = false, corpus = corpusDf.limit(CorpusDocs / 10), dir = warmDir,
      batches = 1, counted = false)
    val untraced = passes(ctx.untracedMs, traced = false, 0)
    val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
    val before = probe.map(_.snap())
    if (ctx.trace) tracer.start()
    val t0 = System.nanoTime()
    val traced = passes(ctx.tracedMs, traced = true, untraced.size)
    val tracedWallMs = (System.nanoTime() - t0) / 1e6
    val delta = for (p <- probe; b <- before) yield { val a = p.snap(); p.stop(); a.minus(b) }

    def e2e(its: Vector[Iter]): Seq[Metric] = {
      val planted = its.size.toDouble * (in.planted.size + in.batchPlanted.size)
      Seq(
        Metric.ratio("dedup_docs_per_s", "1/s", its.size.toDouble * PhaseAPasses * CorpusDocs,
          its.map(_.phaseAS).sum, its.size.toLong),
        Metric.pct("ingest_batch_p50_ms", "ms", its.flatMap(_.batchMs), 50),
        Metric.ratio("ingest_docs_per_s", "1/s", its.size.toDouble * Batches * BatchDocs,
          its.map(_.streamS).sum, its.size.toLong),
        Metric.ratio("dedup_pair_recall", "ratio", its.map(i => i.foundA + i.foundB).sum.toDouble,
          planted, its.size.toLong))
    }
    def meanS(name: String, ms: Seq[Double]) =
      Metric.ratio(name, "s", ms.sum / 1000, ms.size.toDouble, ms.size.toLong)
    val layers = delta.toSeq.flatMap { d =>
      val ops = traced.size.toLong * (PhaseAPasses + Batches)
      val verified = traced.map(_.verified).sum
      val cands = traced.flatMap(_.candidates).sum
      Seq(
        meanS("dedup.minhash_s", tracer.durationsMs("dedup.minhash")),
        meanS("dedup.components_s", tracer.durationsMs("dedup.components")),
        Metric.ratio("dedup.components_rounds", "count", traced.map(_.rounds).sum, traced.size, traced.size),
        Metric.ratio("dedup.candidate_pairs", "count", cands, traced.size, traced.size),
        Metric.ratio("dedup.verified_pairs", "count", verified, traced.size, traced.size),
        Metric.ratio("dedup.verify_yield", "ratio", verified, cands, traced.size),
        Metric.ratio("dedup.corpus_index_s", "s", traced.map(_.indexS).sum, traced.size, traced.size),
        Metric.pct("dedup.probe_ms_p50", "ms", traced.flatMap(_.probeMs), 50),
        Metric.of("dedup.broadcast_bytes_max", "bytes", d.broadcastBytesMax.toDouble, ops)) ++
        Replay.layers(probe.get.progress.asScala.toSeq) ++
        SparkProbe.perOp(d, ops, tracedWallMs)
    }
    Report(
      inputs = Seq("corpus_docs" -> CorpusDocs.toLong, "planted_pairs" -> in.planted.size.toLong,
        "batches" -> Batches.toLong, "batch_docs" -> BatchDocs.toLong,
        "batch_planted_pairs" -> in.batchPlanted.size.toLong,
        "iterations_untraced" -> untraced.size.toLong, "iterations_traced" -> traced.size.toLong),
      digest = digest(in), setupS = setups, metrics = e2e(untraced),
      throughputKey = "dedup_docs_per_s", latencyKey = "ingest_batch_p50_ms",
      attempted = attempted, failed = failed, failures = failures.toSeq,
      layers = layers, traced = if (ctx.trace) e2e(traced) else Nil, spans = tracer.spans)
  }
}
