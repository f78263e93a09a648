package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.api.HttpApi
import graft.embed.HashingEmbedder
import graft.index.IndexCache
import graft.search.{AtRestIndexBridge, SearchService}
import graft.state.Engine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One chunk as the harness believes the engine holds it. */
final case class ModelChunk(doc: String, vec: Array[Float], ctype: String)

/** Exact in-harness search, the oracle every REST answer is checked
  * against. Cosine is computed exactly as the engine's native
  * expression does (float inputs, double accumulation); ties break on
  * chunk id ascending, as the engine's brute route does. */
object Oracle {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot, na, nb = 0.0
    var i = 0
    while (i < n) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    i = 0
    while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
    i = 0
    while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def topK(lib: collection.Map[String, ModelChunk], q: Array[Float], k: Int,
           filter: Option[String]): Vector[(String, Double)] =
    lib.iterator.filter { case (_, c) => filter.forall(_ == c.ctype) }
      .map { case (id, c) => (id, cosine(c.vec, q)) }.toVector
      .sortBy { case (id, s) => (-s, id) }.take(k)

  val Tol = 1e-9
}

/** One returned hit: chunk id, reported score, metadata type. */
final case class HitView(id: String, score: Double, ctype: String)

object Checks {
  def hits(node: JsonNode): Vector[HitView] =
    node.get("hits").elements().asScala.map { h =>
      HitView(h.get("chunk_id").asText(), h.get("score").asDouble(),
        Option(h.get("metadata")).flatMap(m => Option(m.get("type"))).map(_.asText()).orNull)
    }.toVector

  /** Every route: at most k hits, distinct ids, sorted by score. */
  def shape(hs: Vector[HitView], k: Int): Option[String] =
    if (hs.size > k) Some(s"${hs.size} hits > k=$k")
    else if (hs.map(_.id).distinct.size != hs.size) Some("duplicate hit ids")
    else if (hs.zip(hs.drop(1)).exists { case (a, b) => a.score < b.score - Oracle.Tol })
      Some("hits not sorted by score")
    else None

  /** Filtered routes: every hit matches the filter, in the response and
    * in the harness model, and the guaranteed-k contract holds:
    * min(k, matching) hits. */
  def filtered(hs: Vector[HitView], lib: collection.Map[String, ModelChunk], k: Int,
               ftype: String): Option[String] = {
    val bad = hs.filter(h => h.ctype != ftype || lib.get(h.id).exists(_.ctype != ftype))
    val matching = lib.valuesIterator.count(_.ctype == ftype)
    if (bad.nonEmpty) Some(s"${bad.size} hits violate filter type=$ftype")
    else if (hs.size != math.min(k, matching))
      Some(s"filtered type=$ftype returned ${hs.size} hits, expected ${math.min(k, matching)}")
    else None
  }

  /** Brute routes: the top-k equals the oracle's, with every score
    * recomputed from the harness's copy of the vectors. Positions may
    * swap only between exactly tied scores. */
  def exact(hs: Vector[HitView], lib: collection.Map[String, ModelChunk], q: Array[Float],
            k: Int, filter: Option[String]): Option[String] = {
    val want = Oracle.topK(lib, q, k, filter)
    if (hs.size != want.size) return Some(s"brute returned ${hs.size} hits, oracle ${want.size}")
    hs.zip(want).zipWithIndex.collectFirst {
      case ((h, (wid, ws)), i) if !lib.contains(h.id) => s"hit $i id ${h.id} not in library"
      case ((h, (wid, ws)), i) if {
        val rs = Oracle.cosine(lib(h.id).vec, q)
        math.abs(rs - ws) > Oracle.Tol || math.abs(h.score - rs) > 1e-6
      } => s"hit $i is ${h.id} (${h.score}), oracle has $wid ($ws)"
    }
  }

  def recall(hs: Vector[HitView], lib: collection.Map[String, ModelChunk], q: Array[Float],
             k: Int): Double = {
    val want = Oracle.topK(lib, q, k, None).map(_._1).toSet
    if (want.isEmpty) 1.0 else hs.count(h => want.contains(h.id)).toDouble / want.size
  }

  def indexUsed(node: JsonNode): String = Option(node.get("index_used")).map(_.asText()).orNull
  def atRest(used: String): Boolean = used != null && (used.startsWith("at_rest_") || used.endsWith("_at_rest"))
}

/** The served system of search_session: an Engine loaded with the
  * generated chunks, an AtRestIndexBridge with each library registered
  * under its kind, and HttpApi on loopback over both. */
final class Served(val engine: Engine, val bridge: AtRestIndexBridge, val api: HttpApi,
                   val port: Int, val libIds: Vector[String], val docIds: Vector[Vector[String]],
                   val model: Vector[ConcurrentHashMap[String, ModelChunk]],
                   val registerS: Map[String, Double], val layoutDirs: Map[String, String]) {
  def stop(): Unit = api.stop()
}

object Served {
  val Embedder: HashingEmbedder = HashingEmbedder(dim = VectorGen.Dim)

  def build(ctx: Ctx, chunks: Vector[ChunkGen], libs: Int, docsPerLib: Int,
            kindOf: Int => String, rep: Int): Served = {
    val spark = ctx.spark
    val ids = new AtomicLong(0)
    val engine = new Engine(newId = () => f"n${ids.incrementAndGet()}%08d")
    val libIds = Vector.tabulate(libs)(l => engine.createLibrary(s"lib$l").id)
    val docIds = libIds.map(lid => Vector.tabulate(docsPerLib)(d => engine.addDocument(lid, s"doc$d").id))
    val model = Vector.fill(libs)(new ConcurrentHashMap[String, ModelChunk]())
    chunks.zipWithIndex.foreach { case (c, i) =>
      val id = f"c$i%07d"
      engine.addChunk(libIds(c.lib), docIds(c.lib)(c.doc), c.text, Some(c.vec),
        Map("type" -> c.ctype), id = Some(id))
      model(c.lib).put(id, ModelChunk(docIds(c.lib)(c.doc), c.vec, c.ctype))
    }
    val bridge = new AtRestIndexBridge(
      baseDir = new java.io.File(ctx.runDir, s"at-rest-$rep").getPath)
    val regS = scala.collection.mutable.Map.empty[String, Double]
    val dirs = scala.collection.mutable.Map.empty[String, String]
    libIds.indices.foreach { l =>
      val kind = kindOf(l)
      val t0 = System.nanoTime()
      val path = kind match {
        case "lsh" => bridge.register(spark, engine, libIds(l))
        case "ivf" => bridge.registerIvf(spark, engine, libIds(l))
        case "hnsw" => bridge.registerHnsw(spark, engine, libIds(l))
      }
      if (!regS.contains(kind)) {
        regS(kind) = (System.nanoTime() - t0) / 1e9
        dirs(kind) = path
      }
    }
    val api = new HttpApi(spark, engine, Embedder, atRest = Some(bridge))
    val port = api.start(0)
    new Served(engine, bridge, api, port, libIds, docIds, model, regS.toMap, dirs.toMap)
  }

  /** Layout size on disk ÷ raw vector bytes, and file count. */
  def layoutStats(dir: String, vectors: Long): (Double, Long) = {
    val files = Option(new java.io.File(dir)).toSeq.flatMap(walk).filter(_.isFile)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    val bytes = files.map(_.length).sum.toDouble
    (bytes / (vectors * VectorGen.Dim * 4.0), files.size.toLong)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** The per-request engine work of SearchService before any index is
    * touched: the chunk view, the library + metadata filter and the
    * first-row probe. */
  def chunksDfProbe(spark: SparkSession, engine: Engine, libId: String,
                    filter: Option[String]): Unit = {
    val base = engine.chunksDF(spark)
      .where(col("library_id") === libId && col("embedding").isNotNull)
    val f = filter.fold(base)(t => base.where(col("metadata").getItem("type") === t))
    f.select(col("embedding")).limit(1).collect(): Unit
  }
}

/** One finished operation of search_session. */
final case class OpRec(kind: String, ms: Double, bytes: Int,
                       used: Seq[String] = Nil, lshRoute: Boolean = false,
                       filtered: Boolean = false, recall: Seq[Double] = Nil,
                       lib: Int = -1)

/** search_session: one closed-loop client replays interactive
  * sessions of successive, overlapping top-k queries over three
  * libraries registered as LSH, IVF and HNSW. Read-only. */
object SearchSession extends Workload {
  val name = "search_session"
  val K = 10
  val SetupReps = 3

  def searchBody(q: Array[Float], index: String, filter: Option[String]): String =
    Json.obj(Seq("query_embedding" -> Rest.vec(q), "k" -> K.toString, "index" -> Json.str(index)) ++
      filter.map(t => "filters" -> Json.obj("type" -> Json.str(t))): _*)

  /** Failed checks, counted, the first 50 kept verbatim. */
  final class Failures {
    val count = new LongAdder
    val first = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def fail(msg: String): Unit = { count.increment(); if (first.size < 50) first.add(msg) }
    def check(r: Option[String]): Unit = r.foreach(fail)
  }

  /** Untimed operations issued first, so JIT and codegen warm-up stay
    * out of the measured window. */
  val WarmOps = 6

  /** A window runs until it is spent AND each latency it reports has
    * this many samples, for at most 4× the window: 30 in an untraced
    * run; 20, the least a p50 needs, in each half of a traced run. */
  def minSamples(ctx: Ctx): Int = if (ctx.trace) 20 else 30

  val Libs = 3
  val PerLib = 500
  val DocsPerLib = 10
  val SessionLen = 10
  val BatchSize = 8
  val Kinds = Vector("lsh", "ivf", "hnsw")

  def run(ctx: Ctx): Report = {
    val chunks = VectorGen.library(ctx.seed, Libs, PerLib, DocsPerLib)
    val digest = VectorGen.digest(new Digest, chunks).hex
    val tracer = new Tracer
    var served: Served = null
    val setups = (0 until SetupReps).map { rep =>
      if (served != null) served.stop()
      val t0 = System.nanoTime()
      served = Served.build(ctx, chunks, Libs, DocsPerLib, Kinds, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val s = served
    val fails = new Failures
    val rest = new Rest(s.port)
    val centres = VectorGen.centres(ctx.seed)
    val rng = Rng(ctx.seed, "session-ops")
    val dspark = ctx.spark.newSession()
    val direct = new SearchService(dspark, s.engine, Some(Served.Embedder),
      indexCache = Some(new IndexCache()), atRest = Some(s.bridge))
    // created at the traced half, so the untraced half runs bare
    lazy val probe = new SparkProbe(ctx.spark)
    var lib = 0
    var q: Array[Float] = null
    var opNo = 0L

    // the request mix is stratified: every block of 20 requests holds
    // exactly the mix below in a seeded order, sessions take the
    // libraries in turn and filtered requests cycle their filter
    // value, so a run's figures do not hinge on how a seed happened
    // to split a few dozen requests between routes of very different
    // cost
    val block = Vector.fill(10)("lsh") ++ Vector.fill(3)("filtered") ++
      Vector.fill(2)("text") ++ Vector.fill(2)("brute") ++ Vector.fill(3)("batch")
    var schedule = Iterator.empty[String]
    var filteredNo = 0

    def nextOp(traced: Boolean): OpRec = {
      if (opNo % SessionLen == 0) {
        lib = (opNo / SessionLen % Libs).toInt
        q = VectorGen.point(rng, centres)
      } else q = VectorGen.perturb(rng, q)
      if (!schedule.hasNext) schedule = shuffle(rng, block).iterator
      opNo += 1
      val op = opNo
      val m = s.model(lib).asScala
      val route = schedule.next()
      if (traced) {
        // the per-request engine work and a text embedding, timed on
        // every traced request whatever its route
        probe.direct(tracer.span("state.chunks_df", op) {
          Served.chunksDfProbe(dspark, s.engine, s.libIds(lib), None)
        })
        tracer.span("embed.text", op)(Served.Embedder.embedAt(VectorGen.text(rng), VectorGen.Dim))
      }
      if (route == "lsh") {
        val rep = rest.post(s"/libraries/${s.libIds(lib)}/search", searchBody(q, "lsh", None))
        val ok = rep.status == 200
        if (!ok) fails.fail(s"lsh search status ${rep.status}")
        val hs = if (ok) Checks.hits(rep.json) else Vector.empty
        if (ok) fails.check(Checks.shape(hs, K))
        val used = if (ok) Checks.indexUsed(rep.json) else null
        if (traced) probe.direct(tracer.span("search.direct.search", op) {
          direct.search(s.libIds(lib), queryEmbedding = Some(q), k = K, index = "lsh")
        })
        OpRec("search", rep.ms, rep.bytes, Seq(used), lshRoute = true,
          recall = if (ok && Checks.atRest(used)) Seq(Checks.recall(hs, m, q, K)) else Nil,
          lib = lib)
      } else if (route == "filtered") {
        // the guaranteed-k ladder: filtered lsh over an LSH or IVF
        // registration (HNSW has no filtered form)
        filteredNo += 1
        val fl = if (Kinds(lib) == "hnsw") filteredNo % 2 else lib
        val ftype = filteredNo % 3 match {
          case 0 => VectorGen.Types.last // the 1% value
          case 1 => VectorGen.Types.head // the third
          case _ => VectorGen.Types(1 + rng.int(6))
        }
        val fm = s.model(fl).asScala
        val rep = rest.post(s"/libraries/${s.libIds(fl)}/search",
          searchBody(q, "lsh", Some(ftype)))
        val ok = rep.status == 200
        if (!ok) fails.fail(s"filtered search status ${rep.status}")
        val hs = if (ok) Checks.hits(rep.json) else Vector.empty
        if (ok) fails.check(Checks.shape(hs, K).orElse(Checks.filtered(hs, fm, K, ftype)))
        val used = if (ok) Checks.indexUsed(rep.json) else null
        if (traced) probe.direct(tracer.span("search.direct.search", op) {
          direct.search(s.libIds(fl), queryEmbedding = Some(q), k = K, index = "lsh",
            filters = Map("type" -> ftype))
        })
        OpRec("search", rep.ms, rep.bytes, Seq(used), lshRoute = true, filtered = true)
      } else if (route == "text") {
        val text = VectorGen.text(rng)
        val body = Json.obj("query_text" -> Json.str(text), "k" -> K.toString, "index" -> Json.str("brute"))
        val rep = rest.post(s"/libraries/${s.libIds(lib)}/search", body)
        val ok = rep.status == 200
        if (!ok) fails.fail(s"text search status ${rep.status}")
        val tv = Served.Embedder.embedAt(text, VectorGen.Dim)
        if (ok) {
          val hs = Checks.hits(rep.json)
          fails.check(Checks.shape(hs, K).orElse(Checks.exact(hs, m, tv, K, None)))
        }
        if (traced) probe.direct(tracer.span("search.direct.search", op) {
          direct.search(s.libIds(lib), queryText = Some(text), k = K, index = "brute")
        })
        OpRec("search", rep.ms, rep.bytes)
      } else if (route == "brute") {
        val rep = rest.post(s"/libraries/${s.libIds(lib)}/search", searchBody(q, "brute", None))
        val ok = rep.status == 200
        if (!ok) fails.fail(s"brute search status ${rep.status}")
        if (ok) {
          val hs = Checks.hits(rep.json)
          fails.check(Checks.shape(hs, K).orElse(Checks.exact(hs, m, q, K, None)))
        }
        if (traced) probe.direct(tracer.span("search.direct.search", op) {
          direct.search(s.libIds(lib), queryEmbedding = Some(q), k = K, index = "brute")
        })
        OpRec("search", rep.ms, rep.bytes)
      } else {
        val qs = Vector.iterate(VectorGen.perturb(rng, q), BatchSize)(v => VectorGen.perturb(rng, v))
        val body = Json.obj("query_embeddings" -> qs.map(Rest.vec).mkString("[", ",", "]"),
          "k" -> K.toString, "index" -> Json.str("lsh"))
        val rep = rest.post(s"/libraries/${s.libIds(lib)}/search_batch", body)
        val ok = rep.status == 200
        if (!ok) fails.fail(s"batch status ${rep.status}")
        val results = if (ok) rep.json.get("results").elements().asScala.toVector else Vector.empty
        if (ok && results.size != BatchSize) fails.fail(s"batch returned ${results.size} results")
        val hss = results.map(Checks.hits)
        hss.foreach(hs => fails.check(Checks.shape(hs, K)))
        val used = results.map(Checks.indexUsed)
        if (traced) probe.direct(tracer.span("search.direct.batch", op) {
          direct.searchBatch(s.libIds(lib), qs, k = K, index = "lsh")
        })
        OpRec("batch", rep.ms, rep.bytes, used,
          recall = hss.zip(qs).zip(used).collect {
            case ((hs, qv), u) if Checks.atRest(u) => Checks.recall(hs, m, qv, K)
          }, lib = lib)
      }
    }

    (1 to WarmOps).foreach(_ => nextOp(traced = false))
    schedule = Iterator.empty // the measured window starts a fresh block
    // whole blocks of the mix and whole turns of the three libraries
    val untraced = loop(ctx.untracedMs, minSamples(ctx), if (ctx.trace) 1 else 60)(nextOp(traced = false))
    val before = if (ctx.trace) Some(probe.snap()) else None
    if (ctx.trace) tracer.start()
    val traced = loop(ctx.tracedMs, minSamples(ctx), 1)(nextOp(traced = true))
    val delta = before.map { b => val a = probe.snap(); probe.stop(); a.minus(b) }
    s.stop()

    def e2e(ops: Vector[OpRec], window: Double): Seq[Metric] = {
      val searches = ops.filter(_.kind == "search").map(_.ms)
      val rec = ops.flatMap(_.recall)
      Seq(
        Metric.ratio("ops_per_s", "1/s", ops.size.toDouble, window, ops.size.toLong),
        Metric.pct("search_p50_ms", "ms", searches, 50),
        Metric.pct("search_p90_ms", "ms", searches, 90),
        Metric.pct("batch_p50_ms", "ms", ops.filter(_.kind == "batch").map(_.ms), 50),
        Metric.ratio("recall_at_k", "ratio", rec.sum, rec.size.toDouble, rec.size.toLong)) ++
        Kinds.indices.map { l =>
          val r = ops.filter(_.lib == l).flatMap(_.recall)
          Metric.ratio(s"recall_at_k.${Kinds(l)}", "ratio", r.sum, r.size.toDouble, r.size.toLong)
        }
    }
    val (uOps, uWall) = untraced
    val (tOps, tWall) = traced
    // the write-side layer metrics need a workload that writes, which
    // the benchmark does not keep (see NOTES.md, "Left out")
    val noWrites = Some("no workload in the benchmark writes")
    val layers = delta.toSeq.flatMap { d =>
      val lshOps = tOps.filter(_.lshRoute)
      val dirSearch = tracer.durationsMs("search.direct.search")
      val restSearch = tOps.filter(_.kind == "search").map(_.ms)
      val sp50 = (Stats.percentile(restSearch, 50).value, Stats.percentile(dirSearch, 50).value)
      val escal = tOps.filter(_.filtered).flatMap(_.used)
        .count(u => u != null && u.startsWith("at_rest_") && !Seq("at_rest_lsh", "at_rest_ivf").contains(u))
      val lsh = lshOps.flatMap(_.used)
      Seq(
        Metric("api.self_ms.search", "ms", for (a <- sp50._1; b <- sp50._2) yield a - b,
          restSearch.size.toLong, if (sp50._1.isEmpty || sp50._2.isEmpty) Some("too few samples for a p50") else None),
        Metric("api.self_ms.write", "ms", None, 0, noWrites),
        Metric.ratio("api.bytes_out_per_op", "bytes", tOps.map(_.bytes.toDouble).sum, tOps.size.toDouble, tOps.size.toLong),
        Metric.pct("search.direct_ms.search_p50", "ms", dirSearch, 50),
        Metric.pct("search.direct_ms.batch_p50", "ms", tracer.durationsMs("search.direct.batch"), 50),
        Metric.ratio("search.at_rest_share", "ratio", lsh.count(Checks.atRest).toDouble, lsh.size.toDouble, lsh.size.toLong),
        Metric.of("search.ladder_escalations", "count", escal.toDouble, tOps.count(_.filtered).toLong),
        Metric("search.stale_first_ms", "ms", None, 0, noWrites),
        Metric.pct("state.chunks_df_ms", "ms", tracer.durationsMs("state.chunks_df"), 50),
        Metric("state.add_chunk_us", "us", None, 0, noWrites),
        Metric("state.update_chunk_us", "us", None, 0, noWrites),
        Metric("state.delete_chunk_us", "us", None, 0, noWrites),
        Metric.of("state.resident_chunks", "count", s.engine.state.chunks.size.toDouble, 1),
        Metric("index.generations_retired", "count", None, 0, noWrites)) ++
        indexLayers(s, PerLib) ++
        Seq(Metric.pct("embed.text_us", "us", tracer.durationsMs("embed.text").map(_ * 1000), 50)) ++
        SparkProbe.perOp(d, tOps.size.toLong, tOps.map(_.ms).sum)
    }
    Report(
      inputs = Seq("libraries" -> Libs.toLong, "chunks" -> chunks.size.toLong,
        "dim" -> VectorGen.Dim.toLong, "ops_untraced" -> uOps.size.toLong, "ops_traced" -> tOps.size.toLong),
      digest = digest, setupS = setups, metrics = e2e(uOps, uWall),
      throughputKey = "ops_per_s", latencyKey = "search_p50_ms",
      attempted = (uOps.size + tOps.size).toLong, failed = fails.count.sum,
      failures = fails.first.asScala.toSeq, layers = layers,
      traced = if (ctx.trace) e2e(tOps, tWall) else Nil, spans = tracer.spans)
  }

  def shuffle[A](rng: Rng, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.int(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  def indexLayers(s: Served, perLib: Int): Seq[Metric] =
    Seq("lsh", "ivf", "hnsw").flatMap { kind =>
      s.registerS.get(kind) match {
        case Some(sec) =>
          val (ratio, files) = Served.layoutStats(s.layoutDirs(kind), perLib.toLong)
          Seq(Metric.of(s"index.register_s.$kind", "s", sec, 1),
            Metric.of(s"index.layout_bytes_per_vector_byte.$kind", "ratio", ratio, 1),
            Metric.of(s"index.layout_files.$kind", "count", files.toDouble, 1))
        case None =>
          val why = Some(s"no library is registered as $kind in this workload")
          Seq(Metric(s"index.register_s.$kind", "s", None, 0, why),
            Metric(s"index.layout_bytes_per_vector_byte.$kind", "ratio", None, 0, why),
            Metric(s"index.layout_files.$kind", "count", None, 0, why))
      }
    }

  /** Runs `op` back to back for `ms` milliseconds (none when 0), then
    * on until `min` searches are recorded (for at most 4× the window)
    * and the op count is a whole number of `unit`s, so every window
    * holds whole blocks of the request mix. Returns the records and
    * the window's wall seconds. */
  def loop(ms: Long, min: Int, unit: Int)(op: => OpRec): (Vector[OpRec], Double) = {
    val out = Vector.newBuilder[OpRec]
    var n, searches = 0
    val t0 = System.nanoTime()
    val end = t0 + ms * 1000000L
    val cap = t0 + 4 * ms * 1000000L
    def more = System.nanoTime() < end || n % unit != 0 ||
      (searches < min && System.nanoTime() < cap)
    if (ms > 0) while (more) {
      val r = op
      n += 1
      if (r.kind == "search") searches += 1
      out += r
    }
    (out.result(), (System.nanoTime() - t0) / 1e9)
  }
}
