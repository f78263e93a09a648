package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.api.HttpApi
import graft.embed.HashingEmbedder
import graft.search.{AtRestIndexBridge, SearchService}
import graft.state.Engine
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The per-request plan contract of the at-rest REST tier: every
  * single search plans and runs ONE query, never over a view of the
  * engine's resident chunks; its generated code does not depend on the
  * request (a new query vector compiles nothing); and the codegen
  * working set of the whole request mix stays within a pinned budget
  * (it does not yet fit Spark's default codegen cache, see the
  * working-set test).
  *
  * The fixture mirrors a REST session's serving shape: three libraries
  * of clustered 32-d chunks registered as LSH, IVF and HNSW, chunk
  * metadata `type` skewed over eight values.
  */
class RequestPlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dim = 32
  private val k = 10
  private val perLib = 300
  private val root = "target/test-index/request-plan"
  private val libs = Seq("lsh" -> "rp-lsh", "ivf" -> "rp-ivf", "hnsw" -> "rp-hnsw")
  private val embedder = HashingEmbedder(dim = dim)
  /** Classes the whole request mix below compiles from an empty codegen
    * cache (see the working-set test). */
  private val WorkingSetBudget = 134

  private val rng = new scala.util.Random(11)
  private val centres = Array.fill(12)(unit(Array.fill(dim)(rng.nextGaussian().toFloat)))
  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def near(c: Array[Float], r: scala.util.Random): Array[Float] =
    unit(c.map(x => x + 0.1f * r.nextGaussian().toFloat))

  private lazy val engine: Engine = {
    val e = new Engine()
    val r = new scala.util.Random(12)
    libs.foreach { case (_, lib) =>
      e.createLibrary(name = lib, id = Some(lib))
      e.addDocument(lib, title = "d", id = Some(s"$lib-d"))
      (0 until perLib).foreach { i =>
        // t0 holds about a third of the rows, t7 about 2%
        val u = r.nextDouble()
        val t = if (u < 0.34) 0 else if (u < 0.98) 1 + r.nextInt(6) else 7
        e.addChunk(lib, s"$lib-d", text = s"chunk $i of $lib",
          embedding = Some(near(centres(r.nextInt(centres.length)), r)),
          metadata = Map("type" -> s"t$t"), id = Some(f"$lib-c$i%04d")): Unit
      }
    }
    e
  }

  private lazy val bridge: AtRestIndexBridge = {
    TestSpark.rmTree(new java.io.File(root))
    val b = new AtRestIndexBridge(root)
    b.register(spark, engine, "rp-lsh")
    b.registerIvf(spark, engine, "rp-ivf")
    b.registerHnsw(spark, engine, "rp-hnsw")
    b
  }

  private lazy val svc =
    new SearchService(spark, engine, Some(embedder), atRest = Some(bridge))

  private def query(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    near(centres(r.nextInt(centres.length)), r)
  }

  /** One request of each route × kind shape a REST session issues. */
  private def shapes(q: Array[Float]): Seq[(String, () => Any)] = {
    val batch = (1 to 8).map(i => near(q, new scala.util.Random(i)))
    val text = "session query " + q.take(3).map(x => math.round(x * 100)).mkString(" ")
    Seq(
      "lsh@lsh" -> (() => svc.search("rp-lsh", queryEmbedding = Some(q), k = k, index = "lsh")),
      "lsh@ivf" -> (() => svc.search("rp-ivf", queryEmbedding = Some(q), k = k, index = "lsh")),
      "lsh@hnsw" -> (() => svc.search("rp-hnsw", queryEmbedding = Some(q), k = k, index = "lsh")),
      "filt@lsh" -> (() => svc.search("rp-lsh", queryEmbedding = Some(q), k = k, index = "lsh",
        filters = Map("type" -> "t0"))),
      "filt@ivf" -> (() => svc.search("rp-ivf", queryEmbedding = Some(q), k = k, index = "lsh",
        filters = Map("type" -> "t0"))),
      // fewer than k rows match: the ladder serves its brute rung
      "starved@lsh" -> (() => svc.search("rp-lsh", queryEmbedding = Some(q), k = k, index = "lsh",
        filters = Map("type" -> "t7"))),
      "starved@ivf" -> (() => svc.search("rp-ivf", queryEmbedding = Some(q), k = k, index = "lsh",
        filters = Map("type" -> "t7"))),
      "brute" -> (() => svc.search("rp-lsh", queryEmbedding = Some(q), k = k, index = "brute")),
      "text" -> (() => svc.search("rp-ivf", queryText = Some(text), k = k, index = "brute")),
      "batch@lsh" -> (() => svc.searchBatch("rp-lsh", batch, k = k, index = "lsh")),
      "batch@ivf" -> (() => svc.searchBatch("rp-ivf", batch, k = k, index = "lsh")),
      "batch@hnsw" -> (() => svc.searchBatch("rp-hnsw", batch, k = k, index = "lsh")))
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The query executions `f` runs, as seen by a listener on the
    * session (the bus is drained on both sides). */
  private def executions(f: => Any): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen.add(qe)
    }
    org.apache.spark.graft.SparkInternals.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      f
      org.apache.spark.graft.SparkInternals.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.toArray(Array.empty[QueryExecution]).toSeq
  }

  test("each at-rest single search runs exactly one query execution, over no chunk view") {
    val q = query(1)
    shapes(q).foreach(_._2()) // warm the fixture and every shape
    val single = Map(
      "lsh@lsh" -> "lsh_at_rest", "lsh@ivf" -> "ivf_at_rest",
      "filt@lsh" -> "at_rest_", "filt@ivf" -> "at_rest_")
    shapes(query(2)).filter(s => single.contains(s._1)).foreach { case (name, run) =>
      var used: Option[String] = None
      val qes = executions {
        used = run().asInstanceOf[graft.search.SearchResult].indexUsed
      }
      assert(used.exists(_.startsWith(single(name))), s"$name served at $used")
      assert(qes.size == 1, s"$name ran ${qes.size} query executions")
      qes.foreach { qe =>
        val views = qe.optimizedPlan.collect { case l: LocalRelation if l.data.nonEmpty => l }
        assert(views.isEmpty, s"$name planned over an engine chunk view:\n${qe.optimizedPlan}")
      }
    }
  }

  test("a second query vector compiles no new classes, per kind and per ladder") {
    val q = query(3)
    // the probes: any other query vector
    val other = query(4)
    Seq("lsh@lsh", "lsh@ivf", "lsh@hnsw").foreach { name =>
      shapes(q).toMap.apply(name)()
      val before = compiles()
      shapes(other).toMap.apply(name)()
      assert(compiles() - before == 0,
        s"$name compiled ${compiles() - before} classes for a new query vector")
    }
    // the ladders: the next query of an interactive session. Adaptive
    // execution drops the rung a query does not use (and, on the LSH
    // ladder, a candidate stage that came out empty), so each such
    // outcome runs its own plan, compiled once; a new vector with the
    // same outcome must compile nothing
    val next = near(q, new scala.util.Random(5))
    Seq("filt@lsh", "filt@ivf").foreach { name =>
      def used(v: Array[Float]) =
        shapes(v).toMap.apply(name)().asInstanceOf[graft.search.SearchResult].indexUsed
      val firstRung = used(q)
      val before = compiles()
      val nextRung = used(next)
      assert(nextRung == firstRung, s"$name: the test vectors are served at different rungs")
      assert(compiles() - before == 0,
        s"$name compiled ${compiles() - before} classes for a new query vector at $nextRung")
    }
  }

  test("the codegen working set of the whole request mix stays within its budget") {
    assert(SQLConf.get.codegenCacheMaxEntries == 100,
      "the budget is measured against the default codegen cache size")
    // each rotation uses fresh query vectors, so nothing below can be
    // served from a per-request cache
    def rotate(seed: Int): Seq[(String, Long)] = shapes(query(seed)).map { case (name, run) =>
      val before = compiles()
      run()
      name -> (compiles() - before)
    }
    rotate(5) // every shape planned and run once
    org.apache.spark.graft.SparkInternals.clearCodegenCache()
    val cold = rotate(6)
    val second = rotate(7)
    def show(r: Seq[(String, Long)]) =
      r.map { case (n, c) => s"$n=$c" }.mkString(", ") + s" (total ${r.map(_._2).sum})"
    info(s"classes compiled per shape from an empty codegen cache: ${show(cold)}")
    info(s"recompiled by a second rotation: ${show(second)}")
    // Spark keys a generated class by its class loader as well as its
    // code, so every whole-stage class is compiled twice (the driver's
    // check and the executors' copy), and the cache is four LRU
    // segments of 25 entries: a cyclic mix this large overflows some
    // segment and recompiles there. The budget pins the measured
    // working set, so a plan that grows it fails here
    assert(cold.map(_._2).sum <= WorkingSetBudget,
      s"the request mix compiles ${cold.map(_._2).sum} classes, budget $WorkingSetBudget: ${show(cold)}")
  }

  test("at-rest envelope parity: empty-after-filter, dim guard, query_text at the registered dim") {
    // empty after the metadata filter: the early-exit envelope, no index_used
    val empty = svc.search("rp-lsh", queryEmbedding = Some(query(7)), k = k,
      index = "lsh", filters = Map("type" -> "absent"))
    assert(empty.hits.isEmpty && empty.indexUsed.isEmpty)
    val emptyIvf = svc.search("rp-ivf", queryEmbedding = Some(query(7)), k = k,
      index = "lsh", filters = Map("type" -> "absent"))
    assert(emptyIvf.hits.isEmpty && emptyIvf.indexUsed.isEmpty)

    // query_text embeds at the registered dim and serves at rest
    val text = "an interactive session query"
    val byText = svc.search("rp-lsh", queryText = Some(text), k = k, index = "lsh")
    val byVec = svc.search("rp-lsh", queryEmbedding = Some(embedder.embedAt(text, dim)),
      k = k, index = "lsh")
    assert(byText.indexUsed.contains("lsh_at_rest"))
    assert(byText.hits == byVec.hits)

    // a query of the wrong dim is a 400 over REST
    val api = new HttpApi(spark, engine, embedder, atRest = Some(bridge))
    val port = api.start()
    try {
      val body = s"""{"query_embedding": ${Array.fill(dim + 1)(0.5f).mkString("[", ",", "]")}, "k": 5, "index": "lsh"}"""
      Seq("rp-lsh", "rp-ivf").foreach { lib =>
        val r = HttpClient.newHttpClient().send(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/vector_db/libraries/$lib/search"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 400, s"$lib: ${r.statusCode()} ${r.body()}")
      }
    } finally api.stop()
  }
}
