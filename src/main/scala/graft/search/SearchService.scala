package graft.search

import graft.embed.Embedder
import graft.functions.VectorFunctions
import graft.index.{BruteForceKnn, RandomHyperplaneLsh}
import graft.state.Engine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One search hit (reference result packing O13,
  * app/services/search_service.py:136-148). */
final case class Hit(chunk_id: String, document_id: String, library_id: String,
                     text: String, metadata: Map[String, String], score: Double)

/** Search envelope (search_service.py:150-156). `indexUsed` is absent
  * (None) on the two early-exit paths (k<=0 and empty-after-filter),
  * exactly like the reference omits the `index_used` key there.
  */
final case class SearchResult(hits: Seq[Hit], index: String,
                              indexUsed: Option[String], libraryVersion: Int)

/** The search orchestrator (O12, search_service.py:83-156):
  * scan+flatten → metadata filter → query-vector derivation → index
  * dispatch (at-rest tier | brute | lsh with adaptive fallback) → pack.
  *
  * Every search first answers the empty-after-filter check and the
  * corpus dim from the engine snapshot's resident rows; only a spilled
  * engine probes the first row of the filtered chunk view instead.
  *
  * At-rest first: an `index = "lsh"` search over a library registered
  * on the [[AtRestIndexBridge]] at its current version never builds
  * the engine's chunk view. It embeds and guards at the dim recorded
  * at registration, and plans and runs exactly ONE query over the
  * stored layout (the caller's limit and projection are composed onto
  * the served frame before it is optimized), whose generated code is
  * the same for every request.
  *
  * The transient plan (unregistered or stale-version libraries,
  * `index = "brute"`) is: filtered scan of the chunk view (library +
  * non-null embedding + metadata conjunction — all pushable
  * predicates) → score → TakeOrderedAndProject(k). On a partitioned
  * 100 TB chunk corpus the library filter prunes partitions and only k
  * rows per partition reach the driver.
  */
final class SearchService(spark: SparkSession, engine: Engine,
                          embedder: Option[Embedder] = None,
                          rerank: DataFrame => DataFrame = identity,
                          indexCache: Option[graft.index.IndexCache] = None,
                          atRest: Option[AtRestIndexBridge] = None) {

  def search(libraryId: String,
             queryText: Option[String] = None,
             queryEmbedding: Option[Array[Float]] = None,
             k: Int = 5,
             index: String = "brute",
             lshTables: Int = 8,
             lshPlanes: Int = 12,
             filters: Map[String, String] = Map.empty): SearchResult = {
    val version = engine.getLibrary(libraryId).version

    if (k <= 0) return SearchResult(Nil, index, None, version)

    // O1 scan+flatten: chunks of this library with a non-null embedding
    // (search_service.py:43-46), then O2 conjunctive exact-match
    // metadata filter (missing key never matches, search_service.py:75).
    // Built only when a path reads it: the at-rest tier never does.
    lazy val filtered: DataFrame = {
      val base = engine.chunksDF(spark)
        .where(col("library_id") === libraryId && col("embedding").isNotNull)
      filters.foldLeft(base) { case (df, (key, value)) =>
        df.where(col("metadata").getItem(key) === lit(value))
      }
    }

    // One lookup doubles as the empty-after-filter check
    // (search_service.py:105-106) and the corpus-dim probe the index
    // guards need.
    val firstDim = firstEmbeddingDim(libraryId, filters, filtered)
    if (firstDim.isEmpty) return SearchResult(Nil, index, None, version)

    // The PRODUCTION tier first (r16, r15 verdict #5): when this
    // library's corpus is registered as an at-rest layout AT the
    // current version, `index = "lsh"` serves through the optimizer
    // rule — bucket-probe (or, under metadata filters, the
    // guaranteed-k escalation ladder) over the stored layout, envelope
    // unchanged, `index_used` distinguishing the tier. Any other
    // version (stale registration) falls through to the transient
    // paths below — the reference's own version-pinned staleness
    // contract. The tier embeds and guards at the dim recorded at
    // registration.
    val live =
      if (index == "lsh")
        atRest.flatMap(b => b.servingEntry(spark, libraryId, version, filters).map(b -> _))
      else None
    val dim = live.fold(firstDim.get)(_._2.dim)
    val qvec = queryVector(queryText, queryEmbedding, dim)
    live match {
      case Some((bridge, e)) =>
        return searchAtRest(bridge, e, libraryId, version, qvec, k, index, filters)
      case None =>
    }

    val (hitsDF, used) = index match {
      case "brute" =>
        (BruteForceKnn.search(filtered, col("embedding"), col("id"), qvec, k), "brute")
      case "lsh" =>
        val lsh = RandomHyperplaneLsh(lshTables, lshPlanes)
        indexCache match {
          // Version-keyed cached bucketing: hashing ran once per
          // (library, version, params); this query only filters stored
          // bucket columns. Metadata filters apply on top of the cached
          // frame — same rows as the uncached path. The staleness proof
          // is the cache key (a mutation bumps the version).
          case Some(c) =>
            val bucketed = c.bucketed(engine, spark, libraryId, lsh, dim)
            val bFiltered = filters.foldLeft(bucketed) { case (df, (key, value)) =>
              df.where(col("metadata").getItem(key) === lit(value))
            }
            lsh.searchBucketed(bFiltered, col("embedding"), col("id"), qvec, k)
          case None =>
            lsh.search(filtered, col("embedding"), col("id"), qvec, k)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown index: $other")
    }

    // O15 rerank hook: identity by default (query_workflow.py:248-259),
    // reserved for semantic reranking / metadata boosting; callers that
    // rerank must re-trim to k afterwards (interactive_workflow.py:346-349).
    val hits = rerank(hitsDF).limit(k).select(hitCols: _*).collect().map(hit(_)).toSeq

    SearchResult(hits, index, Some(used), version)
  }

  /** The at-rest serve of [[search]]: ONE query over the registered
    * layout, the caller's rerank, limit and projection composed onto
    * the served frame before it is planned. */
  private def searchAtRest(bridge: AtRestIndexBridge, e: AtRestIndexBridge.Entry,
                           libraryId: String, version: Int, qvec: Array[Float],
                           k: Int, index: String,
                           filters: Map[String, String]): SearchResult = {
    val (rows, laddered) = bridge.serve(spark, e, libraryId, qvec, k, filters) {
      (df, laddered) =>
        val cols = if (laddered) hitCols :+ col("index_used") else hitCols
        rerank(df).limit(k).select(cols: _*)
    }
    // the ladder's served level (constant across one query's rows)
    // reaches the envelope — the O10 reporting contract carried
    // through the O12 surface
    val used =
      if (laddered)
        rows.headOption.map(r => "at_rest_" + r.getString(6)).getOrElse("at_rest_brute")
      else s"${e.kind}_at_rest"
    SearchResult(rows.map(hit(_)).toSeq, index, Some(used), version)
  }

  /** The dim of the first embedded chunk of `libraryId` that passes
    * the metadata filter, or None when no chunk passes. Resident rows
    * answer from the engine snapshot, in the chunk view's own row
    * order; only a spilled engine probes the first row of the view
    * (archived rows live only there). */
  private def firstEmbeddingDim(libraryId: String, filters: Map[String, String],
                                view: => DataFrame): Option[Int] = {
    val snapshot = engine.state
    if (snapshot.spillSegments.nonEmpty)
      view.select(col("embedding")).limit(1).collect().headOption
        .map(_.getSeq[Float](0).length)
    else snapshot.chunks.collectFirst {
      case c if c.library_id == libraryId && c.embedding.isDefined &&
        filters.forall { case (key, value) => c.metadata.get(key).contains(value) } =>
        c.embedding.get.length
    }
  }

  /** Query vector: given embedding, else embed text at the corpus dim
    * (search_service.py:110-116 passes dim through), else error. Then
    * the dim guard on every index path (brute_force.py:36-37). The
    * reference's lsh path has no clean guard — a mismatched query just
    * explodes inside NumPy — so erroring here matches its observable
    * "errors on mismatch" behavior rather than silently scoring a
    * common prefix. */
  private def queryVector(queryText: Option[String],
                          queryEmbedding: Option[Array[Float]],
                          dim: Int): Array[Float] = {
    val qvec = queryEmbedding.getOrElse {
      val text = queryText.getOrElse(
        throw new IllegalArgumentException("query_text or query_embedding required"))
      embedder.getOrElse(
        throw new IllegalArgumentException("no embedder configured")).embedAt(text, dim)
    }
    BruteForceKnn.requireDim(qvec, dim)
    qvec
  }

  /** The hit columns in the chunk schema's own order, so the final
    * projection of a served plan is a no-op the optimizer removes
    * instead of one more generated stage. */
  private val hitCols = Seq(col("library_id"), col("document_id"), col("id"),
    col("text"), col("metadata"), col("score"))

  /** The hit whose [[hitCols]] start at position `at` of `r`. */
  private def hit(r: Row, at: Int = 0): Hit = Hit(r.getString(at + 2), r.getString(at + 1),
    r.getString(at), r.getString(at + 3), r.getMap[String, String](at + 4).toMap,
    r.getDouble(at + 5))

  /** BATCHED O12 search (r17 stretch): every request of the batch
    * answered by ONE plan when the library is registered at its
    * current version on the at-rest tier (any kind — LSH/IVF batched
    * broadcast probe, HNSW one-scan-all-queries) — the 11–61×
    * batched-serving wins surfaced through the reference's own API
    * shape. Per-request envelopes are IDENTICAL to [[search]]'s
    * bridged path: `index_used = "<kind>_at_rest"` bare, and under a
    * metadata FILTER each request reports its own served ladder level
    * (`at_rest_<level>` — the batched guaranteed-k rewrite decides
    * every request's escalation in the same one plan). Falls back to
    * a per-request [[search]] loop — correct, just not batched — when
    * the bridge cannot serve (unregistered, stale version, filtered
    * HNSW, k <= 0, or no bridge at all). */
  def searchBatch(libraryId: String,
                  queryEmbeddings: Seq[Array[Float]],
                  k: Int = 5,
                  index: String = "brute",
                  filters: Map[String, String] = Map.empty): Seq[SearchResult] = {
    val version = engine.getLibrary(libraryId).version
    if (queryEmbeddings.isEmpty) return Nil
    val batched =
      if (index == "lsh" && k > 0)
        atRest.flatMap(_.tryServeBatch(spark, libraryId, version,
          queryEmbeddings.toArray, k, filters))
      else None
    batched match {
      case Some((rows, laddered, kind)) =>
        val byRequest = rows.groupBy(_.getLong(0))
        queryEmbeddings.indices.map { i =>
          val reqRows = byRequest.getOrElse(i.toLong, Array.empty)
            .sortBy(_.getInt(1)) // the serve's own per-request rank
          val hits = reqRows.map(hit(_, at = 2)).toSeq
          // per-REQUEST envelope: under a filter each request reports
          // ITS served ladder level (the O10 contract at batch arity);
          // a request whose filtered pool is empty exhausted the
          // ladder to brute
          val used =
            if (laddered)
              reqRows.headOption.map(r => "at_rest_" + r.getString(8))
                .getOrElse("at_rest_brute")
            else s"${kind}_at_rest"
          SearchResult(hits, index, Some(used), version)
        }
      case None =>
        queryEmbeddings.map(v => search(libraryId, queryEmbedding = Some(v),
          k = k, index = index, filters = filters))
    }
  }
}
