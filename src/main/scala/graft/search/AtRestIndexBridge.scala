package graft.search

import graft.index.{IndexGenerations, LshIndexStore, RandomHyperplaneLsh}
import graft.state.Engine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

/** Bridges the reference's O12 search orchestrator onto the PRODUCTION
  * serving tier (r15 verdict, Next #5): until r16, `index = "lsh"`
  * REST searches answered from the engine-state bucket cache
  * (reference parity — in-process, rebuilt per (library, version)),
  * while the rule-served at-rest layouts, the registered policies and
  * the guaranteed-k ladder were reachable only through gates. This
  * bridge is the missing link: [[register]] writes a library's corpus
  * as an [[LshIndexStore]] layout at its CURRENT version and registers
  * it with the optimizer rule under the GUARANTEED-K policy, and
  * [[SearchService]] then serves `index = "lsh"` through it — envelope
  * unchanged (`index`, `index_used`, `library_version`), `index_used`
  * distinguishing the tier (`lsh_at_rest` for the plain probe,
  * `at_rest_<level>` when a metadata filter rode the escalation
  * ladder).
  *
  * Staleness is the reference's own contract: the registration is
  * version-pinned, and a search at any OTHER library version falls
  * back to the transient path (correct, just not layout-served) until
  * [[register]] is called again — which also swaps generations the
  * r16 way: register(new) → unregister(old) → retire(old) through
  * [[IndexGenerations]], serving reads holding a lease so a re-register
  * mid-flight defers the old directory's deletion instead of racing it.
  *
  * At-rest-first dispatch: [[servingEntry]] answers whether this tier
  * serves a request before anything is planned, and each entry records
  * the corpus dim at registration, so [[SearchService]] needs no view
  * of the engine's chunks to serve. The per-request plan contract:
  * [[serve]] (one request) and [[tryServeBatch]] (a request set) each
  * plan, check and collect ONE query, and every per-request value (the
  * query vector, its LSH buckets, its IVF probe list) reaches that plan
  * as an array literal or as a partition filter, never as an inlined
  * scalar literal — so the generated code is the same for every request
  * and comes from Spark's codegen cache once warm.
  */
final class AtRestIndexBridge(baseDir: String = "target/at-rest-bridge",
                              numPhysicalPartitions: Int = 16) {
  import AtRestIndexBridge.Entry

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]

  // Finish any interrupted retirements a crashed predecessor left
  // under this bridge root (r17, r16 verdict #6): generations live at
  // <baseDir>/<libraryId>/<gen>, so each library directory is a sweep
  // parent. Before this, a crash between "retire deferred" and "last
  // lease released" left marker-carrying directories on disk until a
  // hand-run sweep — the machinery existed (IndexGenerationsSpec) but
  // nothing called it on a production path.
  locally {
    Option(new java.io.File(baseDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .foreach(lib => IndexGenerations.sweep(lib.getPath): Unit)
  }

  /** Build + register `libraryId`'s corpus at its current version.
    * Returns the layout path. Idempotent per (library, version, kind);
    * a NEW version (or kind) writes a new generation and retires the
    * old one. */
  def register(spark: SparkSession, engine: Engine, libraryId: String,
               lsh: RandomHyperplaneLsh = RandomHyperplaneLsh(8, 12, 42L)): String = {
    val version = engine.getLibrary(libraryId).version
    val existing = Option(entries.get(libraryId))
    if (existing.exists(e => e.version == version && e.kind == "lsh"))
      return existing.get.path
    val (corpus, dim) = libraryCorpus(spark, engine, libraryId)
    val path = s"$baseDir/$libraryId/v$version"
    // scale-adaptive physical partitioning with the constructor value
    // as the cap (r18, same rule as the gate layouts): a fixed 16-way
    // split of a small library shatters the layout into ~tables×16
    // tiny files and every batched serve pays per-file reader init;
    // the registration sidecar persists the resolved count, so
    // cross-JVM adopters probe with the writer's modulus.
    val parts = graft.index.LshIndexStore
      .adaptivePartitions(corpus, cap = numPhysicalPartitions)
    // `hid` — the long node identity (xxhash64 of the string chunk id)
    // — is STORED in the layout (r17): the batched rewrite's type
    // guards require long id columns on both sides, so carrying the
    // hash as a plain layout column is what lets a REST batch DECLARE
    // the batched top-k over the registered relation and have the
    // registration rewrite it (tryServeBatch), instead of a library
    // call bypassing the rule
    LshIndexStore(lsh, dim, parts).write(
      corpus.withColumn("hid", xxhash64(col("id"))), "embedding", path)
    graft.plans.LshProbeRewrite.register(path, lsh, dim, parts,
      guaranteeK = true)
    swapIn(spark, libraryId,
      Entry(path, version, "lsh", dim, spark.read.parquet(path)), existing)
  }

  /** The IVF twin of [[register]] (r16) — the decision table's
    * recommended serving kind for clustered (encoder-shaped) corpora,
    * reachable from the same REST surface: the library's corpus as an
    * [[graft.index.IvfIndexStore]] layout, registered under the IVF
    * GUARANTEED-K policy (nprobe → 2·nprobe → filtered corpus under
    * metadata filters), identical envelope. Centroid ids are
    * `xxhash64(chunk id)` — chunk ids are STRINGS and a centroid id
    * only needs identity, never arithmetic; `stride` samples
    * ~corpus/stride centroids. */
  def registerIvf(spark: SparkSession, engine: Engine, libraryId: String,
                  nprobe: Int = 2, stride: Long = 7L): String = {
    val version = engine.getLibrary(libraryId).version
    val existing = Option(entries.get(libraryId))
    if (existing.exists(e => e.version == version && e.kind == "ivf"))
      return existing.get.path
    val (corpus, dim) = libraryCorpus(spark, engine, libraryId)
    val cents = graft.index.IvfKnn.centroids(corpus,
      org.apache.spark.sql.functions.xxhash64(col("id")), col("embedding"), stride)
    require(cents.nonEmpty,
      s"library $libraryId sampled no centroids at stride $stride")
    val path = s"$baseDir/$libraryId/ivf-v$version"
    graft.index.IvfIndexStore(cents).write(
      corpus.withColumn("hid", xxhash64(col("id"))), "embedding", path): Unit
    graft.plans.LshProbeRewrite.registerIvf(path, cents, nprobe, guaranteeK = true)
    swapIn(spark, libraryId,
      Entry(path, version, "ivf", dim, spark.read.parquet(path)), existing)
  }

  /** The HNSW twin of [[register]] (r17, r16 verdict #4): the
    * library's corpus as an [[graft.index.HnswIndexStore]] graph
    * layout, served by the driver-orchestrated beam under the same
    * generation-lease lifecycle and the same envelope
    * (`index_used = "hnsw_at_rest"`). Node ids are `xxhash64(chunk
    * id)` — chunk ids are STRINGS and a graph node id only needs
    * identity (the ann-family convention [[registerIvf]] established);
    * the serve joins hits back to the chunk payload on the same hash.
    * HNSW has no filtered form (the beam walks stored adjacency — a
    * predicate cannot prune a graph walk without starving it), so a
    * FILTERED search over an HNSW registration falls back to the
    * transient path: correct rows through the reference's own
    * orchestrator, never a silently under-filled beam. */
  def registerHnsw(spark: SparkSession, engine: Engine, libraryId: String,
                   m: Int = 8, efConstruction: Int = 32,
                   numShards: Int = 2): String = {
    val version = engine.getLibrary(libraryId).version
    val existing = Option(entries.get(libraryId))
    if (existing.exists(e => e.version == version && e.kind == "hnsw"))
      return existing.get.path
    val (corpus, dim) = libraryCorpus(spark, engine, libraryId)
    val path = s"$baseDir/$libraryId/hnsw-v$version"
    graft.index.HnswIndexStore(m, efConstruction).write(
      corpus.withColumn("hid", xxhash64(col("id"))),
      "hid", "embedding", path, numShards)
    swapIn(spark, libraryId,
      Entry(path, version, "hnsw", dim, spark.read.parquet(path),
        payload = Some(corpus)), existing)
  }

  /** The library's embedded chunks and their dim, read off the first
    * row — one probe job, which also refuses an empty library. */
  private def libraryCorpus(spark: SparkSession, engine: Engine,
                            libraryId: String): (DataFrame, Int) = {
    val corpus = engine.chunksDF(spark)
      .where(col("library_id") === libraryId && col("embedding").isNotNull)
    val first = corpus.select(col("embedding")).limit(1).collect()
    require(first.nonEmpty, s"library $libraryId has no embedded chunks to index")
    (corpus, first(0).getSeq[Float](0).length)
  }

  /** Publish the new generation and retire the replaced one
    * (register(new) → unregister(old) → retire(old); retirement defers
    * while serves hold leases). The layout DataFrame is cached per
    * entry: a serving layer lists the partition directories once and
    * reuses the FileIndex (the lshRuleIndexCache lesson — re-listing
    * per query costs more than the probe); partition pruning still
    * applies per query. */
  private def swapIn(spark: SparkSession, libraryId: String, entry: Entry,
                     existing: Option[Entry]): String = {
    injectRule(spark)
    // the generation being REPLACED is whatever the pointer published —
    // which covers replacements made by OTHER sessions (this instance's
    // own entry is a subset of that knowledge); retirement still defers
    // on leases and fresh foreign manifests
    def abs(p: String) = new java.io.File(p).getAbsolutePath
    val replaced = (readCurrentPath(libraryId).toSeq ++ existing.map(_.path))
      .map(abs).distinct.filterNot(_ == abs(entry.path))
    entries.put(libraryId, entry)
    writeCurrent(libraryId, entry)
    replaced.filter(p => new java.io.File(p).exists()).foreach { old =>
      graft.plans.LshProbeRewrite.unregister(old)
      IndexGenerations.retire(old): Unit // deferred while serves hold leases
    }
    entry.path
  }

  private def readCurrentPath(libraryId: String): Option[String] =
    try {
      val f = currentFile(libraryId)
      if (!f.exists()) None
      else Some(pointerMapper
        .readTree(java.nio.file.Files.readAllBytes(f.toPath))
        .get("path").asText())
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- the `_current` generation pointer (r17; the manifest gap's
  // other half). The `_serving` manifests make a retire DEFER while a
  // foreign session reads the old generation — but nothing told that
  // session a newer generation exists, so it served stale-version
  // fallbacks forever unless its own code re-registered. The pointer
  // (one JSON file in the library's generation parent, written by
  // every swap) closes the loop: a session whose entry is missing or
  // version-stale ADOPTS the pointed-at generation — restoring the
  // serving policy from the layout's own `_registration` sidecar —
  // and its old lease release lets the deferred delete finish.

  private val pointerMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def currentFile(libraryId: String): java.io.File =
    new java.io.File(s"$baseDir/$libraryId", "_current")

  private def writeCurrent(libraryId: String, e: Entry): Unit =
    try {
      val node = pointerMapper.createObjectNode()
      node.put("path", new java.io.File(e.path).getAbsolutePath)
      node.put("version", e.version)
      node.put("kind", e.kind): Unit
      java.nio.file.Files.createDirectories(currentFile(libraryId).getParentFile.toPath)
      java.nio.file.Files.write(currentFile(libraryId).toPath,
        pointerMapper.writeValueAsBytes(node)): Unit
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Adopt the generation another session published, when it matches
    * the engine's CURRENT version (the version-pinned staleness
    * contract is unchanged — a pointer at any other version is
    * ignored). HNSW entries are not adoptable (their chunk-payload
    * view needs engine state at registration time); they re-register.
    * The corpus dim comes from the layout's `_registration` sidecar. */
  private def adoptCurrent(spark: SparkSession, libraryId: String,
                           version: Int): Option[Entry] =
    try {
      val f = currentFile(libraryId)
      if (!f.exists()) return None
      val node = pointerMapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
      val kind = node.get("kind").asText()
      if (node.get("version").asInt() != version || kind == "hnsw") return None
      val path = node.get("path").asText()
      if (!new java.io.File(path).exists()) return None
      if (!graft.plans.LshProbeRewrite.isRegistered(path))
        graft.plans.LshProbeRewrite.registerFromSidecar(path): Unit
      graft.plans.LshProbeRewrite.registrationOf(path).collect {
        case r: graft.plans.LshProbeRewrite.Registration => r.dim
        case r: graft.plans.LshProbeRewrite.IvfRegistration if r.cents.nonEmpty =>
          r.cents.head._2.length
      }.map { dim =>
        injectRule(spark)
        val e = Entry(path, version, kind, dim, spark.read.parquet(path))
        entries.put(libraryId, e)
        e
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The serving entry for `libraryId` at `version`: the session's own
    * registration first, else the published `_current` generation. */
  private def liveEntry(spark: SparkSession, libraryId: String,
                        version: Int): Option[Entry] =
    Option(entries.get(libraryId)).filter(_.version == version)
      .orElse(adoptCurrent(spark, libraryId, version))

  private def injectRule(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.LshProbeRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.LshProbeRewrite
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[graft.plans.LshProbeStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.LshProbeStrategy(spark)
  }

  /** The live entry that serves `libraryId` at `version` for a
    * request with these `filters`, or None — the caller takes the
    * transient path. None when the library is unregistered or
    * registered at another version (stale), and for a FILTERED request
    * over an HNSW registration (no filtered form, see registerHnsw),
    * at either arity. */
  private[search] def servingEntry(spark: SparkSession, libraryId: String,
                                   version: Int,
                                   filters: Map[String, String]): Option[Entry] =
    liveEntry(spark, libraryId, version)
      .filterNot(e => e.kind == "hnsw" && filters.nonEmpty)

  /** Serve one O12 query from `e` under its generation lease, so a
    * concurrent re-register cannot delete the directory mid-collect.
    * `project` receives the served frame (plain columns + a `score`,
    * plus `index_used` when `laddered`) and whether the guaranteed-k
    * ladder is in play (a metadata filter is present), and returns the
    * query to run: the caller's limit and projection are applied
    * BEFORE the plan check, so the Dataset whose optimized plan the
    * check reads is the one collected — one optimization and one query
    * execution per request. The `require` keeps a silent non-rewrite
    * loud: the registered tier exists to serve the probe, and an exact
    * scan here would be correct rows through the wrong component.
    * Returns the collected rows and `laddered`. */
  private[search] def serve(spark: SparkSession, e: Entry, libraryId: String,
                            qvec: Array[Float], k: Int,
                            filters: Map[String, String])
                           (project: (DataFrame, Boolean) => DataFrame)
  : (Array[Row], Boolean) =
    IndexGenerations.lease(e.path, holderOf(spark)) {
      if (e.kind == "hnsw") {
        // driver-orchestrated beam over the stored graphs (the store
        // call IS the serving path for this kind — there is no rule
        // rewrite to pin); hits join back to the chunk payload on the
        // hashed id, k rows against a broadcast — never corpus-sized
        val hits = graft.index.HnswIndexStore().searchNodes(e.layout, qvec, k)
          .withColumnRenamed("id", "hid")
        val out = e.payload.get
          .join(broadcast(hits), xxhash64(col("id")) === col("hid"))
          .drop("hid")
          .orderBy(col("score").desc, col("id").asc)
          .limit(k)
        (project(out, false).collect(), false)
      } else {
        // serve the PAYLOAD, not the layout internals: hits never
        // expose bucket/cluster machinery, and the ladder rewrite only
        // binds plans whose projection is layout-oblivious (a deduped
        // or unioned candidate has no single honest `bucket` value) —
        // the probe rewrite still finds the layout columns on the scan
        // BELOW this projection
        val filtered = filters.foldLeft(
          e.layout.drop("table", "bucket", "bucket_part", "cluster_id")) {
          case (df, (key, value)) =>
            df.where(col("metadata").getItem(key) === lit(value))
        }
        val laddered = filters.nonEmpty
        val scored = filtered.withColumn("score",
          graft.expressions.CosineSimilarity(col("embedding"), typedlit(qvec.toSeq)))
        val out = (if (laddered) scored.withColumn("index_used", lit("auto"))
                   else scored)
          .orderBy(col("score").desc, col("id").asc)
          .limit(k)
        val served = project(out, laddered)
        val plan = served.queryExecution.optimizedPlan.toString
        require(
          if (laddered) plan.contains("gk_level")
          else plan.contains("LshProbeTopK"),
          s"registered-tier serve for $libraryId did not go through the rule " +
            s"(probe/ladder missing from the optimized plan):\n${plan.take(1800)}")
        (served.collect(), laddered)
      }
    }

  /** The last batch serve's executed-plan string, read off the query
    * that ran (diagnostic surface — the spec pins "one plan per batch"
    * on it). */
  @volatile private[graft] var lastBatchPlan: Option[String] = None

  /** BATCHED O12 serving (r17 stretch — the end-to-end form of the
    * batched serving wins): answer a whole request SET from the
    * registered layout with ONE plan, the REST analog of the batched
    * rewrite gates. Request ids are batch ordinals; layout node
    * identity is `xxhash64(chunk id)` (string chunk ids vs the serves'
    * long-id contract — the [[registerHnsw]] convention applied to all
    * three kinds). A metadata filter rides the batched guaranteed-k
    * ladder (LSH/IVF; HNSW has no filtered form and returns None).
    * Returns the collected (q_id, rn, library_id, document_id, id,
    * text, metadata, score[, index_used]) rows of every request, in no
    * particular order (`rn` is each request's rank), whether
    * `index_used` is present, and the tier's kind — identical
    * per-request envelope to [[serve]]'s. */
  private[search] def tryServeBatch(spark: SparkSession, libraryId: String,
                                    version: Int, qvecs: Array[Array[Float]],
                                    k: Int,
                                    filters: Map[String, String] = Map.empty)
  : Option[(Array[Row], Boolean, String)] =
    servingEntry(spark, libraryId, version, filters).map { e =>
      injectRule(spark) // the serving session may not be the registering one
      IndexGenerations.lease(e.path, holderOf(spark)) {
        val laddered = filters.nonEmpty
        // the requests as a local relation of catalyst rows: no encoder
        // or cast is generated for them
        val reqs = org.apache.spark.sql.graft.SqlShims.ofRows(spark, LocalRelation(
          Seq(AttributeReference("hid", LongType, nullable = false)(),
            AttributeReference("embedding", ArrayType(FloatType))()),
          qvecs.toSeq.zipWithIndex.map { case (v, i) =>
            InternalRow(i.toLong, ArrayData.toArrayData(v))
          }))
        val hits = e.kind match {
          case "hnsw" =>
            graft.index.HnswIndexStore().searchManyNodes(e.layout,
                qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, k)
              .select(col("qid").as("q_id"), col("rn").cast("int").as("rn"),
                col("id").as("neighbor_id"), col("score").as("cos"))
          case _ =>
            // REGISTRATION-DRIVEN (r17): the bridge DECLARES the
            // batched top-k — requests cross join the registered
            // layout on its stored long `hid`, self excluded, cosine-
            // scored, ranked per request — and the registration's
            // batched rewrite picks the physical serve (broadcast
            // bucket / centroid probe for a bare batch; the batched
            // guaranteed-k LADDER when a metadata filter rides the
            // layout side — every request's escalation in the same
            // one plan). The `require`s keep a silent non-rewrite
            // loud: a REST batch actually executing the quadratic
            // declaration is the failure this tier exists to avoid.
            val layoutSide = filters.foldLeft(
              e.layout.select(col("hid"), col("embedding"), col("metadata"))) {
              case (df, (key, value)) =>
                df.where(col("metadata").getItem(key) === lit(value))
            }.select(col("hid"), col("embedding"))
            var declared = reqs
              .select(col("hid").as("q_id"), col("embedding").as("q_emb"))
              .crossJoin(layoutSide)
              .where(col("hid") =!= col("q_id"))
              .withColumn("cos", graft.expressions.CosineSimilarity(
                col("embedding"), col("q_emb")))
              .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
                org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
                  .orderBy(col("cos").desc, col("hid").asc)))
              .where(col("rn") <= k)
            declared =
              if (laddered)
                declared.select(col("q_id"), col("rn"),
                  col("hid").as("neighbor_id"), col("cos"),
                  lit("auto").as("index_used"))
              else
                declared.select(col("q_id"), col("rn"),
                  col("hid").as("neighbor_id"), col("cos"))
            val plan = declared.queryExecution.optimizedPlan.toString
            // probe/ladder columns only exist in the REWRITTEN plan
            // (the declared quadratic carries none); the serve's own
            // tiny requests×centroids cross join is legitimate, so the
            // check is presence-of-probe, not absence-of-cross-join
            require(
              if (laddered) plan.contains("min_dist")
              else plan.contains("bucket_part") || plan.contains("c_cid"),
              s"the $libraryId batch declaration was not rewritten to the " +
                s"registered batched serve:\n${plan.take(1500)}")
            if (laddered)
              require(!plan.contains("auto"),
                "the index_used placeholder survived the batched ladder rewrite")
            // embed the ALREADY-REWRITTEN plan in the payload join: the
            // outer query re-optimizes its whole tree, and the declared
            // subtree inside a join does not re-match the batched shape
            // identically (observed: the ladder's placeholder overwrite
            // was lost) — the serve's own multi-conjunct joins cannot
            // re-match, so the optimized subtree is stable
            org.apache.spark.sql.graft.SqlShims.ofRows(spark,
              declared.queryExecution.optimizedPlan)
        }
        // payload join: hits are (batch ordinal, rank, hashed id, cos);
        // k·batch rows broadcast against one scan that reads every
        // corpus row once — an LSH layout stores one payload copy per
        // sub-layout table, so only table 0 is read. No dedupe and no
        // global sort: each hit matches exactly one payload row, and
        // the caller orders each request by `rn`
        val payload = e.payload.getOrElse(
            (if (e.kind == "lsh") e.layout.where(col("table") === 0) else e.layout)
              .drop("table", "bucket", "bucket_part", "cluster_id"))
          .withColumn("n_hid", xxhash64(col("id")))
        val usedCols =
          if (laddered && e.kind != "hnsw") Seq(col("index_used")) else Nil
        val out = payload.join(broadcast(hits), col("n_hid") === col("neighbor_id"))
          .select(Seq(col("q_id"), col("rn"), col("library_id"), col("document_id"),
            col("id"), col("text"), col("metadata"),
            col("cos").as("score")) ++ usedCols: _*)
        val rows = out.collect()
        lastBatchPlan = Some(out.queryExecution.executedPlan.toString)
        (rows, laddered && e.kind != "hnsw", e.kind)
      }
    }

  /** The serving session's manifest identity (r17 cross-JVM manifests:
    * leases under this holder write a `_serving` heartbeat, so a retire
    * in ANOTHER JVM defers while this session still serves). */
  private def holderOf(spark: SparkSession): String =
    org.apache.spark.sql.graft.SqlShims.sessionUUID(spark)
}

object AtRestIndexBridge {
  /** One live generation. `dim` is the corpus embedding dim recorded
    * at registration: the query-vector derivation and the dim guard of
    * an at-rest search read it here instead of probing the corpus. */
  private[search] final case class Entry(
      path: String, version: Int,
      kind: String, // "lsh" | "ivf" | "hnsw"
      dim: Int, layout: DataFrame,
      // hnsw only: the chunk payload view at the registered version (the
      // graph layout stores hashed node ids + vectors, not the chunk
      // columns)
      payload: Option[DataFrame] = None)
}
