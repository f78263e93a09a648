package graft.index

import graft.expressions.{CosineSimilarity, DotProduct}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-to-set k-NN join (k-NN GRAPH construction): for every query
  * row, the top-k cosine neighbors among the corpus rows — the
  * primitive behind SemDeDup neighbor lists, NN-graph clustering,
  * k-NN classification and retrieval-set building. The reference has
  * no set-to-set form at all (its search is one query vector per HTTP
  * call, search_service.py:83-156).
  *
  * Exact path: broadcast the (smaller) query side against the corpus
  * scan — one codegen'd dot per (query, corpus) pair with both norms
  * precomputed per side, then per-query top-k as a row_number window,
  * which Spark executes with WindowGroupLimit (per-partition group
  * limits BEFORE the shuffle, so the exchange carries ≤ k·queries
  * rows per task, not the full pair matrix). At 100 TB with a query
  * side too big to broadcast, block both sides by LSH bucket first
  * (the [[graft.dedup.Dedup.embeddingNearDupsLsh]] blocking) and run
  * this same join inside buckets.
  */
object KnnJoin {

  /** The 100 TB path: LSH-bucket blocking instead of a broadcast.
    * Both sides are bucketed with the same seeded planes
    * ([[RandomHyperplaneLsh.withBuckets]] over float-normalized
    * vectors), candidates come from a plain equi-join on (table,
    * bucket) — a shuffle keyed by bucket, never a cartesian — and the
    * multi-table set-union is a dropDuplicates on the pair key. Exact
    * cosine rerank + per-query top-k exactly as [[exact]]. Recall
    * follows the LSH operating point (tables × planes); the candidate
    * generation is the proven knn_lsh machinery, so the gate's DuckDB
    * oracle replays it plane-for-plane.
    */
  def lshBucketed(queries: DataFrame, corpus: DataFrame,
                  idCol: String, embCol: String, k: Int,
                  lsh: RandomHyperplaneLsh = RandomHyperplaneLsh(8, 12, 42L),
                  dim: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions
    def sides(df: DataFrame, id: String): DataFrame =
      lsh.withBuckets(df, VectorFunctions.l2Normalize(col(embCol)), dim)
        .select(col(idCol).cast("long").as(id), col(embCol).as(s"${id}_emb"),
          sqrt(DotProduct(col(embCol), col(embCol))).as(s"${id}_norm"),
          posexplode(col("buckets")).as(Seq(s"${id}_t", s"${id}_bkt")))
    val q = sides(queries, "q_id")
      .withColumnRenamed("q_id_emb", "q_emb").withColumnRenamed("q_id_norm", "q_norm")
    val c = sides(corpus, "neighbor_id")
      .withColumnRenamed("neighbor_id_emb", "c_emb")
      .withColumnRenamed("neighbor_id_norm", "c_norm")
    val cand = q.join(c,
        col("q_id_t") === col("neighbor_id_t") && col("q_id_bkt") === col("neighbor_id_bkt") &&
          col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), col("q_emb"), col("c_emb"),
        col("q_norm"), col("c_norm"))
      .dropDuplicates("q_id", "neighbor_id") // set-union across tables
    cand
      .withColumn("cos",
        when(col("q_norm") === 0.0 || col("c_norm") === 0.0, 0.0)
          .otherwise(DotProduct(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("neighbor_id"), col("cos"))
  }

  /** BATCHED serving against an at-rest [[LshIndexStore]] layout: ALL
    * requests of a micro-batch answered by ONE plan — the serving form
    * the driver-loop streams can't scale to (r14 verdict #2: a loop
    * that plans one query per request makes the driver the queue at
    * production QPS; here requests/plan grows with the batch while the
    * plan count stays 1).
    *
    * Shape: hash the request batch with the layout's own planes
    * ([[RandomHyperplaneLsh.withBuckets]] over L2-normalized vectors,
    * posexploded to one row per (request, table)), BROADCAST it, and
    * equi-join the layout scan on (table, bucket_part, bucket) — the
    * per-request candidate union as one join, never a cartesian. The
    * join keys include the layout's PARTITION columns, so the scan is
    * prunable to the union of the requests' buckets (statically for a
    * literal request set via dynamic partition pruning off the
    * broadcast; at worst one full layout scan serves the WHOLE batch,
    * amortized across its requests — vs one scan per request in the
    * loop form). Self-matches are excluded in the join (serving
    * semantics), candidates dedupe on the (q_id, neighbor_id) pair
    * (set-union across tables), exact cosine rerank, per-request top-k
    * via the WindowGroupLimit-executed row_number — ≤ k·requests rows
    * cross the exchange.
    *
    * Candidate rule + rerank are identical to the rule-served
    * per-request probe at the exact-bucket policy, so a gate over this
    * path shares knn_serve_stream_rule's DuckDB oracle.
    *
    * `maxHamming = 1` serves the 1-bit MULTI-PROBE policy in the same
    * single plan (r15 open thread #3): each request's per-table bucket
    * is expanded to its numPlanes+1 Hamming-1 ball BEFORE the join —
    * one more explode on the (already tiny, broadcast) request side,
    * 13× more probe rows per request at 8×12 but zero change to the
    * layout side — so batched serving covers the same recall knob the
    * rule's registration policy offers. Ball buckets are pairwise
    * distinct (b and b^(1<<p) never collide), so no dedupe is needed
    * before the join; the (q_id, neighbor_id) dedupe already
    * set-unions across tables AND ball positions.
    */
  def lshServeBatched(requests: DataFrame, layout: DataFrame,
                      lsh: RandomHyperplaneLsh, dim: Int, k: Int,
                      idCol: String = "vec_id", embCol: String = "embedding",
                      numPhysicalPartitions: Int = 256,
                      maxHamming: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions
    require(maxHamming >= 0 && maxHamming <= 1,
      s"maxHamming $maxHamming unsupported — 0 (exact bucket) or 1 (1-bit multi-probe)")
    val exact = lsh.withBuckets(requests.where(col(embCol).isNotNull),
        VectorFunctions.l2Normalize(col(embCol)), dim)
      .select(col(idCol).cast("long").as("q_id"), col(embCol).as("q_emb"),
        sqrt(DotProduct(col(embCol), col(embCol))).as("q_norm"),
        posexplode(col("buckets")).as(Seq("q_t", "q_bkt")))
    val balled =
      if (maxHamming <= 0) exact
      else exact.withColumn("q_bkt", explode(array(
        col("q_bkt") +: (0 until lsh.numPlanes)
          .map(p => col("q_bkt").bitwiseXOR(lit(1 << p))): _*)))
    val q = balled
      .withColumn("q_part", pmod(col("q_bkt"), lit(numPhysicalPartitions)))
    val cNorm = sqrt(DotProduct(col(embCol), col(embCol)))
    layout.join(broadcast(q),
        col("table") === col("q_t") && col("bucket_part") === col("q_part") &&
          col("bucket") === col("q_bkt") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).cast("long").as("neighbor_id"),
        when(col("q_norm") === 0.0 || cNorm === 0.0, 0.0)
          .otherwise(DotProduct(col("q_emb"), col(embCol)) / (col("q_norm") * cNorm))
          .as("cos"))
      // set-union across tables: a neighbor's copies are byte-identical,
      // so their cos is too and the dedupe groups three scalar columns
      // (a hash aggregate) instead of carrying both vectors through it
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("neighbor_id"), col("cos"))
  }

  /** BATCHED filtered serving with GUARANTEED k — the
    * [[LshIndexStore.searchFilteredAdaptive]] ladder at batch QPS
    * (r15 open thread: the per-request ladder escalates with
    * driver-side COUNT jobs per query; here every request's
    * escalation decision happens IN one plan):
    *
    *  1. ONE ball join computes, per request, every layout row within
    *     Hamming 1 of the request in any table that SURVIVES the user
    *     filter, carrying `min_dist` (0 = exact bucket, 1 = one flip)
    *     — the request side explodes its 1-bit ball exactly like
    *     [[lshServeBatched]] with a distance tag, so the join stays a
    *     broadcast equi-join on the layout's partition columns;
    *  2. per-request survivor counts at both levels fall out of one
    *     aggregate over those pairs (`n0` = exact-bucket survivors,
    *     `n1` = ball survivors — monotone by construction);
    *  3. each request picks the first level with ≥ k survivors
    *     (`lsh` → `lsh_mp1`), STARVED requests (n1 < k, including
    *     requests with zero ball candidates) fall through to the
    *     brute rung — a broadcast of only the starved requests against
    *     the FILTERED `table = 0` sub-layout (every corpus row once),
    *     reported `index_used = "brute"` per the O10 fallback
    *     contract;
    *  4. the union reranks by exact cosine per request
    *     (WindowGroupLimit), self excluded throughout (serving
    *     semantics).
    *
    * The ladder is monotone (exact ⊆ ball ⊆ filtered corpus) and the
    * rerank is exact either way, so escalation only ever ADDS
    * candidates. Cost at scale: the ball join is the
    * [[lshServeBatched]] maxHamming=1 join (layout side scanned once
    * per batch), the stats aggregate carries ≤ candidates rows, and
    * the brute rung's scan is proportional to the FILTERED subset ×
    * starved requests — exactly what a correct answer requires when
    * the index cannot satisfy the filter, and zero when no request
    * starves. Output: (q_id, rn, neighbor_id, cos, index_used).
    */
  def lshServeFilteredAdaptiveBatched(requests: DataFrame, layout: DataFrame,
                                      lsh: RandomHyperplaneLsh, dim: Int, k: Int,
                                      userFilter: Column,
                                      idCol: String = "vec_id",
                                      embCol: String = "embedding",
                                      numPhysicalPartitions: Int = 256): DataFrame = {
    import graft.functions.VectorFunctions
    val reqs = requests.where(col(embCol).isNotNull)
    val q = lsh.withBuckets(reqs, VectorFunctions.l2Normalize(col(embCol)), dim)
      .select(col(idCol).cast("long").as("q_id"), col(embCol).as("q_emb"),
        sqrt(DotProduct(col(embCol), col(embCol))).as("q_norm"),
        posexplode(col("buckets")).as(Seq("q_t", "q_bkt")))
      // the 1-bit ball, tagged with its Hamming distance: (0, own
      // bucket) plus (1, each single flip) — values pairwise distinct,
      // so a neighbor matches one ball row per table at most
      .withColumn("bd", explode(array(
        struct(lit(0).as("d"), col("q_bkt").as("b")) +:
          (0 until lsh.numPlanes).map(p =>
            struct(lit(1).as("d"),
              col("q_bkt").bitwiseXOR(lit(1 << p)).as("b"))): _*)))
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("q_t"),
        col("bd.b").as("q_bkt2"), col("bd.d").as("dist"))
      .withColumn("q_part", pmod(col("q_bkt2"), lit(numPhysicalPartitions)))
    val filteredLayout = layout.where(userFilter)
    val pairs = filteredLayout.join(broadcast(q),
        col("table") === col("q_t") && col("bucket_part") === col("q_part") &&
          col("bucket") === col("q_bkt2") && col(idCol) =!= col("q_id"))
      .groupBy(col("q_id"), col(idCol).cast("long").as("neighbor_id"))
      .agg(min(col("dist")).as("min_dist"),
        // identical across a neighbor's copies — first() is just the cheapest pick
        first(col(embCol)).as("c_emb"))
    val reqIds = reqs.select(col(idCol).cast("long").as("q_id"),
      col(embCol).as("q_emb"),
      sqrt(DotProduct(col(embCol), col(embCol))).as("q_norm"))
    val levels = reqIds.join(
        pairs.groupBy(col("q_id")).agg(
          sum(when(col("min_dist") === 0, 1).otherwise(0)).as("n0"),
          count(lit(1)).as("n1")),
        Seq("q_id"), "left")
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        when(coalesce(col("n0"), lit(0L)) >= k, 0)
          .when(coalesce(col("n1"), lit(0L)) >= k, 1)
          .otherwise(2).as("level"))
    val served = pairs
      .join(broadcast(levels), Seq("q_id")) // q_emb/q_norm ride the levels row
      .where(col("level") < 2 && col("min_dist") <= col("level"))
      .select(col("q_id"), col("neighbor_id"), col("c_emb"),
        col("q_emb"), col("q_norm"), col("level"))
    val starved = levels.where(col("level") === 2)
    val brute = filteredLayout.where(col("table") === 0)
      .join(broadcast(starved), col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).cast("long").as("neighbor_id"),
        col(embCol).as("c_emb"), col("q_emb"), col("q_norm"), col("level"))
    served.unionByName(brute)
      .withColumn("c_norm", sqrt(DotProduct(col("c_emb"), col("c_emb"))))
      .withColumn("cos",
        when(col("q_norm") === 0.0 || col("c_norm") === 0.0, 0.0)
          .otherwise(DotProduct(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("neighbor_id"), col("cos"),
        when(col("level") === 0, "lsh").when(col("level") === 1, "lsh_mp1")
          .otherwise("brute").as("index_used"))
  }

  /** BATCHED filtered serving with GUARANTEED k in IVF geometry (r17 —
    * the r16 verdict's #1, the last cell of the serving matrix: the
    * decision table recommends IVF for clustered corpora, and until
    * this serve a filtered batched declaration over an IVF `guaranteeK`
    * registration refused to the declared quadratic plan). The
    * escalation contract is [[lshServeFilteredAdaptiveBatched]]'s,
    * expressed in the index's own geometry exactly like the
    * per-request IVF ladder
    * ([[graft.plans.LshProbeRewrite]].guaranteedKLadderIvf):
    *
    *  1. ONE batched centroid-rank join (the [[ivfServeBatched]]
    *     probe machinery — requests × the broadcast centroid table,
    *     ranked per request with [[graft.expressions.CosineSimilarity]]
    *     = [[IvfKnn.rankClusters]]'s arithmetic bit for bit) derives
    *     each request's WIDENED probe list: the top-2·nprobe clusters,
    *     tagged `min_dist` 0 within the registered nprobe (the static
    *     probe would read them) or 1 in the doubled tail (IVF's
    *     standard recall knob, the analog of the LSH 1-bit ball);
    *  2. the probe pairs broadcast-join the FILTERED layout on its
    *     partition column — IVF stores each row exactly once and probe
    *     clusters are pairwise distinct, so a (request, row) pair
    *     matches exactly one probe row and `min_dist` needs no dedupe
    *     aggregate (the LSH form's groupBy exists only for sub-layout
    *     copies);
    *  3. per-request survivor counts at both levels from one
    *     aggregate; first level with ≥ k wins (`ivf` → `ivf_w2`);
    *     STARVED requests (n1 < k) broadcast into the brute rung over
    *     the whole filtered layout (every row once — no sub-layout
    *     trick needed), reported `brute` per the O10 contract;
    *  4. exact cosine rerank per request (WindowGroupLimit), self
    *     excluded throughout.
    *
    * Cost at scale: the probe join touches requests × 2·nprobe rows on
    * the broadcast side and the layout once per batch (the probed
    * clusters' directory union under partition pruning); the brute
    * rung's scan is ∝ filtered subset × starved requests and zero when
    * no request starves. Output: (q_id, rn, neighbor_id, cos,
    * index_used).
    */
  def ivfServeFilteredAdaptiveBatched(requests: DataFrame, layout: DataFrame,
                                      cents: Array[(Long, Array[Float])],
                                      nprobe: Int, k: Int,
                                      userFilter: Column,
                                      idCol: String = "vec_id",
                                      embCol: String = "embedding"): DataFrame = {
    val spark = requests.sparkSession
    import spark.implicits._
    val centDf = cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("c_cid", "cent")
    val reqs = requests.where(col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("q_id"), col(embCol).as("q_emb"),
        sqrt(DotProduct(col(embCol), col(embCol))).as("q_norm"))
    val probe = reqs.select(col("q_id"), col("q_emb"))
      .crossJoin(broadcast(centDf))
      .withColumn("c_s", CosineSimilarity(col("q_emb"), col("cent")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("c_s").desc, col("c_cid"))))
      .where(col("crn") <= 2 * nprobe)
      .select(col("q_id"), col("c_cid"),
        when(col("crn") <= nprobe, 0).otherwise(1).as("min_dist"))
    val filteredLayout = layout.where(userFilter)
    val pairs = filteredLayout.join(broadcast(probe),
        col("cluster_id") === col("c_cid") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).cast("long").as("neighbor_id"),
        col("min_dist"), col(embCol).as("c_emb"))
    val levels = reqs.join(
        pairs.groupBy(col("q_id")).agg(
          sum(when(col("min_dist") === 0, 1).otherwise(0)).as("n0"),
          count(lit(1)).as("n1")),
        Seq("q_id"), "left")
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        when(coalesce(col("n0"), lit(0L)) >= k, 0)
          .when(coalesce(col("n1"), lit(0L)) >= k, 1)
          .otherwise(2).as("level"))
    val served = pairs
      .join(broadcast(levels), Seq("q_id")) // q_emb/q_norm ride the levels row
      .where(col("level") < 2 && col("min_dist") <= col("level"))
      .select(col("q_id"), col("neighbor_id"), col("c_emb"),
        col("q_emb"), col("q_norm"), col("level"))
    val starved = levels.where(col("level") === 2)
    val brute = filteredLayout
      .join(broadcast(starved), col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).cast("long").as("neighbor_id"),
        col(embCol).as("c_emb"), col("q_emb"), col("q_norm"), col("level"))
    served.unionByName(brute)
      .withColumn("c_norm", sqrt(DotProduct(col("c_emb"), col("c_emb"))))
      .withColumn("cos",
        when(col("q_norm") === 0.0 || col("c_norm") === 0.0, 0.0)
          .otherwise(DotProduct(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("neighbor_id"), col("cos"),
        when(col("level") === 0, "ivf").when(col("level") === 1, "ivf_w2")
          .otherwise("brute").as("index_used"))
  }

  /** BATCHED serving against an at-rest [[IvfIndexStore]] layout — the
    * IVF twin of [[lshServeBatched]] (r15 open thread #3): ALL requests
    * of a micro-batch answered by ONE plan. The request batch
    * cross-joins the (tiny, broadcast) centroid table and ranks it
    * per request with the SAME arithmetic as
    * [[IvfKnn.rankClusters]] — [[graft.expressions.CosineSimilarity]]
    * accumulates dot/na/nb in one double pass exactly like cosineArr,
    * so the (cosine DESC, cid ASC) window selects bit-identical probe
    * lists — then the per-request top-`nprobe` (q_id, cluster_id)
    * probe pairs broadcast-join the layout scan on its PARTITION
    * column. Requests × nprobe rows probe the build side; the layout —
    * the 100 TB side — is scanned once per batch at worst (the probed
    * clusters' union of directories once dynamic partition pruning
    * kicks in), never once per request. Exact cosine rerank +
    * per-request top-k via WindowGroupLimit, identical to
    * [[lshServeBatched]]'s tail — so a gate over this path shares
    * knn_serve_stream_ivf's per-request replay oracle.
    */
  def ivfServeBatched(requests: DataFrame, layout: DataFrame,
                      cents: Array[(Long, Array[Float])], nprobe: Int, k: Int,
                      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = requests.sparkSession
    import spark.implicits._
    val centDf = cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("c_cid", "cent")
    val probe = requests.where(col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("q_id"), col(embCol).as("q_emb"),
        sqrt(DotProduct(col(embCol), col(embCol))).as("q_norm"))
      .crossJoin(broadcast(centDf))
      .withColumn("c_s", CosineSimilarity(col("q_emb"), col("cent")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("c_s").desc, col("c_cid"))))
      .where(col("crn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("c_cid"))
    layout.join(broadcast(probe),
        col("cluster_id") === col("c_cid") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        col(idCol).cast("long").as("neighbor_id"), col(embCol).as("c_emb"),
        sqrt(DotProduct(col(embCol), col(embCol))).as("c_norm"))
      .withColumn("cos",
        when(col("q_norm") === 0.0 || col("c_norm") === 0.0, 0.0)
          .otherwise(DotProduct(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("neighbor_id"), col("cos"))
  }

  /** `carryCorpusCols`: corpus columns passed through to the neighbor
    * rows of the output (e.g. a label for [[classify]]) — carried in
    * the ONE corpus scan instead of a corpus-sized join-back later. */
  def exact(queries: DataFrame, corpus: DataFrame,
            idCol: String, embCol: String, k: Int,
            carryCorpusCols: Seq[String] = Nil): DataFrame =
    scoredTopK(
      queries.select(
        col(idCol).cast("long").as("q_id"), col(embCol).as("q_emb"),
        sqrt(DotProduct(col(embCol), col(embCol))).as("q_norm")),
      corpus.select(
        col(idCol).cast("long").as("neighbor_id") +: col(embCol).as("c_emb") +:
          sqrt(DotProduct(col(embCol), col(embCol))).as("c_norm") +:
          carryCorpusCols.map(col): _*),
      pairPred = col("q_id") =!= col("neighbor_id"),
      k, carryCorpusCols)

  /** The scored broadcast-kNN core shared by [[exact]] and
    * [[hardNegatives]] — one definition of the zero-norm-guarded
    * cosine, the (cos DESC, neighbor_id) tiebreak and the
    * WindowGroupLimit top-k, so the variants cannot drift. Expects
    * `q`(q_id, q_emb, q_norm, …) and `c`(neighbor_id, c_emb, c_norm,
    * …); extra columns may feed `pairPred` without appearing in the
    * output unless named in `carryCorpusCols`.
    */
  private def scoredTopK(q: DataFrame, c: DataFrame, pairPred: Column,
                         k: Int, carryCorpusCols: Seq[String]): DataFrame =
    c.join(broadcast(q), pairPred)
      .withColumn("cos",
        when(col("q_norm") === 0.0 || col("c_norm") === 0.0, 0.0)
          .otherwise(DotProduct(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rn") <= k)
      .select(col("q_id") +: col("rn") +: col("neighbor_id") +: col("cos") +:
        carryCorpusCols.map(col): _*)

  /** k-NN classification (label propagation): predict each query row's
    * label as the MAJORITY label among its k nearest corpus rows — the
    * auto-labeling step a curation pipeline uses to extend a small
    * labeled seed set over an unlabeled corpus. Votes tie-break by
    * (n_votes DESC, label ASC): a total order over exact values, never
    * over floats, so the prediction is deterministic and
    * SQL-replayable even when two labels split the neighborhood
    * evenly. Cost = the [[exact]] join (or its LSH-bucketed form at
    * scale) + one ≤ k·queries-row aggregate; the label rides the
    * corpus scan via `carryCorpusCols`, so no corpus-sized join-back.
    * Output: (q_id, pred_label, n_votes).
    */
  def classify(queries: DataFrame, corpus: DataFrame, idCol: String,
               embCol: String, labelCol: String, k: Int): DataFrame =
    exact(queries, corpus, idCol, embCol, k, carryCorpusCols = Seq(labelCol))
      .groupBy(col("q_id"), col(labelCol))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("n_votes").desc, col(labelCol))))
      .where(col("vr") === 1)
      .select(col("q_id"), col(labelCol).as("pred_label"), col("n_votes"))

  /** Contrastive hard-negative mining: for every query row, the top-k
    * most-similar corpus rows with a DIFFERENT label — the highest-
    * scoring wrong answers, which is exactly the negative set dense-
    * retrieval / embedding training wants (easy random negatives teach
    * nothing; the near-miss ones define the decision boundary). The
    * label predicate must sit in the JOIN, not after the rank: ranking
    * first and filtering later would silently drop positions and
    * return fewer than k negatives per query.
    *
    * Same cost shape as [[exact]]: broadcast the query side, one
    * codegen'd dot per surviving pair, per-query top-k via the
    * WindowGroupLimit-executed row_number (≤ k·queries rows cross the
    * exchange). At 100 TB, block with [[lshBucketed]]'s machinery and
    * apply the same label-inequality predicate on the bucket join.
    * Output: (q_id, rn, neighbor_id, cos).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    embCol: String, labelCol: String, k: Int): DataFrame =
    scoredTopK(
      queries.select(
        col(idCol).cast("long").as("q_id"), col(embCol).as("q_emb"),
        sqrt(DotProduct(col(embCol), col(embCol))).as("q_norm"),
        col(labelCol).as("q_label")),
      corpus.select(
        col(idCol).cast("long").as("neighbor_id"), col(embCol).as("c_emb"),
        sqrt(DotProduct(col(embCol), col(embCol))).as("c_norm"),
        col(labelCol).as("c_label")),
      pairPred = col("c_label") =!= col("q_label"),
      k, carryCorpusCols = Nil)
}
