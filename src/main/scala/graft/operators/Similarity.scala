package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.index.IvfModel

/**
 * Similarity-search operators over an embedding column.
 *
 * - `knnExact`: single-query brute force — the reference's Q1 fallback
 *   (search_service.py:112-153). Plans as a shuffle-free scan ending in
 *   `TakeOrderedAndProject` (per-partition top-k heap + driver merge of
 *   k rows), strictly better than the reference's full sort.
 * - `bruteForceTopK`: batch of queries vs corpus — broadcast the small
 *   query side, per-partition score, window top-k per query.
 * - `ivfTopK`: the scale path — cluster-prune the corpus per query via a
 *   trained IVF model, then exact rerank only inside probed clusters.
 */
object Similarity {

  /** Deterministic tiebreak: score desc, id asc (SURVEY.md §2.5). */
  def knnExact(corpus: DataFrame, idCol: String, embCol: String,
      query: Array[Float], k: Int): DataFrame =
    corpus.filter(col(embCol).isNotNull)
      .withColumn("score", cosine_sim(col(embCol), typedLit(query)))
      .withColumn("distance", euclidean_dist(col(embCol), typedLit(query)))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /**
   * Per-query top-k without shuffling the scored rows: the size-capped
   * [[org.apache.spark.sql.graft.expressions.BoundedTopK]] aggregate
   * pre-aggregates each partition's own top-k per query (map-side
   * combine), so the exchange moves at most |queries| * |partitions| * k
   * rows instead of |queries| * |corpus| — and, unlike the previous
   * `collect_list` + sort + slice shape, every PARTIAL buffer is also
   * k-bounded: a hot bucket fanning one query out to millions of
   * candidate rows folds into k-item insertion instead of accumulating
   * the whole skewed candidate list in one aggregation buffer.
   * Deterministic tiebreak: score desc, neighbor id asc (lexicographic
   * struct ordering on (-score, id)); duplicate candidates (the LSH
   * bucket join emits one row per shared table) carry identical
   * (neg, nid) structs and are suppressed at insert.
   */
  private def aggregateTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    // id stays in its native type — struct ordering covers any orderable
    // type; a cast("long") would silently null out string (UUID) ids.
    val item = struct((-col("score")).as("neg"), col(idCol).as("nid"))
    scored.groupBy(col("query_id"))
      .agg(bounded_topk(item, k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "item")))
      .select(col("query_id"), col("item.nid").as("neighbor_id"),
        (-col("item.neg")).as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /**
   * Batch kNN: every row of `queries` (qidCol, qembCol) gets its top-k
   * neighbors from `corpus`. The query side is broadcast (it is the
   * small side by construction); scoring is a broadcast nested-loop
   * over each corpus partition — no corpus shuffle — and the top-k is
   * the map-side-combined aggregation above. For very large query
   * sets, use `ivfTopK`.
   */
  def bruteForceTopK(corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qidCol: String, qembCol: String, k: Int): DataFrame = {
    val scored = corpus.filter(col(embCol).isNotNull)
      .crossJoin(broadcast(queries.select(col(qidCol).as("query_id"),
        col(qembCol).as("query_emb"))))
      .withColumn("score", cosine_sim(col(embCol), col("query_emb")))
    aggregateTopK(scored, idCol, k)
  }

  /**
   * IVF-accelerated batch kNN: assign corpus rows to clusters once,
   * assign each query to its top-`nprobe` clusters, then join on
   * cluster_id — each query only scores corpus rows in its probed
   * clusters (nprobe/nlist of the data). The join shuffles on
   * cluster_id, which is exactly the partitioning the assigned corpus
   * table is stored with at scale.
   */
  def ivfTopK(corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qidCol: String, qembCol: String, k: Int,
      model: IvfModel, nprobe: Int): DataFrame = {
    val assigned = model.assign(corpus, embCol)
      .select(col(idCol), col(embCol), col("cluster_id"))
    // per-query probed clusters via the same centroid expression family:
    // top-nprobe centroid ids, exploded to (query, cluster_id)
    val qAssigned = queries.select(col(qidCol).as("query_id"),
        col(qembCol).as("query_emb"))
      .withColumn("cluster_id", explode(probeClustersColumn(model, col("query_emb"), nprobe)))
    val scored = assigned.join(qAssigned, Seq("cluster_id"))
      .withColumn("score", cosine_sim(col(embCol), col("query_emb")))
    aggregateTopK(scored, idCol, k)
  }

  /**
   * LSH-accelerated kNN JOIN — the batch form for query sets too large
   * to broadcast (`bruteForceTopK` requires a driver-small query side;
   * `ivfTopK` a trained model). Both sides hash into the same
   * random-hyperplane buckets, with the EMBEDDING riding the bucket
   * row as payload, and candidates come from ONE bucket equi-join —
   * scoring (exact cosine) and the map-side partial top-k then run in
   * the SAME stage as the join, so the pair-expanded candidate stream
   * is consumed where it is produced and never shuffled. The only
   * exchange proportional to data is the bucket join's own
   * n·numTables·(dim+1) row exchange; the top-k aggregate moves
   * |queries|·|partitions|·k rows. (The previous shape shuffled the
   * candidate PAIR MASS three times — a dropDuplicates plus two by-id
   * embedding hydration joins — which at ~64 ids/bucket/table is
   * ~8·64·n pair rows per pass, an order of magnitude more exchange
   * bytes than the n·8 embedding-carrying bucket rows; measured ~3×
   * end-to-end on the sf10 fixture — 163 s → 56 s in-harness min under
   * comparable ambient load, 42 s isolated — NOTES.md round 9, with
   * sf0.1 unchanged at ~2.2 s. Duplicate
   * candidates from multi-table co-occupancy are instead dropped
   * inside the top-k arrays by `array_distinct` — identical
   * (score, id) structs — at zero shuffle cost.) This is the kNN
   * SELF-join that builds the similarity graph for semantic
   * clustering / embedding-level dedup at 100 TB.
   *
   * Bucket sizing is the same scale contract as
   * [[graft.operators.Dedup.embeddingNearDupPairs]]: candidate mass
   * per bucket is ~(n·m)/2^bits per table, so `bits` must grow with
   * log(corpus) — callers use [[autoBits]] unless they know better.
   *
   * ANN contract (recall < 1 by construction): a query sharing no
   * bucket with its true neighbor misses it, and a query sharing no
   * bucket with ANYTHING returns no rows — the facade's per-query
   * full-scan fallback would reintroduce exactly the O(n·m) term this
   * operator exists to avoid, so at bulk scale absent queries are the
   * contract. Recall floors and the id-for-id differential vs the
   * per-query composition are asserted in AnnRecallSpec.
   *
   * Adversarial-skew guard (the corpus this operator exists for is
   * PRE-dedup — re-crawl spam means large identical-vector masses, and
   * identical vectors share all `numTables` bucket keys by
   * construction, so an unguarded self-join would form m² candidate
   * pairs for an m-copy mass). Two parts, the same contract as
   * [[SemDedup]]'s `maxClusterRows`:
   *
   *  1. Exact-vector collapse: the corpus is grouped by embedding VALUE
   *     (one hash aggregate — on duplicate-heavy data this SHRINKS the
   *     bucket-join exchange to distinct vectors) and only one
   *     representative per distinct vector is bucketed, carrying its
   *     group's k (k+1 under `excludeSelf`) smallest member ids as a
   *     bounded payload. Scoring runs per representative; the final
   *     per-query top-k re-expands members (equal scores, id-ascending
   *     ties) — provably the same top-k the uncollapsed join yields,
   *     because a group outside the rep top-k cannot contain a member
   *     that precedes k members of kept groups (LshSkewSpec asserts
   *     output parity with brute force on adversarial corpora).
   *  2. Bucket width cap: DISTINCT-vector buckets wider than
   *     `maxBucketWidth` are thinned to
   *     ~that width by a seeded deterministic id-hash filter, bounding
   *     any single bucket's candidate mass at |q_bucket|·cap — the
   *     bounded-probe recall trade (FAISS `max_codes`). Inert below the
   *     cap (64× the autoBits design width), and the width table
   *     shuffles on the SAME bucket key as the candidate join, so the
   *     corpus side still crosses the wire once.
   *
   * @param queryFlips multi-probe flips on the QUERY side (Lv et al.
   *   2007): each query additionally probes, per table, the buckets
   *   reached by flipping its `queryFlips` lowest-confidence sign
   *   bits — candidate mass grows by at most (1 + queryFlips)× for a
   *   recall gain that otherwise needs more tables (more corpus-side
   *   exchange). 0 = classic single-probe. Candidates are a strict
   *   superset of the single-probe set, so recall never decreases
   *   (asserted in AnnRecallSpec).
   * @param maxBucketWidth the hot-bucket width cap (default
   *   [[graft.model.GraftConfig.lshMaxBucketWidth]]). */
  def lshKnnJoin(corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qidCol: String, qembCol: String, k: Int,
      lsh: graft.index.LshModel, excludeSelf: Boolean = false,
      queryFlips: Int = 0,
      maxBucketWidth: Int = graft.model.GraftConfig.lshMaxBucketWidth): DataFrame = {
    // k+1 groups / k+1 members when the query may sit inside a collapsed
    // group: dropping self afterwards then still leaves >= k candidates
    // preceding anything outside the padded sets (proof in LshSkewSpec).
    val kPad = if (excludeSelf) k + 1 else k
    val thinned = collapsedThinnedBuckets(corpus, idCol, embCol, kPad, lsh, maxBucketWidth)
    val qBuckets =
      if (queryFlips <= 0) lsh.bucketsColumn(col(qembCol))
      else lsh.multiProbeBucketsColumn(col(qembCol), queryFlips)
    val q = queries.filter(col(qembCol).isNotNull)
      .select(col(qidCol).as("query_id"), col(qembCol).as("__qemb"),
        explode(qBuckets).as("bucket"))
    val cand = q.join(thinned, Seq("bucket"))
      .withColumn("score", cosine_sim(col("__cemb"), col("__qemb")))
    // rep-level top-k (members ride the item struct — buffers stay
    // <= kPad·(2 + kPad) values), then member re-expansion + final
    // per-query top-k. The expansion keeps query_id untouched, so the
    // second aggregation reuses the first one's hash partitioning —
    // no additional exchange.
    val item = struct((-col("score")).as("neg"), col("id").as("nid"),
      col("__members").as("members"))
    val repTop = cand.groupBy(col("query_id"))
      .agg(bounded_topk(item, kPad).as("top"))
      .select(col("query_id"), explode(col("top")).as("item"))
      .select(col("query_id"), col("item.neg").as("neg"),
        explode(col("item.members")).as("member_id"))
    val expanded =
      if (excludeSelf) repTop.filter(col("member_id") =!= col("query_id"))
      else repTop
    expanded.groupBy(col("query_id"))
      .agg(bounded_topk(struct(col("neg"), col("member_id").as("nid")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "item")))
      .select(col("query_id"), col("item.nid").as("neighbor_id"),
        (-col("item.neg")).as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** The guard stages of [[lshKnnJoin]], exposed for the skew-audit
    * spec: (bucket, id=rep, __cemb, __members) rows after (1) the
    * exact-vector collapse (one rep per DISTINCT embedding, carrying
    * the kPad smallest member ids) and (2) hot-bucket thinning to
    * ~`maxBucketWidth` reps/bucket via a
    * seeded deterministic id-hash filter. The width aggregate + join
    * shuffle on the same `bucket` key the candidate join needs, so the
    * corpus side still crosses the wire once (ReusedExchange covers the
    * double consumption of the collapse exchange). */
  private[graft] def collapsedThinnedBuckets(corpus: DataFrame, idCol: String,
      embCol: String, kPad: Int, lsh: graft.index.LshModel,
      maxBucketWidth: Int = graft.model.GraftConfig.lshMaxBucketWidth): DataFrame = {
    val groups = corpus.filter(col(embCol).isNotNull)
      .groupBy(col(embCol).as("__cemb"))
      .agg(bounded_topk(col(idCol), kPad).as("__members"))
    val bucketed = groups
      .select(element_at(col("__members"), 1).as("id"), col("__cemb"),
        col("__members"), explode(lsh.bucketsColumn(col("__cemb"))).as("bucket"))
    val cap = maxBucketWidth
    // round-18 (§2.4): the bucket width rides a WINDOW over the same
    // bucket exchange the candidate join needs, instead of a separate
    // width aggregate joined back — one exchange and zero joins where
    // the r17 shape paid an aggregate + a join (ReusedExchange covered
    // the bytes but not the extra AQE stages/jobs). Same rows, same
    // filter: count(*) OVER (PARTITION BY bucket) == the joined width.
    val byBucket = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    bucketed.withColumn("__w", count(lit(1)).over(byBucket))
      .filter(col("__w") <= cap ||
        pmod(xxhash64(col("id"), lit(lsh.seed)), col("__w")) < cap)
      .drop("__w")
  }

  /** Bucket bits targeting [[graft.model.GraftConfig.lshTargetIdsPerBucket]]
    * expected ids/bucket/table for an `n`-row corpus: bits =
    * ceil(log2(n / target)), floored at 4 — the growth rate that keeps
    * the bucket join's candidate mass ~linear in n at ANY corpus size
    * (see [[lshKnnJoin]]). The only ceiling is the long-key packing
    * bound ([[graft.model.GraftConfig.lshMaxAutoBits]], 57 bits ≈
    * 9·10^18 rows/table at the default target — unreachable); the
    * previous fixed 16-bit clamp saturated at ~4.2M rows/table, below
    * the 100-TB design point. */
  def autoBits(n: Long): Int = {
    val target = math.max(1, graft.model.GraftConfig.lshTargetIdsPerBucket)
    math.min(graft.model.GraftConfig.lshMaxAutoBits, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / target)) / math.log(2)).toInt))
  }

  /** array<int> of the nprobe nearest centroid ids for an embedding
    * column — one codegen'd [[NearestCentroids]] call (nlist·dim work
    * per row). The previous form built an expression tree of one
    * struct PER CENTROID plus an array_sort, which is O(nlist)
    * operators in the plan and stops compiling at serving-scale nlist;
    * identical output ordering (distance asc, ties to lowest id). */
  private def probeClustersColumn(model: IvfModel, emb: Column, nprobe: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.graft.expressions.NearestCentroids
    Bridge.column(NearestCentroids(Bridge.expression(emb), model.centroids,
      math.max(1, nprobe)))
  }

  /**
   * Maximal Marginal Relevance diversified top-k (Carbonell &
   * Goldstein 1998): from each query's `poolSize`-candidate relevance
   * pool, greedily select k results maximizing
   *
   *   mmr(d) = λ·sim(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s)
   *
   * (step 1, with nothing selected, reduces to λ·sim(q, d)). The
   * standard redundancy-killing rerank for RAG retrieval and
   * exemplar-diverse training-batch construction: plain top-k returns
   * near-duplicate neighbors; MMR forces coverage.
   *
   * Shape: MMR is a RERANK on a bounded pool — the corpus-scale work
   * is the pool construction (here [[bruteForceTopK]]; swap in any ANN
   * tier for the 100 TB path), after which each greedy step runs on
   * ≤ |queries|·poolSize rows: an anti-join against the selected set,
   * one per-query max-sim via a size-bounded higher-order aggregate
   * over the ≤ k selected embeddings, and a window argmax. The pool is
   * localCheckpointed once so the k steps never re-execute the scoring
   * subtree (the q114 shared-subtree lesson), and each step's winner
   * frame (|queries| rows) is checkpointed to keep the growing plan
   * from re-deriving earlier steps.
   *
   * Determinism/replayability: every score is the same codegen'd
   * [[graft.functions.GraftFunctions.cosine_sim]] double chain the ANN
   * family pins (dot/(√·√) — no libm beyond IEEE-exact sqrt), λ and
   * 1−λ enter as double literals, and ties break by neighbor id — so
   * DuckDB replays the whole greedy chain bit-identically from static
   * unrolled SQL (q130), no generator, no margin withholds.
   *
   * Output: (query_id, rank 1..k, neighbor_id, rel, mmr).
   */
  /**
   * Matryoshka / prefix-dimension two-stage kNN (Kusupati et al. 2022,
   * "Matryoshka Representation Learning"): score the corpus with the
   * cosine over only the FIRST `coarseDims` dimensions (MRL-trained
   * embeddings front-load information, so the prefix is a usable
   * coarse metric), keep each query's top-`poolSize` candidates, then
   * exact-rerank the pool with the full-dimension cosine.
   *
   * Scale shape: the corpus-wide pass does coarseDims/dim of the
   * arithmetic, and the full-dim cosine runs only on |queries|·poolSize
   * rows re-fetched by id (a broadcast-semi-joined corpus scan). At
   * 100 TB the prefix would additionally be STORED as its own column
   * (array truncation doesn't prune parquet bytes the way column
   * pruning does) — the operator's plan shape is unchanged by that
   * layout move. Same recall/cost dial as IVF-nprobe, but with zero
   * trained state: nothing to train, persist, or replay.
   *
   * Determinism/replayability: both stages are the pinned cosine
   * double chain with (score DESC, id ASC) tiebreaks — bit-identical
   * in DuckDB from static SQL (q131), like the MMR chain.
   *
   * Output: (query_id, neighbor_id, coarse_e6, score_e6, rank 1..k).
   */
  def matryoshkaTopK(corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qidCol: String, qembCol: String,
      k: Int, coarseDims: Int, poolSize: Int,
      prefixCol: Option[String] = None): DataFrame = {
    require(poolSize >= k,
      s"need poolSize >= k, got ($poolSize, $k)")
    val q = broadcast(queries.filter(col(qembCol).isNotNull)
      .select(col(qidCol).as("query_id"), col(qembCol).as("__qemb")))
    val pool = matryoshkaPool(corpus, idCol, embCol, queries, qidCol,
      qembCol, coarseDims, poolSize, prefixCol)
    // exact rerank: re-fetch full embeddings for the bounded pool
    val rer = pool
      .join(corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__cemb")),
        Seq("neighbor_id"))
      .join(q.withColumnRenamed("__qemb", "__qe"), Seq("query_id"))
      .withColumn("score", cosine_sim(col("__cemb"), col("__qe")))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
    rer.select(col("query_id"), col("neighbor_id"),
      col("cscore"), col("score"), col("rank"))
  }

  /** The coarse pass of [[matryoshkaTopK]] alone: per-query
    * top-`poolSize` (query_id, neighbor_id, cscore) by prefix-cosine.
    *
    * The 100 TB layout move (VERDICT r16 item 3): when the coarse
    * prefix is STORED as its own column (`prefixCol`, written as
    * exactly `slice(embCol, 1, coarseDims)`), the coarse pass reads
    * ONLY that column — parquet column pruning cuts scan bytes by
    * ~coarseDims/dim, which array slicing on the full column cannot
    * (receipted in MatryoshkaProbe). Values are identical either way,
    * so the q131 oracle replay is unchanged by the layout. */
  def matryoshkaPool(corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qidCol: String, qembCol: String,
      coarseDims: Int, poolSize: Int,
      prefixCol: Option[String] = None): DataFrame = {
    require(coarseDims >= 1 && poolSize >= 1,
      s"need coarseDims >= 1 and poolSize >= 1, got ($coarseDims, $poolSize)")
    val q = broadcast(queries.filter(col(qembCol).isNotNull)
      .select(col(qidCol).as("query_id"), col(qembCol).as("__qemb")))
    val coarseSrc = prefixCol match {
      case Some(p) => corpus.filter(col(p).isNotNull)
        .select(col(idCol).as("__cid"), col(p).as("__cpre"))
      case None => corpus.filter(col(embCol).isNotNull)
        .select(col(idCol).as("__cid"),
          slice(col(embCol), lit(1), lit(coarseDims)).as("__cpre"))
    }
    val coarse = coarseSrc
      .crossJoin(q)
      .withColumn("cscore", cosine_sim(col("__cpre"),
        slice(col("__qemb"), lit(1), lit(coarseDims))))
    // map-side-combined per-query top-poolSize on the coarse score
    // (the aggregateTopK shape), carrying the coarse score for output
    val item = struct((-col("cscore")).as("neg"), col("__cid").as("nid"))
    coarse.groupBy(col("query_id"))
      .agg(bounded_topk(item, poolSize).as("top"))
      .select(col("query_id"), explode(col("top")).as("item"))
      .select(col("query_id"), col("item.nid").as("neighbor_id"),
        (-col("item.neg")).as("cscore"))
  }

  def mmrTopK(corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qidCol: String, qembCol: String,
      k: Int, poolSize: Int, lambda: Double = 0.7): DataFrame = {
    require(poolSize >= k, s"need poolSize >= k, got ($poolSize, $k)")
    mmrRerank(
      bruteForceTopK(corpus, idCol, embCol, queries, qidCol, qembCol, poolSize),
      corpus, idCol, embCol, k, lambda)
  }

  /**
   * MMR over a CALLER-SUPPLIED candidate pool — the at-scale entry
   * point: build the pool with whatever tier fits the corpus
   * ([[lshKnnJoin]], [[ivfTopK]], [[matryoshkaTopK]],
   * [[graft.index.ShardedHnsw]].knnJoin — anything emitting
   * (query_id, neighbor_id, score) rows), then diversify the bounded
   * result. Candidate embeddings are re-fetched from `corpus` by id;
   * `score` must be the query-candidate cosine (it is, for every tier
   * here — they all exact-rerank with [[graft.functions
   * .GraftFunctions.cosine_sim]]).
   *
   * CONTRACT (ADVICE r17): the per-query pool must be BOUNDED — the
   * greedy chain collect_lists each query's pool into one aggregation
   * buffer (ids + scores + embeddings), so memory per query is
   * O(pool · dim). Every internal caller caps the pool (poolSize /
   * the ANN tier's k); a caller-supplied pool beyond ~10^5 rows per
   * query risks executor OOM and should be pre-trimmed with a
   * bounded top-k first. Ids must cast to non-null long and scores be
   * non-null — the chain fails loudly otherwise.
   */
  def mmrRerank(pool0: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.graft.expressions.MmrChain
    // Round 17: the greedy chain is per-query independent and its
    // maxsim is a max-fold (order-free), so the whole k-step selection
    // runs LOCALLY per query group over the bounded pool — one
    // aggregation instead of k-1 driver-synchronized window jobs with
    // an eager localCheckpoint each. MmrChain's eval replicates the
    // former DataFrame loop's float ops verbatim (same cosine loop,
    // same λ arithmetic, Spark's own double ordering + ascending-id
    // tiebreak), so the output — and the q130/q132 oracle hashes — are
    // bit-identical. Buffer per group = poolSize rows by construction.
    val pool = pool0
      .join(corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__cemb")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id").cast("long").as("neighbor_id"),
        col("score").cast("double").as("score"), col("__cemb"))
    pool.groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id"), col("score"), col("__cemb")))
        .as("__pool"))
      .select(col("query_id"), explode(Bridge.column(MmrChain(
        Bridge.expression(col("__pool")), k, lambda))).as("__it"))
      .select(col("query_id"), col("__it.rank").as("rank"),
        col("__it.neighbor_id").as("neighbor_id"),
        col("__it.rel").as("rel"), col("__it.mmr").as("mmr"))
  }
}
