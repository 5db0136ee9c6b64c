package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.index.{IvfModel, LshModel}

/**
 * Semantic deduplication (SemDeDup, Abbas et al. 2023,
 * arXiv:2303.09540): cluster the corpus embeddings with k-means, find
 * near-duplicate pairs WITHIN each cluster by exact cosine, collapse
 * duplicate groups, and keep one representative per group — the member
 * LEAST similar to its cluster centroid (the paper's keep-rule:
 * near-centroid copies are the redundant ones; the outlier carries the
 * most marginal information).
 *
 * This is the embedding-level sibling of the MinHash/SimHash text
 * dedup family: those catch lexical duplicates, this catches semantic
 * ones (paraphrases, translations, re-encodings) that share no
 * shingles. The reference engine has no such operator; it is part of
 * the training-data-pipeline surface this library adds.
 *
 * Scale shape (the reason the paper clusters at all): all-pairs cosine
 * is O(n²); with k clusters of bounded size s the candidate mass is
 * Σ|c|² ≈ n·s. `nlist = 0` auto-sizes k to ~n/64 from parquet footer
 * metadata (no count() scan), which keeps the AVERAGE cluster at ~64
 * rows up to the `maxAutoNlist` clamp; past the clamp — and, more
 * importantly, whenever k-means parks a large fraction of a
 * duplicate-heavy corpus in ONE cluster — per-cluster pair mass is
 * |c|² and a single hot cluster of 10⁸ rows would be 10¹⁶ candidate
 * pairs in one task. `maxClusterRows` is the guard (the same contract
 * as `maxShingleFreq` in [[Dedup.ngramJaccardPairs]] and the
 * candidate-mass sizing in [[Similarity.lshKnnJoin]]): clusters above
 * the cap switch from the all-pairs self-join to
 *
 *  1. an exact-vector collapse — identical embeddings (the spam/exact
 *     re-crawl mass that MAKES clusters hot in a dedup corpus) are
 *     grouped in one hash aggregate and linked to their min-id
 *     representative by |c|-1 star edges, never pairwise; and
 *  2. seeded random-hyperplane LSH bucketing WITHIN the cluster for
 *     the remaining DISTINCT vectors — pair expansion joins on
 *     (cluster_id, bucket), with bits auto-sized off the largest
 *     oversized cluster targeting ~64 ids/bucket/table.
 *
 * Connected components over the union of small-cluster pairs, star
 * edges, and LSH-verified pairs yield the same duplicate groups as the
 * uncapped form (a star reaches every member an all-pairs clique
 * would, and any cross-group edge lost to the collapse is implied by
 * the representative's identical vector), so the keep-rule output is
 * unchanged whenever the LSH tables recover the distinct-vector pairs
 * — the standard near-dup recall trade, ~99%+ at near-dup thresholds
 * with the default 8 tables. Residual (documented, not guarded): a hot
 * cluster of 10⁸ pairwise-DISTINCT vectors that are ALL mutual
 * near-dups has inherently quadratic pair mass; no pair-listing
 * algorithm avoids it, and the exact-collapse pre-pass removes the
 * only version of it (identical copies) that occurs at corpus scale.
 *
 * Each piece is distributed-friendly:
 *  - k-means: seeded [[IvfModel.train]] (sampled + distributed Lloyd
 *    refinement past the driver budget);
 *  - assignment: codegen'd nearest-centroid expression, narrow map;
 *  - centroid similarity: broadcast join on the k-row centroid table;
 *  - pair expansion: cluster-keyed (or cluster+bucket-keyed) self-join
 *    both sides of which reuse the same exchange — pairs stream
 *    through the cosine verify, embeddings are never collected into
 *    per-cluster buffers (the aggregation-buffer shape that collapses
 *    under a hot cluster);
 *  - duplicate groups: [[Dedup.connectedComponents]] (same-cluster
 *    pairs only, so groups never span clusters);
 *  - keep-rule: one `min(struct(centroid_sim, id))` aggregate per
 *    group — no window over a skewed null partition.
 *
 * Returns one row per input row with a non-null embedding:
 * `(idCol, cluster_id, centroid_sim, keep)`. Dropped rows (keep=false)
 * are exactly the non-representative members of duplicate groups.
 * Seeded and deterministic end to end.
 */
object SemDedup {

  /**
   * @param minCosine pair threshold: same-cluster pairs with exact
   *   cosine >= minCosine are duplicates (paper's 1-epsilon)
   * @param nlist k-means cluster count; 0 auto-sizes to ~n/64 clusters
   *   (clamped to [2, maxAutoNlist]) from metadata. Within the clamp,
   *   within-cluster pair mass stays ~64·n on average; past it (or
   *   under k-means skew) `maxClusterRows` bounds the tail.
   * @param maxClusterRows clusters with more assigned rows than this
   *   switch to exact-collapse + in-cluster LSH pairing (see class
   *   doc). Default 65536 keeps a worst-case uncapped cluster's pair
   *   mass under ~2·10⁹ before the guard engages.
   */
  def semDedup(df: DataFrame, idCol: String, embCol: String,
      minCosine: Double = 0.95, nlist: Int = 0,
      seed: Long = 42L, maxIter: Int = 10,
      model: Option[IvfModel] = None,
      maxClusterRows: Int = 65536,
      maxAutoNlist: Int = 4096): DataFrame = {
    // an empty (or all-null-embedding) corpus has nothing to cluster —
    // return the empty result frame instead of failing k-means init
    // (an empty partition/batch is a normal pipeline state, not an error)
    if (model.isEmpty && isEmptyCorpus(df, embCol))
      return emptyResult(df, idCol)
    val trained = model.getOrElse(
      trainModel(df, embCol, nlist, seed, maxIter, maxAutoNlist))
    semDedupWith(df, idCol, embCol, minCosine, trained, maxClusterRows, seed)
  }

  /** One-row probe: true iff `df` has no row with a non-null embedding. */
  private def isEmptyCorpus(df: DataFrame, embCol: String): Boolean =
    df.filter(col(embCol).isNotNull).limit(1).collect().isEmpty

  /** The incremental path's cap predicate, exposed so a caller can put
    * the engagement VERDICT in its output (the q70/q122 discipline:
    * capped semantics must be hash-visible, never silent): true iff
    * any cluster's COMBINED (existing + incoming) occupancy exceeds
    * `maxClusterRows`, i.e. [[semDedupIncremental]] ran its guarded
    * (star + bucket-capped LSH) candidate stage. Deterministic — a
    * pure function of the data and the model. */
  def incrementalCapEngaged(existing: DataFrame, incoming: DataFrame,
      embCol: String, model: IvfModel, maxClusterRows: Int): Boolean = {
    val all = model.assign(existing.select(col(embCol)), embCol)
      .unionByName(model.assign(incoming.select(col(embCol)), embCol))
    all.groupBy("cluster_id").count()
      .filter(col("count") > maxClusterRows).limit(1).collect().nonEmpty
  }

  /** Zero-row frame with the operator's output schema. */
  private def emptyResult(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol), lit(0).as("cluster_id"),
      lit(0.0).as("centroid_sim"), lit(true).as("keep")).limit(0)

  /** The clustering step alone (train once, dedup many — same
    * philosophy as the served IVF index). Auto-k sizes to ~n/64
    * clusters from parquet footer metadata, clamped to `maxAutoNlist`
    * (assignment cost is k·dim per row, so k cannot grow with n
    * forever; past the clamp the cluster-size cap carries the scale
    * contract instead). Trainer choice is a DRIVER-flop budget: local
    * Lloyd costs n·k·dim·iters single-thread multiplies, so past
    * n·k ≈ 3e6 (≈2e9 flops at dim 64) training moves to
    * [[IvfModel.trainDistributed]], whose per-pass cost is
    * executor-side codegen. */
  def trainModel(df: DataFrame, embCol: String, nlist: Int = 0,
      seed: Long = 42L, maxIter: Int = 10,
      maxAutoNlist: Int = 4096,
      miniBatchMargin: Double = graft.model.GraftConfig.miniBatchTrainMargin,
      approxAssignMinK: Int = graft.model.GraftConfig.approxAssignMinK): IvfModel = {
    val n = graft.sources.TableStats.rowCountForSizing(df)
    val k =
      if (nlist > 0) nlist
      else math.max(2, math.min(maxAutoNlist, (n / 64L).toInt))
    if (n * k <= 3000000L)
      IvfModel.train(df, embCol, nlist = k, maxIter = maxIter, seed = seed)
    else {
      // Past the driver budget, the choice is between exact distributed
      // Lloyd (min(maxIter,6) FULL corpus scans, each paying the
      // codegen'd k·dim assignment on every row) and mini-batch k-means
      // (ONE corpus scan + iters tiny batch assignments). Both use the
      // same codegen'd assignment expression, so the flop ratio
      //   exactPasses·n / (miniBatchIters·miniBatchRows(k))
      // is handicap-free; route to mini-batch once it clears the
      // measured margin (GraftConfig.miniBatchTrainMargin — anchored
      // by the sf10 A-B: ratio 5.8 ⇒ 2.4× wall, Jaccard-0.94 drop
      // parity; see NOTES round 11).
      val exactPasses = math.min(maxIter, 6)
      val flopRatio = exactPasses.toDouble * n /
        (IvfModel.miniBatchIters.toDouble * IvfModel.miniBatchRows(k))
      if (flopRatio >= miniBatchMargin)
        IvfModel.trainMiniBatch(df, embCol, nlist = k, seed = seed, nHint = n)
      else {
        // Exact regime. Within it, large-k Lloyd's per-row cost is the
        // assignment: exact = k·dim, HNSW-routed ≈ ef·dim·(log2 k +
        // fanout) — past the flop-model break-even
        // (GraftConfig.approxAssignMinK ≈ ef·(log2 k + 4)) the
        // approximate path wins by ~k/(ef·log k)× (≈5× at k=4096,
        // ef=64) and k-means tolerates it (each pass still reduces SSE
        // w.r.t. the assignment it made; inertia parity gated in
        // IvfTrainSpec).
        val ef =
          if (k >= approxAssignMinK)
            graft.model.GraftConfig.approxAssignEf
          else 0
        IvfModel.trainDistributed(df, embCol, nlist = k,
          maxIter = exactPasses, seed = seed, approxAssignEf = ef)
      }
    }
  }

  private def semDedupWith(df: DataFrame, idCol: String, embCol: String,
      minCosine: Double, model: IvfModel, maxClusterRows: Int,
      seed: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    // assigned + centroid_sim, materialized once: it feeds the pair
    // self-join, the keep-rule aggregate, and the final projection. At
    // cluster scale this is the table you'd persist partitionBy(cluster).
    // All checkpoints in this operator are LAZY (round-18): every
    // site's first consumer is itself a full-scan action (the cluster
    // histogram here), so the eager form's separate materialization job
    // bought nothing but a driver round-trip per site — the first
    // action fills the cache and truncates lineage identically
    // (tools_scratch/LazyCkptProbe receipt; the one pattern that MUST
    // stay eager — reading a job-filled accumulator right after the
    // checkpoint call — lives in Dedup.connectedComponentsDistributed).
    val centDf = model.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cluster_id", "centroid")
    val assigned = model.assign(df.select(col(idCol), col(embCol)), embCol)
      .join(broadcast(centDf), Seq("cluster_id"))
      .withColumn("centroid_sim",
        GraftFunctions.cosine_sim(col(embCol), col("centroid")))
      .drop("centroid")
      .localCheckpoint(false)

    val pairs = duplicatePairs(assigned, idCol, embCol, minCosine,
      maxClusterRows, seed)

    // Duplicate groups -> keeper per group = min (centroid_sim, id):
    // lexicographic struct-min, one hash aggregate, no window.
    val comps = Dedup.connectedComponents(pairs) // (id, label)
    val members = assigned.join(comps, assigned(idCol) === comps("id"))
      .select(col("label"), assigned(idCol).as("__m_id"), col("centroid_sim"))
    val dropIds = members
      .groupBy("label")
      .agg(min(struct(col("centroid_sim"), col("__m_id"))).as("m"))
      .select(col("label"), col("m").getField("__m_id").as("keep_id"))
      .join(members, Seq("label"))
      .filter(col("__m_id") =!= col("keep_id"))
      .select(col("__m_id").as("__drop_id"))

    assigned.join(dropIds, assigned(idCol) === dropIds("__drop_id"), "left")
      .withColumn("keep", col("__drop_id").isNull)
      .select(col(idCol), col("cluster_id"), col("centroid_sim"), col("keep"))
  }

  /** Verified duplicate edges (id_a, id_b) from the assigned table:
    * all-pairs within small clusters, exact-collapse star edges +
    * LSH-verified distinct pairs within oversized ones. */
  private def duplicatePairs(assigned: DataFrame, idCol: String,
      embCol: String, minCosine: Double, maxClusterRows: Int,
      seed: Long): DataFrame = {
    val (candidates, capped) = clusterPairCandidates(assigned, idCol, embCol,
      maxClusterRows, seed)
    // exact-collapse star edges arrive pre-verified (identical nonzero
    // vectors have cosine exactly 1); LSH/self-join candidates carry
    // distinct vectors and pay the exact check. Verification runs
    // BEFORE the multi-table pair dedup so only above-threshold pairs
    // (rare at near-dup thresholds) pay the dedup shuffle, never the
    // raw candidate mass — same ordering as
    // [[Dedup.embeddingNearDupPairs]]. The dedup itself only exists
    // when the LSH path ran (multi-table explode can emit a pair
    // twice); the pure self-join path emits each pair exactly once.
    val verified = candidates
      .filter(col("__exact") ||
        GraftFunctions.cosine_sim(col("emb_a"), col("emb_b")) >= minCosine)
    (if (capped) verified.dropDuplicates("id_a", "id_b") else verified)
      .select("id_a", "id_b")
  }

  /**
   * Incremental semantic dedup: the SemDeDup counterpart of
   * [[Dedup.incrementalDedup]]. The EXISTING corpus is authoritative
   * (always kept); returns the rows of `incoming` that survive —
   * not a semantic near-dup of any same-cluster existing row, and the
   * keep-rule representative (argmin centroid_sim, then id — the same
   * rule as [[semDedup]]) of any incoming-only duplicate group. A
   * group whose keeper is itself a duplicate of the corpus drops
   * entirely (transitive duplicates, mirroring the lexical operator).
   *
   * Scale shape — the property that makes re-curation affordable at
   * 100 TB: pair expansion joins `incoming` (small) against the
   * cluster-assigned union, so the existing×existing pair mass NEVER
   * forms; per-cluster cost is |inc_c|·|all_c|. Clusters whose total
   * occupancy exceeds `maxClusterRows` switch to the same guard as the
   * batch form: an exact equi-join on the embedding value (identical
   * re-crawled vectors at hash-join cost, zero-vectors excluded) plus
   * seeded in-cluster LSH bucketing for distinct candidates.
   *
   * The clustering should be the model trained when the corpus was
   * first deduped (train once, dedup many); it is trained on
   * `existing` when absent.
   */
  def semDedupIncremental(existing: DataFrame, incoming: DataFrame,
      idCol: String, embCol: String, minCosine: Double = 0.95,
      model: Option[IvfModel] = None, nlist: Int = 0,
      maxClusterRows: Int = 65536, seed: Long = 42L,
      maxAutoNlist: Int = 4096): DataFrame =
    semDedupIncrementalVerdict(existing, incoming, idCol, embCol, minCosine,
      model, nlist, maxClusterRows, seed, maxAutoNlist)._1

  /** [[semDedupIncremental]] plus the cap-engagement VERDICT (true iff
    * the guarded star + bucket-capped candidate stage ran), read off
    * the occupancy histogram the operator computes anyway — callers
    * that hash the verdict (q114) pay ZERO extra scans, unlike an
    * after-the-fact [[incrementalCapEngaged]] probe which re-assigns
    * both sides. False for the first-ever batch (that branch delegates
    * to batch [[semDedup]], whose cap is its own internal concern). */
  def semDedupIncrementalVerdict(existing: DataFrame, incoming: DataFrame,
      idCol: String, embCol: String, minCosine: Double = 0.95,
      model: Option[IvfModel] = None, nlist: Int = 0,
      maxClusterRows: Int = 65536, seed: Long = 42L,
      maxAutoNlist: Int = 4096): (DataFrame, Boolean) = {
    val spark = existing.sparkSession
    import spark.implicits._
    // first-ever batch: nothing authoritative to dedup against — the
    // semantics collapse to batch semDedup's keep-set over `incoming`
    if (model.isEmpty && isEmptyCorpus(existing, embCol)) {
      val flags = semDedup(incoming, idCol, embCol, minCosine, nlist,
        seed, 10, None, maxClusterRows, maxAutoNlist)
      return (incoming.join(
        flags.filter(!col("keep")).select(col(idCol)), Seq(idCol), "left_anti"),
        false)
    }
    val trained = model.getOrElse(
      trainModel(existing, embCol, nlist, seed, 10, maxAutoNlist))

    val ex = trained.assign(existing.select(col(idCol), col(embCol)), embCol)
      .select(col("cluster_id"), col(idCol).as("id"), col(embCol).as("emb"),
        lit(0).as("__new"))
    val centDf = trained.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cluster_id", "centroid")
    // centroid_sim only materializes for the incoming side (keep-rule
    // input); the existing side never needs it
    val inc = trained.assign(incoming.select(col(idCol), col(embCol)), embCol)
      .join(broadcast(centDf), Seq("cluster_id"))
      .withColumn("centroid_sim",
        GraftFunctions.cosine_sim(col(embCol), col("centroid")))
      .drop("centroid")
      .localCheckpoint(false)
    val incSide = inc.select(col("cluster_id"), col(idCol).as("id"),
      col(embCol).as("emb"), lit(1).as("__new"))
    // checkpoint the assigned union ONCE: the occupancy histogram, the
    // small-cluster pair join, the rep grouping, the exact star edges,
    // and the rep histogram each branch off `all` — without this every
    // branch re-runs the k·dim·n existing-side assignment (the
    // dominant cost at scale: ~1e11 flops at 500k rows, k=4096)
    val all = ex.unionByName(incSide).localCheckpoint(false)

    // combined-occupancy histogram (k rows, driver-bounded)
    val hist = all.groupBy("cluster_id").count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val bigIds = hist.collect { case (i, n) if n > maxClusterRows => i }.toSeq

    def verify(pairs: DataFrame): DataFrame = pairs
      .filter(col("__exact") ||
        GraftFunctions.cosine_sim(col("emb_q"), col("emb_o")) >= minCosine)
      .select("inc_id", "other_id", "other_new")

    // (inc_id, other_id, other_new) verified duplicate edges
    val edges: DataFrame =
      if (bigIds.isEmpty) {
        val a = incSide.repartition(col("cluster_id"))
        val b = all.repartition(col("cluster_id"))
        verify(a.select(col("cluster_id"), col("id").as("inc_id"), col("emb").as("emb_q"))
          .join(b.select(col("cluster_id"), col("id").as("other_id"),
            col("emb").as("emb_o"), col("__new").as("other_new")), Seq("cluster_id"))
          .filter(col("inc_id") =!= col("other_id"))
          .withColumn("__exact", lit(false)))
      } else {
        val bigSet = bigIds.map(Int.box)
        val smallInc = incSide.filter(!col("cluster_id").isin(bigSet: _*))
        val smallAll = all.filter(!col("cluster_id").isin(bigSet: _*))
        val bigInc = incSide.filter(col("cluster_id").isin(bigSet: _*))
        val bigAll = all.filter(col("cluster_id").isin(bigSet: _*))

        val smallPairs = smallInc
          .select(col("cluster_id"), col("id").as("inc_id"), col("emb").as("emb_q"))
          .join(smallAll.select(col("cluster_id"), col("id").as("other_id"),
            col("emb").as("emb_o"), col("__new").as("other_new")), Seq("cluster_id"))
          .filter(col("inc_id") =!= col("other_id"))
          .withColumn("__exact", lit(false))

        // identical vectors: ONE star edge per incoming row, to its
        // (cluster, emb) group's representative (existing-preferred) —
        // joining inc x ALL copies would emit |inc_g|*|all_g| pairs per
        // identical group (quadratic on exactly the re-crawl spam mass
        // this path guards), while the star reaches the same CC
        // components: rep existing => member drops via dupOfExisting as
        // before; rep incoming => members group onto the rep, the rep
        // is the keep-rule keeper (identical vectors tie on
        // centroid_sim, min id wins = the rep), and a rep dropped as a
        // near-dup of the corpus drops its members transitively — the
        // operator's documented semantics either way.

        // distinct near-dups: seeded in-cluster LSH buckets — over the
        // DISTINCT-vector representatives of BOTH sides, not raw rows
        // (identical copies share every bucket key, so bucketing them
        // all would re-form the ~8·|inc_c|·|all_c| candidate mass the
        // cap exists to prevent). The bigAll rep prefers EXISTING
        // members (min (__new, id)); the inc side collapses to its
        // min-id copy. Collapsed members on either side are reached
        // through the exact equi-join above plus CC transitivity — the
        // same star-edge argument as the batch path (an inc copy's
        // drop-via-existing becomes drop-via-group once its rep drops:
        // identical vectors share centroid_sim, so the min-id rep is
        // also the keep-rule keeper of any identical-only group).
        val repGroups = bigAll.groupBy(col("cluster_id"), col("emb"))
          .agg(min(struct(col("__new"), col("id"))).as("m"))
        val reps = repGroups.select(col("cluster_id"), col("emb"),
          col("m").getField("id").as("id"), col("m").getField("__new").as("__new"))
        val incReps = bigInc.groupBy(col("cluster_id"), col("emb"))
          .agg(min(col("id")).as("id"))
          .select(col("cluster_id"), col("id"), col("emb"))

        // the star edges themselves: each incoming row equi-joins the
        // ONE rep row of its (cluster, emb) group (zero-vectors
        // excluded per the cosine contract)
        val exactPairs = bigInc
          .select(col("cluster_id"), col("id").as("inc_id"), col("emb"))
          .join(reps.select(col("cluster_id"), col("emb"),
              col("id").as("other_id"), col("__new").as("other_new")),
            Seq("cluster_id", "emb"))
          .filter(col("inc_id") =!= col("other_id"))
          .filter(GraftFunctions.vector_norm(col("emb")) > 0)
          .select(col("inc_id"), col("other_id"), col("other_new"),
            col("emb").as("emb_q"), col("emb").as("emb_o"),
            lit(true).as("__exact"))
        // bits sized off the largest cluster's DISTINCT-rep count: only
        // reps are bucketed, so sizing off raw rows would over-split
        // duplicate-dominated clusters far past the ~target ids/bucket
        // design width and silently drop in-cluster recall.
        val repHist = repGroups.groupBy("cluster_id").count()
          .collect().map(_.getLong(1))
        val maxReps = if (repHist.isEmpty) 1L else repHist.max
        val dim = bigAll.select(size(col("emb"))).limit(1).collect()(0).getInt(0)
        val lsh = LshModel(numTables = 8,
          bitsPerTable = Similarity.autoBits(maxReps), dim = dim, seed = seed)
        // canonical-table emission (see canonicalTable): each candidate
        // pair leaves the 8-table join exactly once, so the verify and
        // the downstream dedup/CC see the distinct pair mass, not 8x it
        // both bucketed frames checkpoint ONCE: the occupancy
        // histogram, the anti-joins, and the star join below would
        // otherwise each recompute the k·dim assign + signature subtree
        val bInc = bucketedWithSigs(incReps, lsh,
            Seq(col("cluster_id"), col("bucket")))
          .select(col("cluster_id"), col("bucket"), col("pos"),
            col("id").as("inc_id"), col("emb").as("emb_q"),
            col("sigs").as("sigs_a"))
          .localCheckpoint(false)
        val bRep = bucketedWithSigs(
            reps.select(col("cluster_id"), col("id"), col("emb"), col("__new")),
            lsh, Seq(col("cluster_id"), col("bucket")))
          .select(col("cluster_id"), col("bucket"), col("id").as("other_id"),
            col("emb").as("emb_o"), col("__new").as("other_new"),
            col("sigs").as("sigs_b"))
          .localCheckpoint(false)
        // BUCKET-LEVEL star cap (VERDICT r15 item 5): a bucket holding
        // more than maxClusterRows DISTINCT reps is a near-identical
        // mass no bit count can split (autoBits already sized off the
        // rep histogram) — the inc x rep join there is quadratic in
        // exactly the re-crawl spam this operator guards against. Such
        // buckets switch to STAR candidates: every inc row pairs only
        // with the bucket's ONE existing-preferred min-id rep, cosine-
        // verified like any other edge. Recall contract: in an
        // overflowing bucket only duplicates of the bucket
        // representative are detected — the attractor shape that
        // creates such buckets is mutually near-dup, where the star
        // reaches every member. Bucket keys embed the table id, so
        // occupancy is per (cluster, table-bucket) and deterministic.
        val bucketHist = bRep.groupBy("cluster_id", "bucket")
          .agg(count(lit(1)).as("nb"),
            min(struct(col("other_new"), col("other_id"), col("emb_o")))
              .as("m"))
        val overflow = bucketHist.filter(col("nb") > maxClusterRows)
          .select(col("cluster_id"), col("bucket"),
            col("m").getField("other_id").as("other_id"),
            col("m").getField("other_new").as("other_new"),
            col("m").getField("emb_o").as("emb_o"))
          .localCheckpoint(false)
        val ovfKeys = overflow.select("cluster_id", "bucket")
        val lshPairs = bInc
          .join(ovfKeys, Seq("cluster_id", "bucket"), "left_anti")
          .join(bRep.join(ovfKeys, Seq("cluster_id", "bucket"), "left_anti"),
            Seq("cluster_id", "bucket"))
          .filter(col("inc_id") =!= col("other_id"))
          .filter(canonicalTable(lsh.numTables))
          .withColumn("__exact", lit(false))
          .select("inc_id", "other_id", "other_new", "emb_q", "emb_o", "__exact")
        // star candidates: linear in the overflowing buckets' inc mass
        // (duplicate (inc, rep) edges from multiple tables collapse in
        // the final dropDuplicates)
        val starCands = bInc
          .join(overflow, Seq("cluster_id", "bucket"))
          .filter(col("inc_id") =!= col("other_id"))
          .withColumn("__exact", lit(false))
          .select("inc_id", "other_id", "other_new", "emb_q", "emb_o", "__exact")

        verify(smallPairs)
          .unionByName(verify(exactPairs))
          .unionByName(verify(lshPairs))
          .unionByName(verify(starCands))
          .dropDuplicates("inc_id", "other_id")
      }

    // dup of the authoritative corpus -> drop outright
    val dupOfExisting = edges.filter(col("other_new") === 0)
      .select(col("inc_id").as(idCol)).distinct()
    // incoming-only groups -> CC -> keep argmin (centroid_sim, id)
    val incPairs = edges.filter(col("other_new") === 1)
      .select(least(col("inc_id"), col("other_id")).as("id_a"),
        greatest(col("inc_id"), col("other_id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val comps = Dedup.connectedComponents(incPairs)
    val members = inc.join(comps, inc(idCol) === comps("id"))
      .select(col("label"), inc(idCol).as("__m_id"), col("centroid_sim"))
    val groupDrops = members
      .groupBy("label")
      .agg(min(struct(col("centroid_sim"), col("__m_id"))).as("m"))
      .select(col("label"), col("m").getField("__m_id").as("keep_id"))
      .join(members, Seq("label"))
      .filter(col("__m_id") =!= col("keep_id"))
      .select(col("__m_id").as(idCol))

    (incoming
      .join(dupOfExisting.unionByName(groupDrops).distinct(), Seq(idCol), "left_anti"),
      bigIds.nonEmpty)
  }

  /** (cluster_id, id, emb, sigs, pos, bucket): one row per (input row,
    * LSH table), carrying the FULL signature array for canonical-table
    * pair emission, partitioned by the join key. */
  private[operators] def bucketedWithSigs(df: DataFrame, lsh: LshModel,
      partitionCols: Seq[Column]): DataFrame =
    df.withColumn("sigs", lsh.bucketsColumn(col("emb")))
      .select(col("*"), posexplode(col("sigs")))
      .withColumnRenamed("col", "bucket")
      .repartition(partitionCols: _*)

  /** Canonical-table filter for a bucket-joined pair carrying `pos`
    * (the 0-based table index the join matched on) and both signature
    * arrays: true iff NO earlier table also matched, so each candidate
    * pair is emitted from exactly ONE of the `numTables` joins. Without
    * it a pair colliding in all tables is verified 8x and the full
    * redundant mass pays the post-verify dedup shuffle — on an
    * all-mutual-near-dup hot cluster (the q114 re-crawl shape) that is
    * 8x the quadratic worst case instead of 1x. Bucket keys embed the
    * table id, so equal keys always mean equal table index. Written as
    * a static conjunction of element_at comparisons (NOT a
    * slice/zip_with lambda): higher-order array functions run
    * interpreted with per-row allocations — at ~1e8 candidate rows the
    * filter itself would cost more than the verifies it saves. */
  private[operators] def canonicalTable(numTables: Int): Column =
    canonicalTablePair(numTables, col("pos"), col("sigs_a"), col("sigs_b"))

  /** Column-parameterized form of [[canonicalTable]] for call sites
    * whose pair sides carry differently-named signature columns (e.g.
    * a structurally-symmetric self-join where both sides keep the
    * bare `sigs`/`pos` names so their exchange subtrees stay
    * canonical-identical for ReuseExchange). `numTables <= 1` is
    * trivially canonical: a single table emits each pair once. */
  private[operators] def canonicalTablePair(numTables: Int, pos: Column,
      sigsA: Column, sigsB: Column): Column =
    if (numTables <= 1) lit(true)
    else (0 until numTables - 1).map { t =>
      (lit(t) >= pos) || (element_at(sigsA, t + 1) =!= element_at(sigsB, t + 1))
    }.reduce(_ && _)

  /**
   * Candidate pair stream (id_a, id_b, emb_a, emb_b, __exact) BEFORE
   * cosine verification, plus whether the cap engaged — package-private
   * so the spec can assert the cap actually bounds candidate mass on an
   * adversarial corpus. `__exact = true` rows are exact-collapse star
   * edges (identical vectors, cosine 1 by construction, zero-vectors
   * excluded per the cosine contract).
   */
  private[graft] def clusterPairCandidates(assigned: DataFrame,
      idCol: String, embCol: String, maxClusterRows: Int,
      seed: Long): (DataFrame, Boolean) = {
    // cluster histogram: k rows, driver-bounded by the nlist clamp
    val hist: Array[(Int, Long)] = assigned.groupBy("cluster_id").count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val bigIds = hist.collect { case (id, n) if n > maxClusterRows => id }.toSeq

    val side0 = assigned.select(col("cluster_id"), col(idCol).as("id"),
      col(embCol).as("emb"))

    def selfJoinPairs(side: DataFrame): DataFrame = {
      // explicit repartition => both sides are one reused exchange
      val s = side.repartition(col("cluster_id"))
      s.select(col("cluster_id"), col("id").as("id_a"), col("emb").as("emb_a"))
        .join(s.select(col("cluster_id"), col("id").as("id_b"), col("emb").as("emb_b")),
          Seq("cluster_id"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("emb_a"), col("emb_b"),
          lit(false).as("__exact"))
    }

    if (bigIds.isEmpty) (selfJoinPairs(side0), false)
    else {
      val bigSet = bigIds.map(Int.box)
      val small = side0.filter(!col("cluster_id").isin(bigSet: _*))
      val big = side0.filter(col("cluster_id").isin(bigSet: _*))

      // 1. exact collapse: identical vectors -> min-id representative.
      // Grouping key is the embedding itself (hash aggregate on the
      // array value — no 2^-64 fingerprint-collision caveat). Star
      // edges rep->member replace the member clique; zero vectors are
      // excluded (cosine(0,0) = 0 by the V1 contract, never a dup).
      val groups = big.groupBy(col("cluster_id"), col("emb"))
        .agg(min(col("id")).as("rep"))
      val starEdges = big.join(groups, Seq("cluster_id", "emb"))
        .filter(col("id") =!= col("rep"))
        .filter(GraftFunctions.vector_norm(col("emb")) > 0)
        .select(col("rep").as("id_a"), col("id").as("id_b"),
          col("emb").as("emb_a"), col("emb").as("emb_b"),
          lit(true).as("__exact"))

      // 2. distinct vectors pair via seeded in-cluster LSH buckets.
      // Bits sized off the largest oversized cluster's DISTINCT-REP
      // count (only reps are bucketed — sizing off the raw row count
      // would over-split duplicate-dominated clusters far past the
      // ~target ids/bucket design width and silently drop in-cluster
      // near-dup recall): expected in-bucket mass per cluster is
      // ~target·|reps_c|·numTables — linear in cluster size.
      val repHist = groups.groupBy("cluster_id").count()
        .collect().map(_.getLong(1)) // one row per oversized cluster
      val maxReps = if (repHist.isEmpty) 1L else repHist.max
      val reps = groups.select(col("cluster_id"), col("rep").as("id"), col("emb"))
      // actual vector dimension, from one row of the (checkpointed)
      // assigned table — the hyperplane family must span the data dim
      val dim = big.select(size(col("emb"))).limit(1).collect()(0).getInt(0)
      val lsh = LshModel(numTables = 8,
        bitsPerTable = Similarity.autoBits(maxReps), dim = dim, seed = seed)
      val bucketed = bucketedWithSigs(reps, lsh,
        Seq(col("cluster_id"), col("bucket")))
      // BUCKET-LEVEL star cap (VERDICT r15 item 5; same rationale as
      // the incremental path): a bucket with more than maxClusterRows
      // distinct reps is a near-identical attractor mass whose
      // self-join is quadratic and which no bit count can split —
      // switch it to star candidates around its min-id rep (verified
      // edges, linear mass; mutually-near-dup members all reach the
      // rep, which is exactly the shape that overflows a bucket).
      val bHist = bucketed.groupBy("cluster_id", "bucket")
        .agg(count(lit(1)).as("nb"),
          min(struct(col("id"), col("emb"))).as("m"))
      val bOverflow = bHist.filter(col("nb") > maxClusterRows)
        .select(col("cluster_id"), col("bucket"),
          col("m").getField("id").as("rep_id"),
          col("m").getField("emb").as("rep_emb"))
        .localCheckpoint(false)
      val bOvfKeys = bOverflow.select("cluster_id", "bucket")
      val bucketedSmall = bucketed
        .join(bOvfKeys, Seq("cluster_id", "bucket"), "left_anti")
      val lshPairs = bucketedSmall
        .select(col("cluster_id"), col("bucket"), col("pos"),
          col("id").as("id_a"), col("emb").as("emb_a"), col("sigs").as("sigs_a"))
        .join(bucketedSmall.select(col("cluster_id"), col("bucket"),
            col("id").as("id_b"), col("emb").as("emb_b"), col("sigs").as("sigs_b")),
          Seq("cluster_id", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .filter(canonicalTable(lsh.numTables))
        .select(col("id_a"), col("id_b"), col("emb_a"), col("emb_b"),
          lit(false).as("__exact"))
      // star candidates for overflowing buckets (duplicates across
      // tables collapse in the caller's post-verify dropDuplicates)
      val bStarPairs = bucketed
        .join(bOverflow, Seq("cluster_id", "bucket"))
        .filter(col("id") =!= col("rep_id"))
        .select(least(col("id"), col("rep_id")).as("id_a"),
          greatest(col("id"), col("rep_id")).as("id_b"),
          when(col("id") < col("rep_id"), col("emb"))
            .otherwise(col("rep_emb")).as("emb_a"),
          when(col("id") < col("rep_id"), col("rep_emb"))
            .otherwise(col("emb")).as("emb_b"),
          lit(false).as("__exact"))

      (selfJoinPairs(small).unionByName(starEdges).unionByName(lshPairs)
        .unionByName(bStarPairs), true)
    }
  }
}
