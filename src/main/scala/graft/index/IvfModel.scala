package graft.index

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.expressions.NearestCentroid
import graft.model.GraftConfig

/**
 * IVF (inverted-file) index: k-means cluster centroids + a
 * cluster-assigned chunk table (the Spark-native form of the reference's
 * inverted lists, app/database/indexes.py:181-379). Training is the
 * reference's Lloyd loop (indexes.py:228-265) on the driver for small
 * inputs and sampled k-means with distributed refinement above that;
 * assignment is a codegen'd nearest-centroid expression; search probes
 * the top-`nprobe` centroids on the driver (they are KB-scale) and
 * partition-prunes the assigned table with `isin` — the Spark analog of
 * "only scan 5 of 100 inverted lists" (indexes.py:346-356).
 *
 * Reference parity notes: training triggers once at n >= nlist
 * (indexes.py:280); an untrained index returns empty results
 * (indexes.py:343) — callers enforce both via `IvfModel.trainIfReady`.
 */
final case class IvfModel(centroids: Array[Array[Float]]) {

  def nlist: Int = centroids.length

  /** Cluster id column (codegen'd argmin-L2, ties to lowest id). */
  def assignColumn(emb: Column): Column =
    Bridge.column(NearestCentroid(Bridge.expression(emb), centroids))

  /** Assigned table: chunks + `cluster_id`. Write partitionBy("cluster_id")
    * at scale so probes become partition pruning. */
  def assign(chunks: DataFrame, embCol: String): DataFrame =
    chunks.filter(col(embCol).isNotNull)
      .withColumn("cluster_id", assignColumn(col(embCol)))

  /** APPROXIMATE cluster id via an HNSW graph over the centroids —
    * O(ef·log nlist) per row instead of the exact scan's nlist·dim.
    * The beam can miss the true argmin (the standard coarse-quantizer
    * trade); exact [[assignColumn]] remains the default everywhere.
    * Deterministic for fixed (centroids, ef). See
    * [[trainDistributed]]'s `approxAssignEf` for the use case. */
  def assignColumnApprox(emb: Column, ef: Int = 64): Column =
    Bridge.column(org.apache.spark.sql.graft.expressions.HnswNearestCell(
      Bridge.expression(emb), coarseGraph, ef))

  /** HNSW graph over the centroids, built lazily (seeded, deterministic)
    * on first use. */
  @transient private lazy val coarseGraph: HnswModel = HnswModel.overCentroids(this)

  /** Driver-side top-`nprobe` centroid ids (indexes.py:346-349): exact
    * linear scan at reference-scale nlist, navigation of the HNSW graph
    * over the centroids once `nlist` reaches `coarseMinNlist` — at
    * billion-vector scale nlist grows to ~sqrt(n) and the linear
    * centroid scan becomes the per-query bottleneck; the graph answers
    * the same top-`nprobe` selection in O(log nlist) hops (FAISS's
    * IndexHNSWFlat-as-coarse-quantizer composition). */
  def probe(query: Array[Float], nprobe: Int = GraftConfig.ivfNprobe,
      coarseMinNlist: Int = GraftConfig.hnswCoarseMinNlist): Seq[Int] =
    if (nlist >= coarseMinNlist) coarseGraph.probeCells(query, math.max(1, nprobe))
    else probeLinear(query, nprobe)

  /** The exact (brute-force) centroid scan, kept callable for
    * differential tests against the graph path. */
  def probeLinear(query: Array[Float], nprobe: Int = GraftConfig.ivfNprobe): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      val n = math.min(c.length, query.length)
      var j = 0
      while (j < n) { val x = c(j) - query(j); d += x * x; j += 1 }
      (d, i)
    }.sortBy(t => (t._1, t._2)).take(math.max(1, nprobe)).map(_._2).toSeq

  /** Probed candidate rows from the assigned table. */
  def candidates(assigned: DataFrame, query: Array[Float],
      nprobe: Int = GraftConfig.ivfNprobe): DataFrame =
    assigned.filter(col("cluster_id").isin(probe(query, nprobe).map(Int.box): _*))
}

object IvfModel {

  /** Below this FLOAT-COUNT (rows x dimension), training collects to
    * the driver and runs a local Lloyd loop (the reference's own
    * algorithm, indexes.py:228-265) — centroids are KB-scale state
    * either way, and a driver loop skips MLlib's per-iteration job
    * scheduling. Above it, `trainSampled` owns the distributed loop.
    * 16M floats = 64 MB of Float — bounded regardless of dimension
    * (200k rows at dim 64, ~15k rows at the reference's dim 1024). */
  val localTrainMaxElements: Long = 16000000L

  /**
   * Train centroids (k = min(nlist, n), <= `maxIter` Lloyd iterations,
   * fixed seed, convergence tolerance 1e-4 — mirroring indexes.py:244-262).
   * Small inputs train on the driver; large inputs via the sampled +
   * distributed-refinement path (`trainSampled`), which costs
   * 1 + `refineIters` data scans instead of MLlib's `maxIter` cached
   * full passes — at the 100 TB target the data cannot be cached, so
   * pass count IS the cost model.
   */
  def train(chunks: DataFrame, embCol: String,
      nlist: Int = GraftConfig.ivfNlist, maxIter: Int = 10,
      seed: Long = 42L): IvfModel = {
    val vecs = vectors(chunks, embCol)
    trainShaped(chunks, embCol, vecs, shape(vecs), nlist, maxIter, seed)
  }

  /** `train` once the row count and dimension are known: one collect
    * on the local path. */
  private def trainShaped(chunks: DataFrame, embCol: String, vecs: DataFrame, shape: (Long, Int),
      nlist: Int, maxIter: Int, seed: Long): IvfModel = {
    val (n, dim) = shape
    require(n > 0, s"IvfModel.train: no non-null '$embCol' vectors to train on " +
      "(use trainIfReady for the n >= nlist trigger semantics)")
    if (n * dim.max(1) <= localTrainMaxElements)
      trainLocal(vecs.collect().map(_.getSeq[Float](0).toArray), nlist, maxIter, seed)
    else trainSampled(chunks, embCol, nlist, maxIter, seed)
  }

  /** `train`'s local path on driver-resident vectors, in the order the
    * Spark path collects them: the same seeded Lloyd loop, so the same
    * rows give the same centroids bit for bit. */
  def trainLocal(data: Array[Array[Float]], nlist: Int = GraftConfig.ivfNlist,
      maxIter: Int = 10, seed: Long = 42L): IvfModel =
    IvfModel(lloydLocal(data, math.min(nlist, math.max(1, data.length)), maxIter, seed))

  /** The non-null vectors of `embCol` as array<float>. Cast defensively:
    * callers may hold array<double> embeddings (e.g. a parquet written
    * by a different producer); getSeq[Float] on a double array would
    * ClassCastException at element access. */
  private def vectors(chunks: DataFrame, embCol: String): DataFrame =
    chunks.filter(col(embCol).isNotNull).select(col(embCol).cast("array<float>"))

  /** Row count and the first row's dimension (0 when empty) of a
    * one-column vector table, in ONE job: per-partition counts and
    * first lengths, combined in partition order. */
  private def shape(vecs: DataFrame): (Long, Int) = {
    val parts = vecs.sparkSession.sparkContext.runJob(vecs.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var n = 0L; var dim = -1
        it.foreach { r => if (dim < 0) dim = r.getArray(0).numElements(); n += 1 }
        (n, dim)
      })
    (parts.map(_._1).sum, parts.map(_._2).find(_ >= 0).getOrElse(0))
  }

  /**
   * Scale path: k-means on a seeded uniform SAMPLE sized to the driver
   * budget (`localTrainMaxElements` floats, floored at 10 rows per
   * centroid), then `refineIters` distributed Lloyd refinements — each
   * one codegen'd nearest-centroid assignment plus a
   * `Summarizer.mean`-per-cluster aggregate, i.e. one scan and a
   * k x dim partial-aggregate shuffle, no caching requirement. Sampled
   * init gets within a few percent of full k-means inertia (classic
   * sketch-then-refine; cf. mini-batch k-means, Sculley WWW'10), and
   * the refinement passes close most of the rest; both stages are
   * seeded and deterministic. Empty clusters keep their previous
   * centroid (indexes.py:258-259 semantics).
   */
  def trainSampled(chunks: DataFrame, embCol: String,
      nlist: Int = GraftConfig.ivfNlist, maxIter: Int = 10,
      seed: Long = 42L, refineIters: Int = 2,
      sampleBudgetElements: Long = localTrainMaxElements): IvfModel = {
    import org.apache.spark.ml.linalg.{Vector => MlVector}
    import org.apache.spark.ml.stat.Summarizer
    val vecs = chunks.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<float>").as("v"))
    val n = vecs.count()
    require(n > 0, s"IvfModel.trainSampled: no non-null '$embCol' vectors")
    val k = math.min(nlist.toLong, math.max(1L, n)).toInt
    val dim = vecs.limit(1).collect()(0).getSeq[Float](0).length.max(1)
    val targetRows = math.max(sampleBudgetElements / dim, 10L * k)
    val sample =
      if (n <= targetRows) vecs
      // seeded Bernoulli sample, hard-capped so a sampling overshoot
      // can never blow the driver budget
      else vecs.sample(withReplacement = false,
        math.min(1.0, targetRows.toDouble / n), seed)
        .limit(targetRows.toInt)
    val data = sample.collect().map(_.getSeq[Float](0).toArray)
    require(data.length >= k,
      s"sample (${data.length}) smaller than k ($k) — raise the sample budget")
    var centroids = lloydLocal(data, k, maxIter, seed)
    for (_ <- 1 to refineIters) {
      val model = IvfModel(centroids)
      val means = vecs
        .withColumn("cluster_id", model.assignColumn(col("v")))
        .select(col("cluster_id"),
          array_to_vector(col("v").cast("array<double>")).as("fv"))
        .groupBy("cluster_id")
        .agg(Summarizer.mean(col("fv")).as("m"))
        .collect()
        .map(r => r.getInt(0) -> r.getAs[MlVector]("m").toArray.map(_.toFloat))
        .toMap
      centroids = centroids.zipWithIndex.map { case (c, i) => means.getOrElse(i, c) }
    }
    IvfModel(centroids)
  }

  /**
   * Fully distributed Lloyd for LARGE k (SemDeDup-scale clustering,
   * k ~ n/64): the local/sampled trainers spend O(sample·k·dim·iters)
   * DRIVER flops, and once the 10·k sample floor binds that is
   * effectively quadratic in k — k=3125 on a 200k-row corpus would be
   * ~6e11 single-threaded multiplies. Here the driver never iterates
   * over points: init is a seeded deterministic selection of k distinct
   * vectors (top-k by seeded xxhash64 — one distinct + TakeOrdered),
   * and every Lloyd pass is the codegen'd nearest-centroid assignment
   * plus one k×dim `Summarizer.mean` partial-aggregate — executor
   * flops, one scan per pass, no caching requirement. Converges on the
   * same relative-shift tolerance as the local trainer; empty clusters
   * keep their previous centroid (indexes.py:258-259 semantics).
   * Seeded and deterministic.
   *
   * @param approxAssignEf when > 0, each Lloyd pass assigns rows via
   *   [[assignColumnApprox]] (an HNSW beam over the centroids, rebuilt
   *   per pass — O(k·log k) driver work) instead of the exact
   *   nlist·dim scan: per-row assignment cost drops from k·dim to
   *   ~ef·dim·log k, the term that dominates large-k training
   *   (k = n/64 at SemDeDup scale). k-means tolerates approximate
   *   assignment — each pass still reduces SSE w.r.t. the assignment
   *   it made — at a small inertia premium (asserted in IvfTrainSpec).
   *   0 (default) = exact assignment, bit-compatible with prior
   *   rounds.
   */
  def trainDistributed(chunks: DataFrame, embCol: String,
      nlist: Int, maxIter: Int = 6, seed: Long = 42L,
      approxAssignEf: Int = 0): IvfModel = {
    import org.apache.spark.ml.linalg.{Vector => MlVector}
    import org.apache.spark.ml.stat.Summarizer
    val vecs = chunks.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<float>").as("v"))
    var centroids = seededDistinctInit(vecs, nlist, seed)
    require(centroids.nonEmpty,
      s"IvfModel.trainDistributed: no non-null '$embCol' vectors")
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val model = IvfModel(centroids)
      val assignCol =
        if (approxAssignEf > 0) model.assignColumnApprox(col("v"), approxAssignEf)
        else model.assignColumn(col("v"))
      val means = vecs
        .withColumn("cluster_id", assignCol)
        .select(col("cluster_id"),
          array_to_vector(col("v").cast("array<double>")).as("fv"))
        .groupBy("cluster_id")
        .agg(Summarizer.mean(col("fv")).as("m"))
        .collect()
        .map(r => r.getInt(0) -> r.getAs[MlVector]("m").toArray.map(_.toFloat))
        .toMap
      var maxShift = 0.0
      centroids = centroids.zipWithIndex.map { case (c, i) =>
        means.get(i) match {
          case Some(nv) =>
            var shift = 0.0; var norm = 0.0; var j = 0
            while (j < c.length) {
              val dx = nv(j) - c(j)
              shift += dx * dx; norm += c(j) * c(j); j += 1
            }
            maxShift = math.max(maxShift,
              math.sqrt(shift) / math.max(math.sqrt(norm), 1e-12))
            nv
          case None => c // empty cluster keeps its centroid
        }
      }
      converged = maxShift < 1e-4
      iter += 1
    }
    IvfModel(centroids)
  }

  /** Seeded deterministic init of k distinct vectors WITHOUT a
    * corpus-wide distinct() (that is a full-width shuffle of every
    * embedding — it would dominate training cost at the large-n scale
    * the distributed trainers exist for). orderBy+limit plans as
    * TakeOrdered: map-side partial top-m by seeded hash, only m rows
    * reach the driver. Duplicate vectors share a hash, so dedup
    * driver-side and escalate the take size if duplicates crowded out
    * distinct ones; the distinct() fallback only runs for
    * pathologically low-cardinality corpora (where it is cheap by
    * definition). Shared by trainDistributed and trainMiniBatch. */
  private def seededDistinctInit(vecs: DataFrame, nlist: Int,
      seed: Long): Array[Array[Float]] = {
    var centroids = Array.empty[Array[Float]]
    var take = 2L * nlist
    var exhausted = false
    while (centroids.length < nlist && !exhausted) {
      val top = vecs.orderBy(xxhash64(col("v"), lit(seed)))
        .limit(math.min(take, Int.MaxValue.toLong).toInt)
        .collect().map(_.getSeq[Float](0).toArray)
      centroids = top.distinctBy(_.toSeq).take(nlist)
      exhausted = top.length < take // corpus smaller than the take
      if (centroids.length < nlist && !exhausted) {
        take *= 4
        if (take >= 64L * nlist) { // dup-dominated: pay the exact path
          centroids = vecs.distinct()
            .orderBy(xxhash64(col("v"), lit(seed)))
            .limit(nlist)
            .collect().map(_.getSeq[Float](0).toArray)
          exhausted = true
        }
      }
    }
    centroids
  }

  /** Mini-batch iteration count: enough epochs of evidence for the
    * 1/N_j learning rate to damp (Sculley uses t in the low tens);
    * also the numerator of the routing flop model in
    * [[graft.operators.SemDedup.trainModel]]. */
  val miniBatchIters: Int = 15

  /** Default mini-batch size: ~8 rows of evidence per centroid per
    * iteration, floored so small-k batches still amortize job
    * overhead. Shared with the routing flop model. */
  def miniBatchRows(k: Int): Long = math.max(8192L, 8L * k)

  /**
   * Mini-batch k-means (Sculley, "Web-Scale K-Means Clustering",
   * WWW 2010) in aggregated distributed form. The exact distributed
   * trainer pays `maxIter` FULL corpus scans, each evaluating the
   * codegen'd k·dim assignment on every row — at the 100 TB target
   * the scans alone are the cost model. This trainer pays ONE corpus
   * scan: a seeded hash partitions rows into `m = n/batchRows`
   * disjoint batches, of which the first `min(iters, m)` are
   * materialized into a persisted working set of ≤ iters·batchRows
   * rows (tiny relative to n at scale). Each iteration then assigns
   * ONE batch (codegen'd, broadcast centroids) and applies the
   * count-weighted update
   *
   *   c_j ← c_j + (b_j / (N_j + b_j)) · (batchMean_j − c_j),
   *   N_j ← N_j + b_j
   *
   * — the batch-aggregated equivalent of the paper's per-sample
   * learning rate 1/N_j, which damps centroid drift as evidence
   * accumulates. Iterations cycle through the materialized batches
   * when iters > m (epochs). Flops: iters·batchRows·k·dim vs the
   * exact path's maxIter·n·k·dim; quality lands within a small
   * inertia premium of exact Lloyd (gated in IvfTrainSpec, and the
   * SemDeDup drop-set agreement is gated before any wiring decision —
   * see NOTES round 11). Deterministic: seeded hash batching, seeded
   * shared init, keyed centroid updates.
   *
   * @param nHint caller-known row count (e.g. from table stats); when
   *   > 0 it replaces the `vecs.count()` scan — it only sizes the
   *   batch-id modulus, so an overcount (nulls included) is harmless.
   */
  def trainMiniBatch(chunks: DataFrame, embCol: String,
      nlist: Int, iters: Int = miniBatchIters, batchRows: Long = 0L,
      seed: Long = 42L, nHint: Long = 0L): IvfModel = {
    import org.apache.spark.ml.linalg.{Vector => MlVector}
    import org.apache.spark.ml.stat.Summarizer
    val vecs = chunks.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<float>").as("v"))
    var centroids = seededDistinctInit(vecs, nlist, seed)
    require(centroids.nonEmpty,
      s"IvfModel.trainMiniBatch: no non-null '$embCol' vectors")
    val k = centroids.length
    // Batch sized so most clusters receive evidence each iteration
    // (~8 rows per centroid), floored for small k. n from a cheap
    // count on the projected single column (footer-metadata fast path
    // does not apply post-filter; this is one columnar scan) unless
    // the caller already knows it.
    val b = if (batchRows > 0) batchRows else miniBatchRows(k)
    val n = if (nHint > 0) nHint else vecs.count()
    val m = math.max(1L, n / math.min(b, n)).toInt
    val useBatches = math.min(m, iters)
    val batches = vecs
      .withColumn("b", pmod(xxhash64(col("v"), lit(seed + 1)), lit(m)).cast("int"))
      .filter(col("b") < useBatches)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = new Array[Long](k) // N_j — accumulated evidence
      var iter = 0
      var converged = false
      while (iter < iters && !converged) {
        val model = IvfModel(centroids)
        val stats = batches.filter(col("b") === (iter % useBatches))
          .withColumn("cluster_id", model.assignColumn(col("v")))
          .select(col("cluster_id"),
            array_to_vector(col("v").cast("array<double>")).as("fv"))
          .groupBy("cluster_id")
          .agg(Summarizer.mean(col("fv")).as("mean"), count(lit(1)).as("cnt"))
          .collect()
          .map(r => r.getInt(0) ->
            (r.getAs[MlVector]("mean").toArray, r.getAs[Long]("cnt")))
          .toMap
        var maxShift = 0.0
        centroids = centroids.zipWithIndex.map { case (c, j) =>
          stats.get(j) match {
            case Some((mean, bj)) =>
              val lr = bj.toDouble / (counts(j) + bj)
              counts(j) += bj
              val nv = new Array[Float](c.length)
              var shift = 0.0; var norm = 0.0; var i = 0
              while (i < c.length) {
                nv(i) = (c(i) + lr * (mean(i) - c(i))).toFloat
                val dx = nv(i) - c(i)
                shift += dx * dx; norm += c(i).toDouble * c(i); i += 1
              }
              maxShift = math.max(maxShift,
                math.sqrt(shift) / math.max(math.sqrt(norm), 1e-12))
              nv
            case None => c // batch missed this cluster: keep centroid
          }
        }
        // an empty batch (tiny corpus, or a hash bucket with no rows)
        // contributes no stats and leaves maxShift at 0 — that is "no
        // evidence", not convergence, so only a non-empty batch may
        // declare it
        converged = stats.nonEmpty && maxShift < 1e-4
        iter += 1
      }
      IvfModel(centroids)
    } finally batches.unpersist(blocking = false)
  }

  /** Reference-shaped Lloyd loop (indexes.py:228-265): seeded sample
    * init from the data, assign/mean iterations, empty cluster keeps its
    * old centroid, converge when max relative centroid movement < 1e-4.
    * Shared with PqModel's per-subspace codebook training. */
  private[index] def lloydLocal(data: Array[Array[Float]], k: Int,
      maxIter: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    lloydFrom(data, rnd.shuffle(data.indices.toVector).take(k)
      .map(i => data(i).clone).toArray, maxIter)
  }

  /** Lloyd iterations from EXPLICIT initial centroids (warm start) —
    * each assign/mean pass is non-increasing in within-cluster SSE,
    * which is what lets OPQ's alternation claim monotone convergence. */
  private[index] def lloydFrom(data: Array[Array[Float]],
      init: Array[Array[Float]], maxIter: Int): Array[Array[Float]] = {
    val k = init.length
    val d = data.head.length
    val centroids = init.map(_.clone)
    val assign = new Array[Int](data.length)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      var p = 0
      while (p < data.length) {
        val v = data(p)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          val cent = centroids(c)
          while (j < d) { val x = v(j) - cent(j); dist += x * x; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Long](k)
      p = 0
      while (p < data.length) {
        val c = assign(p); val v = data(p)
        var j = 0
        while (j < d) { sums(c)(j) += v(j); j += 1 }
        counts(c) += 1
        p += 1
      }
      var maxShift = 0.0
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val cent = centroids(c)
          var shift = 0.0; var norm = 0.0
          var j = 0
          while (j < d) {
            val nv = (sums(c)(j) / counts(c)).toFloat
            val dx = nv - cent(j)
            shift += dx * dx; norm += cent(j) * cent(j)
            cent(j) = nv
            j += 1
          }
          maxShift = math.max(maxShift, math.sqrt(shift) / math.max(math.sqrt(norm), 1e-12))
        } // empty cluster: keep old centroid (indexes.py:258-259)
        c += 1
      }
      converged = maxShift < 1e-4
      iter += 1
    }
    centroids
  }

  /** Reference trigger semantics: train only once n >= nlist (indexes.py:280). */
  def trainIfReady(chunks: DataFrame, embCol: String,
      nlist: Int = GraftConfig.ivfNlist, seed: Long = 42L): Option[IvfModel] = {
    val vecs = vectors(chunks, embCol)
    val s = shape(vecs)
    Option.when(s._1 >= nlist)(trainShaped(chunks, embCol, vecs, s, nlist, 10, seed))
  }

  /** Driver twin of [[trainIfReady]] over resident vectors. */
  def trainLocalIfReady(data: Array[Array[Float]], nlist: Int = GraftConfig.ivfNlist,
      seed: Long = 42L): Option[IvfModel] =
    Option.when(data.length >= nlist)(trainLocal(data, nlist, 10, seed))
}
