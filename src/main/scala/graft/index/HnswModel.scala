package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * HNSW graph (Malkov & Yashunin 2018, "Efficient and robust approximate
 * nearest neighbor search using Hierarchical Navigable Small World
 * graphs") — the driver-resident graph tier of the index family.
 *
 * Where it sits in the 100 TB architecture: the graph holds a BOUNDED
 * set of vectors (capped at `maxGraphVectors`, like IVF centroids and
 * PQ codebooks it is driver/broadcast state, not data-plane state).
 * Two deployments:
 *
 *  1. **Coarse quantizer**: at billion-vector scale `nlist` grows to
 *     ~sqrt(n) (100k-1M centroids) and the brute-force top-`nprobe`
 *     centroid scan in [[IvfModel.probe]] becomes the per-query
 *     bottleneck. An HNSW graph over the centroids answers the same
 *     top-`nprobe` selection in O(log n) hops — exactly how FAISS
 *     composes `IndexHNSWFlat` as the coarse quantizer of an IVF index.
 *     [[probeCells]] is that drop-in.
 *  2. **Broadcast candidate tier**: for a corpus that fits the cap, the
 *     graph broadcasts to executors once and a *distributed* set of
 *     queries each navigates it locally ([[knnCandidates]]) — zero
 *     shuffle of the corpus, candidate generation cost O(ef log n) per
 *     query, exact rerank downstream removes graph error from the final
 *     ranking (the same two-tier contract as PQ/int8).
 *
 * Determinism: level draws come from a seeded RNG consumed in insertion
 * order, and insertion order is the caller-sorted input order — the
 * same (data, seed) always builds the same graph, which is what lets
 * AnnRecallSpec assert recall numbers instead of distributions.
 * [[insertAll]] CONTINUES that sequence (the paper's insert IS the
 * build step): appending nodes to a built graph produces bit-for-bit
 * the graph a fresh build of the concatenated input would produce —
 * so incremental ingest keeps the determinism contract instead of
 * paying an O(n log n) driver rebuild per refresh (417 s at the 200k
 * cap, RECALL_SF10.md).
 *
 * Distances are squared L2 over optionally pre-normalized vectors —
 * with `normalize=true` (default) L2 order equals cosine order, so the
 * graph ranks like the cosine searches it feeds (reference search
 * semantics, app/services/search_service.py).
 */
final class HnswModel private[index] (
    val ids: Array[Long],
    private[index] val vectors: Array[Array[Float]],
    private[index] val neighbors: Array[Array[Array[Int]]], // node -> level -> nbrs
    private[index] val entryPoint: Int,
    private[index] val topLevel: Int,
    val normalized: Boolean,
    val m: Int = 16,
    val efConstruction: Int = 200,
    val seed: Long = 42L,
    /** False only for graphs loaded from a pre-params persistence
      * format, where (m, efConstruction, seed) are ASSUMED defaults:
      * [[insertAll]] refuses such graphs (forcing a rebuild) rather
      * than risk continuing the wrong RNG sequence and silently
      * breaking the bit-identity contract. */
    val paramsKnown: Boolean = true) extends Serializable {

  def size: Int = ids.length

  /** Vector dimensionality (0 for an empty graph). */
  def dim: Int = if (vectors.isEmpty) 0 else vectors(0).length

  /** Structural fingerprint of the whole graph (ids, adjacency, entry,
    * top level) — kept so AnnRecallSpec can assert two graphs are
    * identical (e.g. insertAll vs fresh build) without exposing the
    * internals. */
  def structureHash: Int = {
    import scala.util.hashing.MurmurHash3
    MurmurHash3.orderedHash(Seq(
      entryPoint, topLevel,
      MurmurHash3.orderedHash(ids.toSeq),
      MurmurHash3.orderedHash(neighbors.toSeq.map(n =>
        MurmurHash3.orderedHash(n.toSeq.map(l =>
          MurmurHash3.orderedHash(l.toSeq)))))))
  }

  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Greedy best-first search of one layer; returns up to `ef` closest
    * nodes as (dist, node), closest first. */
  private def searchLayer(q: Array[Float], entry: Int, ef: Int,
      level: Int): mutable.ArrayBuffer[(Double, Int)] = {
    val visited = new java.util.HashSet[Integer]()
    // candidates: min-heap by distance; results: max-heap (worst first)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1).reverse)
    val res = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1))
    val d0 = dist(q, vectors(entry))
    cand.enqueue((d0, entry)); res.enqueue((d0, entry)); visited.add(entry)
    while (cand.nonEmpty) {
      val (dc, c) = cand.dequeue()
      if (dc > res.head._1 && res.size >= ef) { cand.clear() }
      else {
        val nbrs = neighbors(c)(level)
        var i = 0
        while (i < nbrs.length) {
          val e = nbrs(i)
          if (visited.add(e)) {
            val de = dist(q, vectors(e))
            if (res.size < ef || de < res.head._1) {
              cand.enqueue((de, e)); res.enqueue((de, e))
              if (res.size > ef) res.dequeue()
            }
          }
          i += 1
        }
      }
    }
    val out = mutable.ArrayBuffer.from(res)
    out.sortInPlaceBy(_._1)
    out
  }

  /** Top-`k` (id, squaredDist) by graph navigation: greedy descent
    * through the upper layers, beam of width `ef` at layer 0. */
  def search(query: Array[Float], k: Int, ef: Int = 64): Seq[(Long, Double)] = {
    require(size > 0, "empty graph")
    val q = if (normalized) HnswModel.unit(query) else query
    var ep = entryPoint
    var lvl = topLevel
    while (lvl > 0) {
      ep = searchLayer(q, ep, 1, lvl).head._2
      lvl -= 1
    }
    searchLayer(q, ep, math.max(ef, k), 0)
      .take(k).map { case (d, n) => (ids(n), d) }.toSeq
  }

  /** Coarse-quantizer form: the graph was built over IVF centroids with
    * `ids` = cell ids; returns the top-`nprobe` cell ids for a query
    * (the O(log n) replacement for [[IvfModel.probe]]'s linear scan). */
  def probeCells(query: Array[Float], nprobe: Int, ef: Int = 64): Seq[Int] =
    search(query, nprobe, math.max(ef, 2 * nprobe)).map(_._1.toInt)

  /**
   * New graph with the (id, vector) rows appended — the paper's insert
   * procedure, CONTINUING the build: the seeded level-draw sequence
   * resumes where the original build stopped, so the result is
   * bit-identical to a fresh [[HnswModel.fromVectors]] over the
   * concatenated input (asserted in AnnRecallSpec). Cost is
   * O(new · log n) instead of the full O(n log n) rebuild — the
   * refresh path for append-mostly ingest. Deletions/updates still
   * rebuild (graph unlinking is not in the paper's contract and
   * tombstoning would silently decay recall).
   *
   * The existing graph is copied, not mutated (models stay immutable
   * broadcast state); `this` must have been built by this class so its
   * recorded (m, efConstruction, seed) reproduce the original
   * construction parameters.
   */
  def insertAll(newIds: Array[Long], newVecs: Array[Array[Float]],
      cap: Int = HnswModel.maxGraphVectors): HnswModel = {
    require(paramsKnown,
      "HnswModel.insertAll: build params were assumed (pre-params " +
        "persistence format), so the seeded insert sequence cannot be " +
        "continued bit-identically — rebuild the graph instead")
    require(newIds.length == newVecs.length, "ids/vectors length mismatch")
    require(size + newIds.length <= cap,
      s"HnswModel holds bounded driver state: ${size + newIds.length} > $cap")
    if (newIds.isEmpty) return this
    val b = new HnswBuilder(m, efConstruction, seed, normalized)
    b.restore(ids, vectors, neighbors, entryPoint, topLevel)
    var i = 0
    while (i < newIds.length) { b.insert(newIds(i), newVecs(i)); i += 1 }
    b.toModel
  }

  /**
   * Distributed candidate generation: broadcast the graph, navigate it
   * from every query row. Output (query_id, neighbor_id, graph_dist) —
   * `k` candidates per query for a downstream exact rerank. The corpus
   * never shuffles; per-executor cost is one broadcast of the graph
   * (bounded by `maxGraphVectors`) plus O(ef log n) per query.
   */
  def knnCandidates(spark: SparkSession, queries: DataFrame, qidCol: String,
      embCol: String, k: Int, ef: Int = 64): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(this)
    queries
      .select(col(qidCol).cast("long"), col(embCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val g = bc.value
        it.flatMap { case (qid, q) =>
          g.search(q, k, ef).map { case (id, d) => (qid, id, d) }
        }
      }
      .toDF("query_id", "neighbor_id", "graph_dist")
  }
}

/**
 * Growable construction state for [[HnswModel]] (Algorithm 1 of the
 * paper; neighbor selection is the diversity heuristic of Algorithm 4
 * without the extend/prune extensions). One insert() call per node, in
 * caller order; the level draw happens AT insert, so building
 * eagerly (fromVectors) and resuming from a built graph (insertAll
 * after restore) consume the seeded RNG in the identical sequence —
 * that equivalence is what makes incremental insert deterministic.
 */
private[index] final class HnswBuilder(
    m: Int, efConstruction: Int, seed: Long, normalize: Boolean) {
  private val mL = 1.0 / math.log(m.toDouble)
  private val m0 = 2 * m
  private val rnd = new scala.util.Random(seed)
  private val ids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val adj = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
  private var entry = 0
  private var top = 0
  // Visited set as a generation-stamped int array: one allocation for
  // the whole build instead of a boxed HashSet per layer search (the
  // build is single-threaded driver work, so the scratch is safe to
  // share). Membership-only change — the dist/enqueue sequence, and
  // therefore the produced graph, is bit-identical to the HashSet
  // form (AnnRecallSpec's exact recall numbers stay valid).
  private var visitedGen = new Array[Int](1024)
  private var generation = 0

  def size: Int = ids.length

  /** Adopt an already-built graph and burn the level draws its build
    * consumed, so subsequent insert() calls continue the original
    * seeded sequence. Vectors arrive already normalized (the model
    * stores them post-normalization). */
  def restore(ids0: Array[Long], vecs0: Array[Array[Float]],
      adj0: Array[Array[Array[Int]]], entry0: Int, top0: Int): Unit = {
    require(ids.isEmpty, "restore into a non-empty builder")
    ids ++= ids0
    vecs ++= vecs0
    adj0.foreach(a => adj += a.map(mutable.ArrayBuffer.from(_)))
    entry = entry0
    top = top0
    var i = 0
    while (i < ids0.length) { rnd.nextDouble(); i += 1 }
    if (visitedGen.length < ids.length)
      visitedGen = new Array[Int](Integer.highestOneBit(ids.length) * 2)
  }

  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    val len = math.min(a.length, b.length)
    while (i < len) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  // diversity heuristic: keep c only if closer to q than to every kept
  private def selectNeighbors(q: Array[Float], cands: Seq[(Double, Int)],
      want: Int): Seq[Int] = {
    val sorted = cands.sortBy(_._1)
    val kept = mutable.ArrayBuffer.empty[Int]
    val it = sorted.iterator
    while (it.hasNext && kept.length < want) {
      val (dq, c) = it.next()
      if (kept.forall(s => dist(vecs(c), vecs(s)) >= dq)) kept += c
    }
    // backfill with nearest rejected if diversity starved the list
    if (kept.length < want)
      sorted.iterator.map(_._2).filterNot(kept.contains)
        .take(want - kept.length).foreach(kept += _)
    kept.toSeq
  }

  private def searchLayerB(q: Array[Float], entry: Int, ef: Int,
      level: Int): mutable.ArrayBuffer[(Double, Int)] = {
    generation += 1
    val gen = generation
    val cand = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1).reverse)
    val res = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1))
    val d0 = dist(q, vecs(entry))
    cand.enqueue((d0, entry)); res.enqueue((d0, entry)); visitedGen(entry) = gen
    while (cand.nonEmpty) {
      val (dc, c) = cand.dequeue()
      if (dc > res.head._1 && res.size >= ef) { cand.clear() }
      else {
        val nbrs = adj(c)(level)
        var j = 0
        while (j < nbrs.length) {
          val e = nbrs(j)
          if (visitedGen(e) != gen) {
            visitedGen(e) = gen
            val de = dist(q, vecs(e))
            if (res.size < ef || de < res.head._1) {
              cand.enqueue((de, e)); res.enqueue((de, e))
              if (res.size > ef) res.dequeue()
            }
          }
          j += 1
        }
      }
    }
    val out = mutable.ArrayBuffer.from(res)
    out.sortInPlaceBy(_._1)
    out
  }

  /** Insert one node (Algorithm 1): draw its level from the seeded
    * sequence, descend greedily to the node's level, then connect with
    * the diversity heuristic per layer, re-pruning overfull backlinks. */
  def insert(id: Long, rawVec: Array[Float]): Unit = {
    val q = if (normalize) HnswModel.unit(rawVec) else rawVec
    val l = math.floor(
      -math.log(math.max(rnd.nextDouble(), 1e-12)) * mL).toInt
    val i = ids.length
    ids += id
    vecs += q
    adj += Array.fill(l + 1)(mutable.ArrayBuffer.empty[Int])
    if (visitedGen.length <= i)
      visitedGen = java.util.Arrays.copyOf(visitedGen,
        math.max(visitedGen.length * 2, i + 1))
    if (i == 0) { entry = 0; top = l; return }
    var ep = entry
    var lvl = top
    while (lvl > l) {
      ep = searchLayerB(q, ep, 1, lvl).head._2
      lvl -= 1
    }
    var level = math.min(l, top)
    while (level >= 0) {
      val cands = searchLayerB(q, ep, efConstruction, level)
      ep = cands.head._2
      val maxConn = if (level == 0) m0 else m
      val sel = selectNeighbors(q, cands.toSeq, m)
      sel.foreach { s =>
        adj(i)(level) += s
        val back = adj(s)(level)
        back += i
        if (back.length > maxConn) {
          // re-select the neighbor's list with the same heuristic
          val scored = back.map(b => (dist(vecs(s), vecs(b)), b)).toSeq
          val keep = selectNeighbors(vecs(s), scored, maxConn)
          back.clear(); back ++= keep
        }
      }
      level -= 1
    }
    if (l > top) { top = l; entry = i }
  }

  def toModel: HnswModel = new HnswModel(ids.toArray, vecs.toArray,
    adj.map(_.map(_.toArray)).toArray, entry, top, normalize,
    m, efConstruction, seed)
}

object HnswModel {

  /** Driver/broadcast budget guard: the graph tier is bounded state by
    * design (centroids, a representative corpus slice, or a corpus that
    * genuinely fits). 200k x dim 64 floats ≈ 51 MB of vectors + the
    * adjacency — comfortably broadcastable; anything larger belongs in
    * the IVF(-PQ) data plane with HNSW on top as coarse quantizer.
    * The default `cap` of the builds, which a test lowers to reach the
    * boundary; a 200k build at the real cap is measured in
    * RECALL_SF10.md. */
  val maxGraphVectors: Int = graft.model.GraftConfig.hnswMaxGraphVectors

  private[index] def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v
    else {
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** Build from a DataFrame: collects up to `cap` (id, embedding) rows
    * sorted by id (deterministic insertion order). */
  def build(df: DataFrame, idCol: String, embCol: String, m: Int = 16,
      efConstruction: Int = 200, seed: Long = 42L,
      normalize: Boolean = true, cap: Int = maxGraphVectors): HnswModel = {
    val rows = df.filter(col(embCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol).cast("array<float>"))
      .orderBy(col(idCol))
      .limit(cap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    fromVectors(rows.map(_._1), rows.map(_._2), m, efConstruction, seed, normalize, cap)
  }

  /** Build over IVF centroids (cell id = centroid index) — the coarse
    * quantizer composition. Centroids are already driver state. */
  def overCentroids(model: IvfModel, m: Int = 16, efConstruction: Int = 200,
      seed: Long = 42L): HnswModel =
    fromVectors(Array.tabulate(model.nlist)(_.toLong), model.centroids,
      m, efConstruction, seed, normalize = false)

  /**
   * Persist a built graph: one parquet row per node (insertion index,
   * external id, stored vector, per-level adjacency) + a single-row
   * meta table (entry point, top level, normalization flag, build
   * params). The graph is driver/broadcast state, so this is
   * KB-to-MB-scale I/O — but persisting it means a serving process
   * restarts WITHOUT paying the O(n log n) rebuild (the same restart
   * story as the IVF/PQ centroid tables).
   */
  def write(spark: SparkSession, model: HnswModel, path: String): Unit = {
    import spark.implicits._
    model.ids.indices.map { i =>
      (i, model.ids(i), model.vectors(i).toSeq,
        model.neighbors(i).map(_.toSeq).toSeq)
    }.toDF("idx", "id", "vector", "adj")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/nodes")
    Seq((model.entryPoint, model.topLevel, model.normalized,
        model.m, model.efConstruction, model.seed))
      .toDF("entry", "top", "normalized", "m", "efc", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted graph; search results are identical to the
    * pre-persistence model (the adjacency is stored, not rebuilt).
    * Graphs persisted before build params were stored load with the
    * defaults (16/200/42 — the only values any call site used) and
    * `paramsKnown = false`, so [[HnswModel.insertAll]] refuses them. */
  def read(spark: SparkSession, path: String): HnswModel = {
    val rows = spark.read.parquet(s"$path/nodes")
      .select("idx", "id", "vector", "adj").orderBy("idx").collect()
    val ids = rows.map(_.getLong(1))
    val vecs = rows.map(_.getSeq[Float](2).toArray)
    // inner rows deserialize as mutable ArraySeq — type with the
    // collection.Seq supertype or the map() call ClassCastExceptions
    val adj = rows.map(_.getSeq[scala.collection.Seq[Int]](3).map(_.toArray).toArray)
    val metaDf = spark.read.parquet(s"$path/meta")
    val hasParams = metaDf.columns.contains("m")
    val m = metaDf.collect()(0)
    new HnswModel(ids, vecs, adj,
      m.getAs[Int]("entry"), m.getAs[Int]("top"), m.getAs[Boolean]("normalized"),
      if (hasParams) m.getAs[Int]("m") else 16,
      if (hasParams) m.getAs[Int]("efc") else 200,
      if (hasParams) m.getAs[Long]("seed") else 42L,
      paramsKnown = hasParams)
  }

  /** In-memory build: one [[HnswBuilder]] insert per node in input
    * order (the level draw happens at insert, so this is the same
    * seeded sequence `insertAll` later continues). */
  def fromVectors(rawIds: Array[Long], rawVecs: Array[Array[Float]],
      m: Int = 16, efConstruction: Int = 200, seed: Long = 42L,
      normalize: Boolean = true, cap: Int = maxGraphVectors): HnswModel = {
    require(rawIds.length == rawVecs.length, "ids/vectors length mismatch")
    require(rawIds.nonEmpty, "HnswModel: no vectors")
    require(rawIds.length <= cap,
      s"HnswModel holds bounded driver state: ${rawIds.length} > $cap")
    val b = new HnswBuilder(m, efConstruction, seed, normalize)
    var i = 0
    while (i < rawIds.length) { b.insert(rawIds(i), rawVecs(i)); i += 1 }
    b.toModel
  }
}
