package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * IVF-PQ — the composed index that serves billion-vector corpora
 * (Jegou et al. 2011 §V; the architecture behind FAISS's IVFPQ): a
 * coarse k-means quantizer partitions the corpus into `nlist` cells
 * (probes become partition pruning, as with plain IVF), and a product
 * quantizer encodes each vector's RESIDUAL from its cell centroid —
 * residuals concentrate near zero, so the same codebook budget buys
 * far less quantization error than PQ over raw vectors.
 *
 * Encoding: assign cluster (codegen nearest-centroid), subtract the
 * cell centroid (broadcast literal lookup + zip_with), PQ-encode the
 * residual (codegen per-subspace nearest-centroid). Search: probe the
 * top-`nprobe` cells; each probed cell gets its own ADC table built
 * from the query's residual against THAT cell's centroid; candidates
 * come from a union of per-cell pruned scans; exact rerank on the
 * survivors. All driver state (centroids + codebooks) stays KB-scale.
 */
final case class IvfPqModel(ivf: IvfModel, pq: PqModel) {

  /** residual = emb - centroid[cluster_id] (element-wise). */
  def residualColumn(emb: Column, clusterId: Column): Column =
    IvfPqModel.residual(emb, clusterId, ivf.centroids)

  /** Encoded table: (original columns minus embedding payload) +
    * `cluster_id` + `codes`. Write partitionBy("cluster_id") at scale. */
  def encode(chunks: DataFrame, idCol: String, embCol: String): DataFrame = {
    val assigned = chunks.filter(col(embCol).isNotNull)
      .withColumn("cluster_id", ivf.assignColumn(col(embCol)))
    assigned
      .withColumn("codes", pq.encodeColumn(
        residualColumn(col(embCol), col("cluster_id"))))
      .select(col(idCol).as("id"), col("cluster_id"), col("codes"),
        xxhash64(col(embCol)).as("emb_hash"))
  }

  /** Top-`n` candidate ids by per-cell residual ADC over the probed
    * clusters — ONE pruned scan: the isin filter is partition pruning
    * on a cluster-partitioned table, and the per-cell ADC tables stack
    * into a single cluster-indexed broadcast literal (nlist x m x k
    * floats — KB-scale), so every probed row pays m lookups keyed by
    * its own cluster_id. A union of per-cell subplans would re-execute
    * the encode pipeline once per probed cell. */
  def candidates(encoded: DataFrame, query: Array[Float],
      nprobe: Int = graft.model.GraftConfig.ivfNprobe, n: Int = 100): DataFrame =
    IvfPqModel.adcCandidates(encoded, ivf, pq.m, ivf.probe(query, nprobe), cellTable(query), n)

  /** Driver twin of [[candidates]] over a collected encoded table. */
  def candidatesLocal(codes: IvfPqModel.LocalCodes, query: Array[Float],
      nprobe: Int, n: Int): Array[String] =
    IvfPqModel.adcCandidatesLocal(codes, pq.m, ivf.probe(query, nprobe), cellTable(query), n)

  /** The ADC table of one probed cell: PQ distances from the query's
    * residual against that cell's centroid. */
  private def cellTable(query: Array[Float]): Int => Array[Array[Float]] =
    c => pq.adcTable(IvfPqModel.residualQuery(query, ivf.centroids(c)))
}

object IvfPqModel {

  /** Driver-side residual of `query` against one cell centroid. */
  private[index] def residualQuery(query: Array[Float],
      centroid: Array[Float]): Array[Float] =
    query.indices.map(i =>
      query(i) - (if (i < centroid.length) centroid(i) else 0f)).toArray

  /**
   * The shared probed-scan plan for residual-coded indexes: ONE pruned
   * scan (the `isin` filter is partition pruning on a
   * cluster-partitioned table) with the per-cell ADC tables stacked
   * into a single cluster-indexed broadcast literal (nlist x m x k
   * floats — KB-scale), so every probed row pays m lookups keyed by
   * its own cluster_id. A union of per-cell subplans would re-execute
   * the encode pipeline once per probed cell. `cellTable` builds the
   * ADC table for one probed cell (plain residual for IVF-PQ, rotated
   * residual for OPQ+IVF-PQ).
   */
  private[index] def adcCandidates(encoded: DataFrame, ivf: IvfModel, m: Int,
      probed: Seq[Int], cellTable: Int => Array[Array[Float]], n: Int): DataFrame = {
    val probedSet = probed.toSet
    val stacked: Seq[Seq[Seq[Float]]] = ivf.centroids.indices.map { c =>
      if (!probedSet(c)) Seq.empty // filtered out before any lookup
      else cellTable(c).map(_.toSeq).toSeq
    }
    val t = typedlit(stacked)
    val cell = element_at(t, col("cluster_id") + 1)
    val adc = (0 until m).map { s =>
      element_at(element_at(cell, s + 1), element_at(col("codes"), s + 1) + 1)
        .cast("double")
    }.reduce(_ + _)
    // id tiebreak: vectors sharing a cell and all m codes have
    // bit-identical ADC distances — an untiebroken LIMIT at the cutoff
    // would pick among them by partition order
    encoded.filter(col("cluster_id").isin(probed.map(Int.box): _*))
      .withColumn("adc_dist", adc)
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(n)
      .select("id", "cluster_id", "adc_dist")
  }

  /** An encoded table collected to the driver: row i is chunk `ids(i)`
    * in cell `cells(i)` with PQ codes `codes(i)`. */
  final case class LocalCodes(ids: Array[String], cells: Array[Int], codes: Array[Array[Int]])

  /**
   * Driver twin of [[adcCandidates]], candidate for candidate: the same
   * per-cell tables, the same left-to-right double sum over the m
   * lookups (float entries widened to double, first term unchanged, as
   * `reduce(_ + _)` over the cast columns evaluates), and the same
   * `(adc_dist asc, id asc)` cutoff with Spark's double and string
   * orderings.
   */
  private[index] def adcCandidatesLocal(rows: LocalCodes, m: Int, probed: Seq[Int],
      cellTable: Int => Array[Array[Float]], n: Int): Array[String] = {
    val tables = probed.distinct.map(c => c -> cellTable(c)).toMap
    val scored = rows.cells.indices.iterator.filter(i => tables.contains(rows.cells(i))).map { i =>
      val t = tables(rows.cells(i)); val code = rows.codes(i)
      var acc = t(0)(code(0)).toDouble
      var s = 1
      while (s < m) { acc += t(s)(code(s)).toDouble; s += 1 }
      (acc, rows.ids(i))
    }
    graft.search.LocalSearch.firstN(scored, n, graft.search.LocalSearch.ascending).map(_._2)
  }

  /** Element-wise emb - centroid[cluster_id] via broadcast literal. */
  def residual(emb: Column, clusterId: Column,
      centroids: Array[Array[Float]]): Column =
    zip_with(emb,
      element_at(typedlit(centroids.map(_.toSeq).toSeq), clusterId + 1),
      (a, b) => a - b)

  /** Train coarse quantizer on the vectors, then PQ on their residuals. */
  def train(df: DataFrame, embCol: String,
      nlist: Int = graft.model.GraftConfig.ivfNlist,
      m: Int = 8, k: Int = 16, seed: Long = 42L): IvfPqModel = {
    val ivf = IvfModel.train(df, embCol, nlist = nlist, seed = seed)
    val residuals = df.filter(col(embCol).isNotNull)
      .withColumn("cluster_id", ivf.assignColumn(col(embCol)))
      .select(residual(col(embCol), col("cluster_id"), ivf.centroids)
        .cast("array<float>").as("residual"))
    val pq = PqModel.train(residuals, "residual", m = m, k = k, seed = seed)
    IvfPqModel(ivf, pq)
  }
}
