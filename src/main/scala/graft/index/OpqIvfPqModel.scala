package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * OPQ + IVF-PQ — the full FAISS-style `OPQ,IVF,PQ` index stack: a
 * coarse k-means quantizer partitions the corpus into cells
 * ([[IvfModel]]), and each vector's RESIDUAL from its cell centroid is
 * rotated by a learned orthogonal transform ([[OpqModel]], Ge et al.
 * 2014) before product quantization. The rotation is trained on the
 * residual distribution itself, so it equalizes residual variance
 * across the PQ subspace split — the same codebook budget buys lower
 * quantization error than plain residual PQ, which is why FAISS's
 * recommended billion-scale recipes read `OPQ64,IVF...,PQ64`.
 *
 * Scale shape is identical to [[IvfPqModel]]: driver state is
 * centroids + one d x d rotation + codebooks (KB-scale, broadcast);
 * encoding is three codegen'd narrow maps (nearest-centroid assign,
 * MatVec rotation, per-subspace nearest-centroid) — no shuffle; search
 * is the same single pruned scan with per-cell ADC tables stacked into
 * one broadcast literal, each table built from the QUERY's rotated
 * residual against that cell. Distances in rotated space equal
 * distances in residual space because R is orthogonal.
 *
 * Reference provenance: the reference serves IVF only
 * (app/database/indexes.py:181-379); this tier is the published
 * scale-out composition of that same inverted-file architecture.
 */
final case class OpqIvfPqModel(ivf: IvfModel, opq: OpqModel) {

  def pq: PqModel = opq.pq

  /** Encoded table: id + `cluster_id` + `codes` (codes are PQ codes of
    * the ROTATED residual). Write partitionBy("cluster_id") at scale. */
  def encode(chunks: DataFrame, idCol: String, embCol: String): DataFrame = {
    val assigned = chunks.filter(col(embCol).isNotNull)
      .withColumn("cluster_id", ivf.assignColumn(col(embCol)))
    assigned
      .withColumn("codes", opq.encodeColumn(
        IvfPqModel.residual(col(embCol), col("cluster_id"), ivf.centroids)))
      .select(col(idCol).as("id"), col("cluster_id"), col("codes"),
        xxhash64(col(embCol)).as("emb_hash"))
  }

  /** Top-`n` candidate ids: probe cells, rotate each cell's residual
    * query on the driver, single pruned ADC scan (shared plan with
    * [[IvfPqModel.candidates]]). */
  def candidates(encoded: DataFrame, query: Array[Float],
      nprobe: Int = graft.model.GraftConfig.ivfNprobe, n: Int = 100): DataFrame =
    IvfPqModel.adcCandidates(encoded, ivf, pq.m, ivf.probe(query, nprobe), cellTable(query), n)

  private def cellTable(query: Array[Float]): Int => Array[Array[Float]] =
    c => pq.adcTable(opq.rotate(IvfPqModel.residualQuery(query, ivf.centroids(c))))
}

object OpqIvfPqModel {

  /** Train the coarse quantizer on the vectors, then OPQ (rotation +
    * codebooks, alternating) on their residuals. */
  def train(df: DataFrame, embCol: String,
      nlist: Int = graft.model.GraftConfig.ivfNlist,
      m: Int = 8, k: Int = 16, opqIters: Int = 4, seed: Long = 42L): OpqIvfPqModel = {
    val ivf = IvfModel.train(df, embCol, nlist = nlist, seed = seed)
    val residuals = df.filter(col(embCol).isNotNull)
      .withColumn("cluster_id", ivf.assignColumn(col(embCol)))
      .select(IvfPqModel.residual(col(embCol), col("cluster_id"), ivf.centroids)
        .cast("array<float>").as("residual"))
    val opq = OpqModel.train(residuals, "residual", m = m, k = k,
      iters = opqIters, seed = seed)
    OpqIvfPqModel(ivf, opq)
  }
}
