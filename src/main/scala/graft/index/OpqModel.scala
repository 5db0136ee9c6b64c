package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.expressions.MatVec

/**
 * Optimized Product Quantization (Ge et al., "Optimized Product
 * Quantization", CVPR 2013 / PAMI 2014): a learned ORTHOGONAL rotation
 * `R` applied before PQ coding, chosen to minimize the quantization
 * error that plain PQ pays when variance is unevenly spread or
 * correlated across the fixed subspace split. Training alternates the
 * two convex sub-steps of the paper's non-parametric solution:
 *
 *   1. fix R, train per-subspace codebooks on the rotated sample
 *      (standard PQ / Lloyd — [[PqModel.trainLocal]]);
 *   2. fix the codes, solve the orthogonal Procrustes problem
 *      min_R ||R·X − Y||_F over rotations, where Y holds the code
 *      reconstructions: with M = Y·Xᵀ and SVD M = U·S·Vᵀ the optimum
 *      is R = U·Vᵀ (Schönemann 1966).
 *
 * Each step can only lower the shared objective Σ‖R·x − decode(x)‖²,
 * so training error is monotonically non-increasing — asserted in
 * AnnRecallSpec rather than assumed. The SVD is a d×d driver-local
 * decomposition (breeze, already on Spark's classpath via MLlib).
 *
 * Scale shape is identical to PQ: R (d×d floats) and the codebooks are
 * KB-scale broadcast state; encoding is the codegen'd [[MatVec]]
 * rotation composed with PQ's codegen'd per-subspace NearestCentroid —
 * one narrow map over the corpus, no shuffle; ADC search rotates the
 * QUERY on the driver and then runs PQ's broadcast-table lookup chain
 * unchanged (distances in rotated space equal distances in the
 * original space because R is orthogonal).
 */
final case class OpqModel(rotation: Array[Array[Float]], pq: PqModel) {

  def dim: Int = rotation.length

  /** Rotated embedding column (codegen'd dense mat-vec). */
  def rotateColumn(emb: Column): Column =
    Bridge.column(MatVec(Bridge.expression(emb), rotation))

  /** `array<int>` of PQ codes for an embedding column: rotate, then
    * code each subspace. */
  def encodeColumn(emb: Column): Column =
    pq.encodeColumn(rotateColumn(emb))

  def rotate(v: Array[Float]): Array[Float] = OpqModel.matVec(rotation, v)

  /** Top-`n` candidates by ADC distance in rotated space. */
  def candidates(encoded: DataFrame, codesCol: String, query: Array[Float],
      n: Int, idCol: Option[String] = None): DataFrame =
    pq.candidates(encoded, codesCol, rotate(query), n, idCol)

  /** Mean squared reconstruction error of the model on a sample —
    * the training objective; kept as AnnRecallSpec's OPQ oracle. */
  def quantizationError(vecs: Array[Array[Float]]): Double = {
    val errs = vecs.map { x =>
      val rx = rotate(x)
      val y = OpqModel.reconstruct(pq, OpqModel.encodeLocal(pq, rx))
      var e = 0.0; var i = 0
      while (i < rx.length) { val d = rx(i) - y(i); e += d * d; i += 1 }
      e
    }
    errs.sum / errs.length
  }
}

object OpqModel {

  private[index] def matVec(m: Array[Array[Float]], v: Array[Float]): Array[Float] = {
    val out = new Array[Float](m.length)
    var r = 0
    while (r < m.length) {
      val row = m(r)
      var s = 0.0
      val n = math.min(row.length, v.length)
      var i = 0
      while (i < n) { s += row(i) * v(i); i += 1 }
      out(r) = s.toFloat
      r += 1
    }
    out
  }

  private[index] def encodeLocal(pq: PqModel, v: Array[Float]): Array[Int] = {
    val dsub = pq.dsub
    Array.tabulate(pq.m) { s =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < pq.k) {
        val cen = pq.codebooks(s)(c)
        var d = 0.0; var i = 0
        while (i < dsub) { val x = v(s * dsub + i) - cen(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  private[index] def reconstruct(pq: PqModel, codes: Array[Int]): Array[Float] = {
    val out = new Array[Float](pq.dim)
    var s = 0
    while (s < pq.m) {
      System.arraycopy(pq.codebooks(s)(codes(s)), 0, out, s * pq.dsub, pq.dsub)
      s += 1
    }
    out
  }

  /**
   * Alternating training on a driver-resident sample (bounded by
   * [[PqModel.maxTrainVectors]], the same budget policy as PQ/IVF).
   * `iters = 0` with the identity init degenerates to plain PQ.
   */
  def train(df: DataFrame, embCol: String, m: Int = 8, k: Int = 16,
      iters: Int = 8, maxIter: Int = 10, seed: Long = 42L): OpqModel = {
    val vecs = df.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<float>"))
      .limit(PqModel.maxTrainVectors)
      .collect().map(_.getSeq[Float](0).toArray)
    require(vecs.nonEmpty, "OpqModel.train: no non-null vectors")
    trainLocal(vecs, m, k, iters, maxIter, seed)
  }

  def trainLocal(vecs: Array[Array[Float]], m: Int, k: Int, iters: Int,
      maxIter: Int = 10, seed: Long = 42L): OpqModel = {
    import breeze.linalg.{svd, DenseMatrix}
    val dim = vecs(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    var rotation = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0f else 0.0f)
    var pq = PqModel.trainLocal(vecs, m, k, maxIter, seed)
    var rotated = vecs.map(matVec(rotation, _))
    pq = PqModel.trainLocal(rotated, m, k, maxIter, seed)
    var it = 0
    while (it < iters) {
      // fixed codes: reconstructions in rotated space
      val recon = rotated.map(rx => reconstruct(pq, encodeLocal(pq, rx)))
      // Procrustes: M = Y·Xᵀ over the ORIGINAL vectors, R = U·Vᵀ
      val mMat = DenseMatrix.zeros[Double](dim, dim)
      var p = 0
      while (p < vecs.length) {
        val x = vecs(p); val y = recon(p)
        var i = 0
        while (i < dim) {
          val yi = y(i)
          if (yi != 0.0f) {
            var j = 0
            while (j < dim) { mMat(i, j) += yi * x(j); j += 1 }
          }
          i += 1
        }
        p += 1
      }
      val decomp = svd(mMat)
      val r = decomp.U * decomp.Vt
      rotation = Array.tabulate(dim, dim)((i, j) => r(i, j).toFloat)
      rotated = vecs.map(matVec(rotation, _))
      // fixed R: WARM-started codebook retraining (Lloyd from the
      // previous codebooks — re-seeding would break monotonicity)
      pq = PqModel.trainLocalFrom(rotated, pq, maxIter)
      it += 1
    }
    OpqModel(rotation, pq)
  }
}
