package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Symmetric per-vector INT8 embedding quantization — the storage path
 * for vector corpora at scale: a 1024-dim float32 embedding is 4 KB;
 * int8 with one float scale is ~1 KB, and at 100 TB that factor is the
 * difference between one cluster and four. Quantize at write, serve
 * candidate generation from int8, rerank survivors against the float
 * originals (the standard two-tier fidelity pattern; AnnRecallSpec
 * measures the candidate-tier recall cost).
 *
 * All arithmetic is double-precision with an explicit
 * `floor(x * scale + 0.5)` round — no engine-specific rounding mode —
 * so DuckDB replays the quantization bit-for-bit (q73's oracle).
 */
object Quantize {
  import org.apache.spark.sql.graft.Bridge
  import org.apache.spark.sql.graft.expressions.{Int8Scale, QuantizeInt8}

  /** `array<int>` of q_i = floor(x_i * 127/max|x| + 0.5); all-zero
    * vectors quantize to all zeros. Native expression: one tight loop
    * per row, not an interpreted per-element lambda. */
  def quantizeInt8(emb: Column): Column =
    Bridge.column(QuantizeInt8(Bridge.expression(emb)))

  /** The scale (127/max|x|) needed to dequantize; 0 for zero vectors. */
  def int8Scale(emb: Column): Column =
    Bridge.column(Int8Scale(Bridge.expression(emb)))

  /** Reconstruct approximate floats: x_i ~ q_i / scale. Kept as the
    * int8 round-trip reference of AnnRecallSpec. */
  def dequantizeInt8(qvec: Column, scale: Column): Column =
    when(scale === 0.0, transform(qvec, _ => lit(0.0f)))
      .otherwise(transform(qvec, q => (q.cast("double") / scale).cast("float")))
}
