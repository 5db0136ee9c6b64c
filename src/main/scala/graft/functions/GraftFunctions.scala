package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.expressions._

/**
 * User-facing Column API for graft's custom Catalyst expressions, plus
 * SQL registration. Mirrors the reference's `VectorOperations` surface
 * (reference: app/utils/embedding.py:66-140) as native, codegen'd
 * expressions rather than UDFs.
 */
object GraftFunctions {

  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def euclidean_dist(a: Column, b: Column): Column =
    Bridge.column(EuclideanDistance(Bridge.expression(a), Bridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def vector_norm(a: Column): Column =
    Bridge.column(VectorNorm(Bridge.expression(a)))

  def normalize_vec(a: Column): Column =
    Bridge.column(NormalizeVector(Bridge.expression(a)))

  /** Deterministic sampling bucket in [0, n) — splitmix64 of the id. */
  def hash_bucket(id: Column, n: Int): Column =
    Bridge.column(HashBucket(Bridge.expression(id), n))

  def quantize_int8(a: Column): Column =
    Bridge.column(QuantizeInt8(Bridge.expression(a)))

  def int8_scale(a: Column): Column =
    Bridge.column(Int8Scale(Bridge.expression(a)))

  /** Packed sign-bit binary signature of a float vector: bit i = 1 iff
    * v(i) >= 0, ceil(dim/64) longs — the 32x-smaller scan column the
    * Hamming prefilter runs on (see [[graft.index.BinaryQuant]]). */
  def sign_bits(a: Column): Column =
    Bridge.column(SignBits(Bridge.expression(a)))

  /** Popcount-of-xor Hamming distance between packed sign signatures. */
  def hamming_dist(a: Column, b: Column): Column =
    Bridge.column(HammingDist(Bridge.expression(a), Bridge.expression(b)))

  /** Aggregate: the k smallest DISTINCT `item` values, ascending — a
    * size-capped `slice(array_sort(array_distinct(collect_list(item))),
    * 1, k)` whose partial buffers never exceed k values (see
    * [[org.apache.spark.sql.graft.expressions.BoundedTopK]]). */
  def bounded_topk(item: Column, k: Int): Column =
    Bridge.column(BoundedTopK(Bridge.expression(item), k).toAggregateExpression())

  /** Register every graft expression for SQL (`SELECT cosine_sim(a,b) ...`);
    * kept as README's programmatic registration, which VectorOpsSpec runs. */
  def registerAll(spark: SparkSession): Unit = {
    Bridge.registerFunction(spark, "cosine_sim", es => CosineSimilarity(es(0), es(1)))
    Bridge.registerFunction(spark, "euclidean_dist", es => EuclideanDistance(es(0), es(1)))
    Bridge.registerFunction(spark, "dot_product", es => DotProduct(es(0), es(1)))
    Bridge.registerFunction(spark, "vector_norm", es => VectorNorm(es(0)))
    Bridge.registerFunction(spark, "normalize_vec", es => NormalizeVector(es(0)))
    Bridge.registerFunction(spark, "hash_bucket",
      es => HashBucket(es(0), es(1).eval().asInstanceOf[Int]))
    Bridge.registerFunction(spark, "quantize_int8", es => QuantizeInt8(es(0)))
    Bridge.registerFunction(spark, "int8_scale", es => Int8Scale(es(0)))
    Bridge.registerFunction(spark, "sign_bits", es => SignBits(es(0)))
    Bridge.registerFunction(spark, "hamming_dist", es => HammingDist(es(0), es(1)))
  }
}
