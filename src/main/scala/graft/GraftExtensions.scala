package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.expressions._

/**
 * Session extension registering graft's expression family for SQL, so
 * a cluster configured with
 * `spark.sql.extensions=graft.GraftExtensions` gets
 * `cosine_sim`/`euclidean_dist`/`dot_product`/`vector_norm`/
 * `normalize_vec`/`rolling_hash`/`word_shingles`/`text_metrics`/
 * `simhash64`/`minhash` in every session without programmatic setup —
 * the idiomatic Spark deployment path for an extension library.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, clazz: Class[_], builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, name),
      builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.plans.AsOfJoinStrategy)
    ext.injectFunction(fn("cosine_sim", classOf[CosineSimilarity],
      es => CosineSimilarity(es(0), es(1))))
    ext.injectFunction(fn("euclidean_dist", classOf[EuclideanDistance],
      es => EuclideanDistance(es(0), es(1))))
    ext.injectFunction(fn("dot_product", classOf[DotProduct],
      es => DotProduct(es(0), es(1))))
    ext.injectFunction(fn("vector_norm", classOf[VectorNorm],
      es => VectorNorm(es(0))))
    ext.injectFunction(fn("normalize_vec", classOf[NormalizeVector],
      es => NormalizeVector(es(0))))
    ext.injectFunction(fn("rolling_hash", classOf[RollingHash],
      es => RollingHash(es(0))))
    ext.injectFunction(fn("text_metrics", classOf[TextMetrics],
      es => TextMetrics(es(0))))
    ext.injectFunction(fn("word_shingles", classOf[WordShingles],
      es => WordShingles(es(0), es(1).eval().asInstanceOf[Int])))
    ext.injectFunction(fn("simhash64", classOf[SimHash64],
      es => SimHash64(es(0))))
    ext.injectFunction(fn("minhash", classOf[MinHashSignature],
      es => MinHashSignature(es(0), es(1).eval().asInstanceOf[Int])))
    ext.injectFunction(fn("hash_bucket", classOf[HashBucket],
      es => HashBucket(es(0), es(1).eval().asInstanceOf[Int])))
    ext.injectFunction(fn("quantize_int8", classOf[QuantizeInt8],
      es => QuantizeInt8(es(0))))
    ext.injectFunction(fn("int8_scale", classOf[Int8Scale],
      es => Int8Scale(es(0))))
    ext.injectFunction(fn("splitmix64", classOf[SplitMix64],
      es => SplitMix64(es(0))))
    ext.injectFunction(fn("string_hash64", classOf[StringHash64],
      es => StringHash64(es(0))))
    ext.injectFunction(fn("word_tokens", classOf[WordTokens],
      es => WordTokens(es(0))))
    // hilbert2d(x, y, bits): curve index of two rank-space positions
    ext.injectFunction(fn("hilbert2d", classOf[HilbertIndex2D],
      es => HilbertIndex2D(es(0), es(1),
        es(2).eval().asInstanceOf[Int])))
    // hilbert_nd(array(p0, p1, ...), bits): N-dimensional curve index
    ext.injectFunction(fn("hilbert_nd", classOf[HilbertIndexND],
      es => HilbertIndexND(es(0), es(1).eval().asInstanceOf[Int])))
  }
}
