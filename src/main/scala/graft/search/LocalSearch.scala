package graft.search

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.expressions.{CosineSimilarity, EuclideanDistance}
import org.apache.spark.unsafe.types.UTF8String

import graft.model._

/**
 * The driver-resident read path: a library whose rows fit under
 * [[maxLibraryFloats]] is searched on the driver with ZERO Spark jobs
 * (ARCHITECTURE.md, "driver when tiny, cluster when big"). Every step
 * is the driver twin of the Spark plan in [[SearchService]] — the same
 * candidate set per tier (its `IndexType`'s driver and Spark
 * candidates), the same scalar math (the expressions'
 * `eval` helpers), and Spark's own top-k order: score descending under
 * `SQLOrderingUtil.compareDoubles`, then id ascending in UTF8String
 * byte order — so both paths return the same ids, order and bits.
 */
object LocalSearch {

  /** Per-library cap in FLOATS (rows x dimension) — the same unit as
    * `IvfModel.localTrainMaxElements`. A heap bound, not a latency
    * crossover: the driver path won at every measured size up to 100k
    * rows (NOTES.md, `ResidentCapProbe`). 6.4M floats is 100k rows at
    * 64 dims, measured at 105 MB of retained driver heap for the rows
    * plus 8-16 MB for the tier's driver copy: about 6% of a 2 GB
    * driver heap per library. */
  val maxLibraryFloats: Long = 6400000L

  /** Catalog-wide budget for resident chunk rows: two full-cap
    * libraries, about 240 MB measured at 64 dims (an eighth of a 2 GB
    * driver heap). A library that would overflow it takes the Spark
    * path until the next fold. */
  val maxResidentFloats: Long = 2 * maxLibraryFloats

  /** Rows of `dim`-dimensional vectors that fit under the per-library cap. */
  def maxRows(dim: Int): Int = (maxLibraryFloats / math.max(1, dim)).toInt

  def fits(rows: Long, dim: Int): Boolean = rows * math.max(1, dim) <= maxLibraryFloats

  /** Exact cosine top-k over `rows` (the filtered universe, already
    * restricted to the candidates): cosine_sim / euclidean_dist's own
    * loops, Spark's `(score desc, id asc)` order. */
  def topK(rows: Iterator[ChunkRow], query: Array[Float], k: Int): Seq[SearchResult] = {
    val q = UnsafeArrayData.fromPrimitiveArray(query)
    val scored = rows.collect { case r if r.embedding.isDefined =>
      val e = UnsafeArrayData.fromPrimitiveArray(r.embedding.get)
      (CosineSimilarity.eval(e, true, q, true), r)
    }
    firstN(scored, k, byScoreDesc).toSeq.map { case (score, r) =>
      SearchResult(r, score, EuclideanDistance.eval(
        UnsafeArrayData.fromPrimitiveArray(r.embedding.get), true, q, true))
    }
  }

  /** Spark's string order: unsigned UTF-8 bytes. */
  def compareIds(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** `(distance asc, id asc)` — the candidate cutoffs' sort. */
  val ascending: Ordering[(Double, String)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(a._1, b._1)
    if (c != 0) c else compareIds(a._2, b._2)
  }

  private val byScoreDesc: Ordering[(Double, ChunkRow)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(b._1, a._1)
    if (c != 0) c else compareIds(a._2.id, b._2.id)
  }

  /** The first `n` of `xs` under `ord`, sorted — a bounded max-heap,
    * O(N log n): the driver's TakeOrderedAndProject. */
  def firstN[T: ClassTag](xs: Iterator[T], n: Int, ord: Ordering[T]): Array[T] = {
    if (n <= 0) return Array.empty[T]
    val heap = new java.util.PriorityQueue[T](n, ord.reverse)
    xs.foreach { x =>
      if (heap.size < n) heap.add(x)
      else if (ord.lt(x, heap.peek())) { heap.poll(); heap.add(x) }
    }
    val out = new Array[T](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out
  }
}
