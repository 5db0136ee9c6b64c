package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.expressions.{LshBuckets, LshPlanes}
import graft.model.GraftConfig

/**
 * Random-hyperplane LSH index as a *derived DataFrame* (the Spark-native
 * reshaping of the reference's mutable bucket dicts,
 * app/database/indexes.py:33-135): `build` maps the chunk table to a
 * (bucket, id) table; search is an equi-filter on the query's buckets
 * followed by a semi-join + exact rerank. At scale, the signatures table
 * is written bucketed/partitioned by `bucket`, so a probe touches only
 * matching files — the join IS the reference's "only look in matching
 * buckets" optimization (indexes.py:143-153).
 *
 * Defaults mirror the reference: 8 tables x 12 bits (config.py:29-30);
 * hyperplanes are seeded (the reference's are not, indexes.py:70 — a
 * deliberate determinism fix, SURVEY.md §7 risk register).
 */
final case class LshModel(
    numTables: Int = GraftConfig.lshNumTables,
    bitsPerTable: Int = GraftConfig.lshHashLength,
    dim: Int = GraftConfig.embeddingDimension,
    seed: Long = 42L) {

  /** `array<long>` of per-table bucket keys for an embedding column. */
  def bucketsColumn(emb: Column): Column =
    Bridge.column(LshBuckets(Bridge.expression(emb), numTables, bitsPerTable, dim, seed))

  /** `array<long>` of (1 + flips)·numTables multi-probe bucket keys for
    * an embedding column — the columnar form of [[multiProbeBucketsOf]]
    * for batch query sides (see [[graft.operators.Similarity.lshKnnJoin]]). */
  def multiProbeBucketsColumn(emb: Column, flips: Int): Column =
    Bridge.column(org.apache.spark.sql.graft.expressions.LshMultiProbeBuckets(
      Bridge.expression(emb), numTables, bitsPerTable, dim, seed, flips))

  /** Driver-side bucket keys for a query vector. */
  def bucketsOf(v: Array[Float]): Array[Long] =
    LshPlanes.bucketsOf(v, numTables, bitsPerTable, dim, seed)

  /**
   * Build the signatures table: one row per (id, bucket). LoC-wise this
   * replaces LSH add/remove/rebuild (indexes.py:103-135, 437-452) — the
   * index is recomputed by one narrow map + explode, and incremental
   * maintenance is union/anti-join on this table.
   */
  def build(chunks: DataFrame, idCol: String, embCol: String): DataFrame =
    chunks.filter(col(embCol).isNotNull)
      .select(col(idCol).as("id"), explode(bucketsColumn(col(embCol))).as("bucket"),
        // embedding fingerprint so incremental refresh can detect a
        // re-embedded chunk (same id, new vector) as delete+insert
        xxhash64(col(embCol)).as("emb_hash"))

  /**
   * Candidate ids for a query vector: union of the query's buckets
   * across tables, deduplicated (indexes.py:143-149). Returns a
   * DataFrame[id] to semi-join against the (filtered) chunk universe.
   */
  def candidates(signatures: DataFrame, query: Array[Float]): DataFrame = {
    val qBuckets = bucketsOf(query)
    signatures.filter(col("bucket").isin(qBuckets.toIndexedSeq.map(Long.box): _*))
      .select("id").dropDuplicates("id")
  }

  /** Driver-side multi-probe bucket keys: base + single-bit-flip
    * variants of the `flips` lowest-|dot| planes per table (Lv et al.
    * 2007) — near-miss neighbors at (1 + flips)x the probe cost,
    * recall the reference's fixed-probe LSH cannot reach (see
    * RECALL.md). */
  def multiProbeBucketsOf(v: Array[Float], flips: Int): Array[Long] =
    LshPlanes.multiProbeBucketsOf(v, numTables, bitsPerTable, dim, seed, flips)

  /** Candidates with multi-probe expansion; `flips = 0` == `candidates`. */
  def multiProbeCandidates(signatures: DataFrame, query: Array[Float],
      flips: Int): DataFrame = {
    val qBuckets = multiProbeBucketsOf(query, flips)
    signatures.filter(col("bucket").isin(qBuckets.toIndexedSeq.map(Long.box): _*))
      .select("id").dropDuplicates("id")
  }
}
