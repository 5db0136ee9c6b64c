package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * On-disk layout for the derived index tables and the models:
 *
 *  - LSH and binary signatures persist unpartitioned, in a bounded
 *    number of evenly sized files: no product read prunes them.
 *  - IVF assignments and IVF-PQ codes persist partitioned by
 *    `cluster_id`, so an nprobe-of-nlist probe of the files would read
 *    nprobe directories.
 *
 * `VectorCatalog.loadIndex` reads each table whole ([[readTable]]) and
 * caches it. Writes go through a deterministic repartition so file
 * counts stay bounded regardless of upstream parallelism.
 */
object IndexStore {

  /** Persist a signature table: LSH (id, bucket, emb_hash) or binary
    * (id, sig, emb_hash). The catalog probes the cached table, and the
    * binary prefilter scans every signature anyway, so the layout goal
    * is only bounded, evenly sized files. */
  def writeSignatures(signatures: DataFrame, path: String): Unit =
    signatures.repartition(32)
      .write.mode("overwrite").parquet(path)

  /** Persist a table with a `cluster_id` column partitioned by cluster:
    * IVF assignments (id, cluster_id, emb_hash) and IVF-PQ codes
    * (id, cluster_id, codes, emb_hash). */
  def writeByCluster(table: DataFrame, path: String): Unit =
    table
      .repartition(col("cluster_id"))
      .write.mode("overwrite")
      .partitionBy("cluster_id")
      .parquet(path)

  /** Read back a whole derived table written above, with every column
    * it was written with. LSH signatures saved before they were written
    * unpartitioned carry a `bucket_part` partition column; it is
    * dropped, so those saves still load. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("bucket_part")

  // ---- model state (KB-scale; parquet keeps the dependency surface zero)

  /** Persist IVF centroids as (cluster_id, centroid) rows. */
  def writeIvfModel(spark: SparkSession, model: IvfModel, path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readIvfModel(spark: SparkSession, path: String): IvfModel = {
    val rows = spark.read.parquet(path)
      .select("cluster_id", "centroid").orderBy("cluster_id").collect()
    IvfModel(rows.map(_.getSeq[Float](1).toArray))
  }

  /** Persist LSH parameters (hyperplanes regenerate from the seed). */
  def writeLshModel(spark: SparkSession, model: LshModel, path: String): Unit = {
    import spark.implicits._
    Seq((model.numTables, model.bitsPerTable, model.dim, model.seed))
      .toDF("num_tables", "bits", "dim", "seed")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readLshModel(spark: SparkSession, path: String): LshModel = {
    val r = spark.read.parquet(path)
      .select("num_tables", "bits", "dim", "seed").collect()(0)
    LshModel(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
  }

  /** Persist PQ codebooks as (subspace, code, centroid) rows. */
  def writePqModel(spark: SparkSession, model: PqModel, path: String): Unit = {
    import spark.implicits._
    (for {
      s <- 0 until model.m
      c <- 0 until model.k
    } yield (s, c, model.codebooks(s)(c).toSeq))
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readPqModel(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(path)
      .select("subspace", "code", "centroid")
      .orderBy("subspace", "code").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val books = Array.ofDim[Array[Float]](m, k)
    rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    PqModel(books)
  }
}
