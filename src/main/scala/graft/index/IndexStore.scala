package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * On-disk layout for the derived index tables — the piece that turns
 * probes into I/O skipping at 100 TB (SURVEY.md §4 "physical-execution
 * decisions"):
 *
 *  - LSH signatures persist partitioned by `bucket_part =
 *    pmod(bucket, numPartitions)`: a search's <= numTables bucket keys
 *    map to <= numTables partition directories; Catalyst's
 *    PruneFileSourcePartitions drops the rest before any file is
 *    opened.
 *  - IVF assignments persist partitioned by `cluster_id`: an
 *    nprobe-of-nlist probe reads nprobe directories — scanning 5% of
 *    the corpus is a directory listing, not a filter.
 *
 * Writes go through a deterministic repartition so file counts stay
 * bounded regardless of upstream parallelism.
 */
object IndexStore {

  /** Persist an LSH signatures table (id, bucket). */
  def writeLshSignatures(signatures: DataFrame, path: String,
      numPartitions: Int = 256): Unit =
    signatures
      .withColumn("bucket_part", pmod(col("bucket"), lit(numPartitions)))
      .repartition(col("bucket_part"))
      .write.mode("overwrite")
      .partitionBy("bucket_part")
      .parquet(path)

  /** Read back with a bucket probe — prunes to the probed partitions. */
  def readLshCandidates(spark: SparkSession, path: String,
      queryBuckets: Seq[Long], numPartitions: Int = 256): DataFrame = {
    val parts = queryBuckets.map(b => math.floorMod(b, numPartitions.toLong)).distinct
    spark.read.parquet(path)
      .filter(col("bucket_part").isin(parts.map(Long.box): _*)) // partition pruning
      .filter(col("bucket").isin(queryBuckets.map(Long.box): _*))
      .select("id").dropDuplicates("id")
  }

  /** Persist a binary signature table (id, sig, emb_hash). There is no
    * partition-pruning dimension here BY DESIGN — the Hamming prefilter
    * scans every signature (that full scan is already the 32×-reduced
    * form of the corpus read), so the layout goal is only bounded,
    * evenly-sized files regardless of upstream parallelism. */
  def writeBinarySignatures(signatures: DataFrame, path: String,
      numFiles: Int = 32): Unit =
    signatures.repartition(numFiles)
      .write.mode("overwrite").parquet(path)

  /** Persist an IVF-assigned chunk table partitioned by cluster. */
  def writeIvfAssigned(assigned: DataFrame, path: String): Unit =
    assigned
      .repartition(col("cluster_id"))
      .write.mode("overwrite")
      .partitionBy("cluster_id")
      .parquet(path)

  /** Read only the probed clusters' partitions. */
  def readIvfClusters(spark: SparkSession, path: String, clusters: Seq[Int]): DataFrame =
    spark.read.parquet(path)
      .filter(col("cluster_id").isin(clusters.map(Int.box): _*))

  /** Persist an IVF-PQ encoded table (id, cluster_id, codes) in the
    * same cluster-partitioned layout: an ADC probe over nprobe cells
    * reads nprobe directories of 8-byte codes — the I/O floor of the
    * composed index. */
  def writeIvfPqEncoded(encoded: DataFrame, path: String): Unit =
    encoded
      .repartition(col("cluster_id"))
      .write.mode("overwrite")
      .partitionBy("cluster_id")
      .parquet(path)

  def readIvfPqEncoded(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

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

  /** Persist / restore a built HNSW graph (nodes + adjacency + meta) —
    * restart without the O(n log n) rebuild. */
  def writeHnswModel(spark: SparkSession, model: HnswModel, path: String): Unit =
    HnswModel.write(spark, model, path)

  def readHnswModel(spark: SparkSession, path: String): HnswModel =
    HnswModel.read(spark, path)
}
