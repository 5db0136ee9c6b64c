package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Physical data layout for the 100 TB read path. Two levers the query
 * planner exploits for free once the data is written right:
 *
 *  - **Bucketing** (`writeBucketed`): pre-hash-partition a table on
 *    its join/aggregation key into a fixed bucket count. Two tables
 *    bucketed on the same key with the same count join WITHOUT any
 *    exchange — the shuffle that dominates a fact-fact join at scale
 *    is paid once at write time, then amortized over every subsequent
 *    join/aggregate on that key. Sorted buckets additionally let
 *    sort-merge join skip its sort.
 *
 *  - **Range clustering** (`writeClustered`): range-partition +
 *    sort by the hot filter columns before writing parquet, so each
 *    file (and row group) covers a narrow slice of the filter space.
 *    Parquet min/max footer stats then let pushed predicates skip
 *    whole files/row groups — I/O proportional to selectivity, not
 *    table size. (This is the sorted-layout half of Z-ordering; for
 *    one or two correlated columns, lexicographic range-sort gives
 *    the same skipping without interleaved bit tricks.)
 *
 * Both write plain parquet readable by any engine; bucketing metadata
 * lives in the session catalog (Spark's bucketed-table contract).
 */
object Layout {

  /** Write `df` as a bucketed, per-bucket-sorted catalog table. The
    * bucket count is a layout contract: pick once per key domain
    * (co-bucketed tables must match) and size so one bucket of the
    * LARGEST table fits an executor (#buckets >= table_bytes /
    * executor_working_set). */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .format("parquet")
      .bucketBy(numBuckets, keyCol)
      .sortBy(keyCol)
      .saveAsTable(table)

  /** Range-cluster `df` by `cols` into `numFiles` parquet files at
    * `path`: global range partition + in-file sort = tight per-file
    * min/max stats on every prefix of `cols`. */
  def writeClustered(df: DataFrame, path: String, numFiles: Int,
      cols: String*): Unit =
    df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /**
   * Z-order clustering (the multi-column skipping lever — what Delta's
   * OPTIMIZE ZORDER BY does): lexicographic range-sort gives tight
   * min/max only on the leading column; interleaving the bits of ALL
   * clustering columns' rank-space positions makes every file cover a
   * small hyper-rectangle, so predicates on ANY single column (or any
   * subset) skip most files.
   *
   * Per column: an `approx_percentile` sweep (one scan, collected)
   * yields 2^bits - 1 cut points, re-emitted as LITERALS — per-row
   * bucket position is then a pure deterministic expression (the same
   * job-stable-bucketing move as Quantiles: `repartitionByRange`'s
   * sampler is re-seeded per job, literal boundaries are not). Rank
   * space also equalizes skewed distributions, which raw bit
   * interleaving of values does not. The z-value interleave itself is
   * shiftleft/or arithmetic — codegen'd, no UDF. Kept for LayoutSpec's
   * z-order skipping test.
   */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
      bits: Int, cols: String*): Unit = {
    require(cols.nonEmpty, "at least one z-order column")
    require(bits >= 1 && bits * cols.length <= 62,
      s"bits=$bits x ${cols.length} cols must fit a long")
    // one boundary sweep; the z column is dropped before the write
    df.withColumn("__z", zValue(df, bits, cols: _*))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** The interleaved z-value expression for `cols` (exposed for tests
    * and for callers that want to cluster by z-value themselves). */
  def zValue(df: DataFrame, bits: Int, cols: String*): org.apache.spark.sql.Column = {
    val positions = rankPositions(df, bits, cols: _*)
    // interleave: bit i of column c lands at position i * k + c
    val k = cols.length
    val parts = for {
      (p, ci) <- positions.zipWithIndex
      bit <- 0 until bits
    } yield shiftleft(shiftright(p, bit).bitwiseAND(lit(1L)), bit * k + ci)
    parts.reduce(_.bitwiseOR(_)).as(s"z_${cols.mkString("_")}")
  }

  /**
   * Size-targeted parquet writer — the file-sizing lever the other
   * writers leave implicit: at 100 TB both failure modes are real
   * (millions of small files make LISTing and task scheduling the
   * bottleneck; few huge files starve parallelism and blow task
   * memory). File count derives from the plan's size statistics —
   * for file-source-rooted plans that is the SOURCE'S on-disk bytes
   * (already parquet-encoded), so the default ratio is 1.0; set
   * `parquetRatio` below 1 when the plan projects away columns or
   * filters heavily (output smaller than input), above 1 when it
   * explodes/joins (larger). A round-robin repartition balances rows
   * regardless of upstream skew.
   */
  def writeSized(df: DataFrame, path: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      parquetRatio: Double = 1.0): Unit = {
    require(targetBytesPerFile > 0, "target must be positive")
    val planBytes = org.apache.spark.sql.graft.Bridge.analyzed(df)
      .stats.sizeInBytes
    // Plans with no real statistics fall back to
    // spark.sql.defaultSizeInBytes (Long.MaxValue by default); sizing
    // off that would attempt repartition(Int.MaxValue). Fail with the
    // remedy instead of a nonsense partition count.
    val defaultSize = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    require(BigInt(planBytes.bigInteger) < defaultSize,
      s"writeSized: plan has no usable size statistics (sizeInBytes=$planBytes " +
        "is the defaultSizeInBytes fallback). Root the plan at a file source, " +
        "run ANALYZE TABLE, or pick a file count explicitly via repartition().")
    val est = (BigDecimal(planBytes) * parquetRatio).toBigInt
    val maxFiles = 1000000L // 1e6 files x 128 MB ≈ 128 TB — sane upper bound
    val files = (est / targetBytesPerFile).toLong + 1
    df.repartition(math.max(1L, math.min(files, maxFiles)).toInt)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Rank-space positions (0 .. 2^bits - 1, monotone, skew-equalizing)
    * for each of `cols`: ONE `approx_percentile` boundary sweep over
    * `df`, re-emitted as literal comparison chains — job-stable where
    * `repartitionByRange`'s re-seeded sampler is not, and pure
    * expressions so downstream interleaving stays codegen'd. */
  private def rankPositions(df: DataFrame, bits: Int,
      cols: String*): Seq[org.apache.spark.sql.Column] = {
    val buckets = (1 << bits) - 1 // positions 0 .. 2^bits - 1
    val cutFractions = (1 to buckets).map(_.toDouble / (buckets + 1))
    val sweep = df.select(
      cols.map(c => percentile_approx(col(c).cast("double"),
        array(cutFractions.map(lit): _*), lit(1000)).as(c)): _*)
      .collect()(0)
    cols.zipWithIndex.map { case (c, ci) =>
      val bounds = Option(sweep.getSeq[Double](ci)).getOrElse(Seq.empty)
      bounds.foldLeft(lit(0L)) { (acc, b) =>
        acc + when(col(c).cast("double") >= lit(b), 1L).otherwise(0L)
      }
    }
  }
}
