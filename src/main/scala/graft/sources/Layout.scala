package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Physical data layout for the 100 TB read path: z-order clustering,
 * written as plain parquet readable by any engine. Each file covers a
 * narrow slice of every clustering column, so parquet min/max footer
 * stats let pushed predicates skip whole files/row groups — I/O
 * proportional to selectivity, not table size.
 */
object Layout {

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
