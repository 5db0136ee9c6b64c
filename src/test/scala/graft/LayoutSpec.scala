package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Layout

/**
 * Physical-layout levers, proven at the footer level: z-ordered parquet
 * must carry per-file min/max narrow enough on every clustering column
 * for pushed predicates to skip files/row groups; and the Hilbert
 * curves behind the clustering expressions.
 */
class LayoutSpec extends SparkSpec {

  test("z-order beats linear sort for skipping on the trailing column") {
    val base = Files.createTempDirectory("graft-zorder").toString
    // two independent high-cardinality clustering columns — linear sort
    // can only serve one (low-cardinality columns collapse a z dimension,
    // so pick keys with enough distinct values for rank space to spread)
    val li = queries.Tables.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val files = 32
    // the linear layout: global range partition + in-file sort
    li.repartitionByRange(files, col("l_orderkey"), col("l_partkey"))
      .sortWithinPartitions("l_orderkey", "l_partkey")
      .write.parquet(s"$base/linear")
    Layout.writeZOrdered(li, s"$base/zorder", files, bits = 4, "l_orderkey", "l_partkey")

    // fraction of files whose [min,max] of `c` overlaps a 10%-wide band
    // (= the fraction parquet footer pruning must READ for that filter)
    def overlapFraction(dir: String, c: String): Double = {
      val stats = spark.read.parquet(dir)
        .select(input_file_name().as("f"), col(c).cast("long").as("v"))
        .groupBy("f").agg(min("v").as("mn"), max("v").as("mx"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val lo = li.select(percentile_approx(col(c).cast("long"), lit(0.45), lit(1000)))
        .collect()(0).getLong(0)
      val hi = li.select(percentile_approx(col(c).cast("long"), lit(0.55), lit(1000)))
        .collect()(0).getLong(0)
      stats.count { case (mn, mx) => mx >= lo && mn <= hi }.toDouble / stats.length
    }

    val linearLead = overlapFraction(s"$base/linear", "l_orderkey")
    val linearTrail = overlapFraction(s"$base/linear", "l_partkey")
    val zLead = overlapFraction(s"$base/zorder", "l_orderkey")
    val zTrail = overlapFraction(s"$base/zorder", "l_partkey")
    info(f"files overlapping a 10%% band — linear: lead=$linearLead%.2f trail=$linearTrail%.2f; " +
      f"z-order: lead=$zLead%.2f trail=$zTrail%.2f")
    // linear layout serves the leading column perfectly and the trailing
    // column not at all; z-order must serve BOTH with real skipping
    assert(linearTrail > 0.9, s"fixture surprise: linear trailing skips ($linearTrail)")
    assert(zTrail < 0.7, s"z-order failed to skip on trailing column: $zTrail")
    assert(zLead < 0.7, s"z-order failed to skip on leading column: $zLead")
    // and the WORST column improves on linear's worst (the actual claim)
    assert(math.max(zLead, zTrail) < linearTrail,
      s"z-order worst column ($zLead/$zTrail) not better than linear's worst")
    // and the data survives the rewrite intact
    assert(spark.read.parquet(s"$base/zorder").count() == li.count())
  }

  test("Hilbert curve: consecutive indexes are adjacent cells (Z jumps)") {
    import org.apache.spark.sql.graft.expressions.HilbertEval
    val bits = 4
    val n = 1 << bits
    // invert the curve: index -> cell, then check unit steps
    val cells = new Array[(Long, Long)](n * n)
    for (x <- 0 until n; y <- 0 until n)
      cells(HilbertEval.xy2d(bits, x, y).toInt) = (x.toLong, y.toLong)
    // bijective over the grid
    assert(cells.forall(_ != null))
    val steps = (1 until n * n).map { d =>
      val (x0, y0) = cells(d - 1); val (x1, y1) = cells(d)
      math.abs(x1 - x0) + math.abs(y1 - y0)
    }
    assert(steps.forall(_ == 1L), "Hilbert consecutive cells must be adjacent")
  }

  test("ND Hilbert (Skilling): bijective and unit-step adjacent on a 3-D grid") {
    import org.apache.spark.sql.graft.expressions.HilbertEval
    val bits = 3
    val n = 1 << bits
    val cells = new Array[(Long, Long, Long)](n * n * n)
    for (x <- 0 until n; y <- 0 until n; z <- 0 until n) {
      val d = HilbertEval.ndIndex(Array(x.toLong, y.toLong, z.toLong), bits).toInt
      assert(cells(d) == null, s"index collision at $d")
      cells(d) = (x.toLong, y.toLong, z.toLong)
    }
    assert(cells.forall(_ != null)) // bijective over the full cube
    val steps = (1 until n * n * n).map { d =>
      val (x0, y0, z0) = cells(d - 1); val (x1, y1, z1) = cells(d)
      math.abs(x1 - x0) + math.abs(y1 - y0) + math.abs(z1 - z0)
    }
    assert(steps.forall(_ == 1L), "consecutive ND-Hilbert cells must be adjacent")
  }
}
