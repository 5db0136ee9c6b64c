package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Layout

/**
 * Physical-layout levers, proven at the plan/footer level:
 * co-bucketed joins must plan ZERO exchanges (the write-once shuffle
 * amortization that makes fact-fact joins viable at 100 TB), and
 * range-clustered parquet must carry near-disjoint per-file min/max
 * so pushed predicates can skip files/row groups.
 */
class LayoutSpec extends SparkSpec {

  test("co-bucketed tables join with zero exchanges and skip the sort") {
    val li = queries.Tables.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = queries.Tables.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderpriority")
    Layout.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Layout.writeBucketed(ord, "ord_bucketed", "o_orderkey", 8)
    // disable broadcast so the join exercises the bucketed SMJ path
    // (at real scale neither side broadcasts), and AQE so the static
    // plan is assertable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // sorted buckets: the SMJ consumes bucket order, no extra Sort
      // on the scan side beyond the join's required ordering
      assert(plan.contains("Sort") == false || !plan.contains("Exchange"), plan)
      // and the result is still correct
      val n = j.count()
      val expected = queries.Tables.table(spark, sfDir, "lineitem")
        .join(queries.Tables.table(spark, sfDir, "orders"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(n == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("bucketed aggregation on the bucket key plans no exchange") {
    val li = queries.Tables.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    Layout.writeBucketed(li, "li_agg_bucketed", "l_orderkey", 8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val agg = spark.table("li_agg_bucketed")
        .groupBy("l_orderkey").agg(sum("l_quantity"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"aggregation on the bucket key must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS li_agg_bucketed")
    }
  }

  test("range-clustered parquet has near-disjoint per-file key ranges") {
    val dir = Files.createTempDirectory("graft-clustered").toString + "/li"
    val li = queries.Tables.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    Layout.writeClustered(li, dir, numFiles = 8, "l_orderkey")
    // per-file min/max of the cluster key via a file-grouped scan
    val stats = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("l_orderkey"))
      .groupBy("f").agg(min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(stats.length >= 4, s"expected several files, got ${stats.length}")
    // ranges must not overlap (allowing touching boundaries: rows with
    // the same key can land either side of a range split)
    stats.sliding(2).foreach {
      case Array((_, mxA), (mnB, _)) =>
        assert(mnB >= mxA, s"file ranges overlap: ${stats.toSeq}")
      case _ =>
    }
    // a point-lookup filter's I/O bound: the matching range is ONE file
    val key = stats(2)._1
    val containing = stats.count { case (mn, mx) => key >= mn && key <= mx }
    assert(containing <= 2, s"key $key spans $containing files")
  }

  test("z-order beats linear sort for skipping on the trailing column") {
    val base = Files.createTempDirectory("graft-zorder").toString
    // two independent high-cardinality clustering columns — linear sort
    // can only serve one (low-cardinality columns collapse a z dimension,
    // so pick keys with enough distinct values for rank space to spread)
    val li = queries.Tables.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val files = 32
    Layout.writeClustered(li, s"$base/linear", files, "l_orderkey", "l_partkey")
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

  test("size-targeted writer: file count scales with target, data intact") {
    val base = Files.createTempDirectory("graft-sized").toString
    val li = queries.Tables.table(spark, sfDir, "lineitem")
    def parquetFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

    // tiny target => many files; huge target => one file
    Layout.writeSized(li, s"$base/small", targetBytesPerFile = 32L * 1024)
    Layout.writeSized(li, s"$base/big", targetBytesPerFile = 10L * 1024 * 1024 * 1024)
    val small = parquetFiles(s"$base/small")
    val big = parquetFiles(s"$base/big")
    info(s"small-target files: ${small.size}; big-target files: ${big.size}")
    assert(small.size > 1, "small target should split into multiple files")
    assert(big.size == 1, "huge target should produce a single file")
    // round-robin balance: no file more than ~3x the mean
    val sizes = small.map(_.length())
    assert(sizes.max <= 3 * (sizes.sum / sizes.size),
      s"unbalanced files: ${sizes.sorted.reverse.take(3)} vs mean ${sizes.sum / sizes.size}")
    assert(spark.read.parquet(s"$base/small").count() == li.count())
    assert(spark.read.parquet(s"$base/big").count() == li.count())
  }

  test("size-targeted writer refuses a plan with no usable size statistics") {
    // an RDD-backed plan has no real statistics: Spark falls back to
    // spark.sql.defaultSizeInBytes (Long.MaxValue) — sizing off that
    // would attempt repartition(Int.MaxValue); the guard must fire
    val rdd = spark.sparkContext.parallelize(Seq(1L, 2L, 3L).map(org.apache.spark.sql.Row(_)))
    val df = spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType))))
    val base = Files.createTempDirectory("graft-sized-guard").toString
    val e = intercept[IllegalArgumentException] {
      Layout.writeSized(df, s"$base/guard")
    }
    assert(e.getMessage.contains("size statistics"))
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
