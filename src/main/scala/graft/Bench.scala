package graft

/**
 * Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR
 * (default sf0.1) and prints ONE JSON line
 * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
 * Each query is materialized with a noop sink so the full plan
 * (including sorts/limits) executes — `count()` would let Catalyst
 * prune sorts and under-report the work.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/parquet-footer paths so the first measured
    // query is not charged ~5s of one-time session cost.
    spark.range(1000000L).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    Seq("lineitem", "orders", "documents", "embeddings", "events").foreach { t =>
      graft.queries.Tables.table(spark, sfDir, t).write.format("noop").mode("overwrite").save()
    }
    // ... and the operator paths the measured queries share: hash agg
    // with partial combine, broadcast + sort-merge join, window, sort —
    // one tiny query each JITs the generated-code shapes once.
    locally {
      import org.apache.spark.sql.functions._
      val li = graft.queries.Tables.table(spark, sfDir, "lineitem").limit(10000)
      val or = graft.queries.Tables.table(spark, sfDir, "orders").limit(1000)
      li.groupBy("l_returnflag").agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      li.join(broadcast(or), li("l_orderkey") === or("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .write.format("noop").mode("overwrite").save()
      li.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("l_returnflag").orderBy("l_orderkey")))
        .filter(col("rn") <= 3).orderBy("l_orderkey").limit(10)
        .write.format("noop").mode("overwrite").save()
    }
    // Three timed runs per query; the headline number stays the min
    // (achievable steady latency on a shared VM — single-shot numbers
    // carry 2-3x GC/scheduler swings), but min alone HID a real 4.5x
    // regression story in round 3, so the JSON now also carries the
    // median and n per query ("queries_detail") for stability analysis.
    // Rounds are interleaved (run ALL queries, then repeat the sweep)
    // rather than back-to-back per query: on this shared VM a single
    // 30s contention burst poisoned all 3 consecutive samples of
    // whichever query it landed on (BENCH_r04 showed q66 at 15.6s
    // min-of-3 vs 1.4s in isolation). Spreading a query's samples
    // across the whole run makes the min robust to bursty noise.
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Environment metadata (ADVICE round 7): this VM takes multi-hour
    // external load bursts, and a noisy sweep silently became the
    // committed baseline once. Snapshot 1-min loadavg at start/end so
    // any future diff against this file can see whether the numbers
    // were taken under contention. /proc/loadavg counts ALL host
    // processes; a quiet run shows load ~ this JVM's own parallelism.
    def loadAvg(): Double = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+")(0).toDouble
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
    val loadStart = loadAvg()
    val wallT0 = System.nanoTime()
    // Optional subset: comma-separated query-name prefixes (e.g.
    // "q52,q80,q87" or "q87_percentiles_shared") — used by the scale
    // probe to run just the expensive families at sf1.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // Optional exclusion, same prefix semantics — used by the scale
    // probe to drop queries whose ORACLE form is deliberately
    // quadratic (q25 brute-force) at fixture sizes where O(n^2) is
    // no longer a measurement but a hang.
    val exclude = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val queries = (filter match {
      case Some(prefixes) =>
        SparkEntry.allQueries.filter(q => prefixes.exists(q.name.startsWith))
      case None => SparkEntry.allQueries
    }).filterNot(q => exclude.exists(q.name.startsWith))
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val failures = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    for (_ <- 1 to runsPerQuery; q <- queries) {
      val t0 = System.nanoTime()
      // A failed run records NO sample: its elapsed time is
      // time-to-failure, not query latency (a mid-sweep SparkContext
      // shutdown once logged a 0.02s "min" for a 40s sf10 query).
      try {
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        samples(q.name) = ((System.nanoTime() - t0) / 1e9) :: samples(q.name)
      } catch { case e: Throwable =>
        failures(q.name) += 1
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
      }
    }
    val failedOut = queries.filter(q => samples(q.name).isEmpty).map(_.name)
    val results = queries.filter(q => samples(q.name).nonEmpty).map { q =>
      val times = samples(q.name).sorted
      (q.name, times.min, times(times.length / 2))
    }
    val qs = results.map { case (k, mn, _) => "\"" + k + f"""\":$mn%.3f""" }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, mn, md) =>
      "\"" + k + f"""\":{"min":$mn%.3f,"median":$md%.3f}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Key order matters: the driver records only the LAST ~3KB of
    // stdout, so queries_detail (the longest map) goes first and the
    // headline metric/value/queries go at the END of the line where
    // the tail window is guaranteed to capture them. JSON object key
    // order is semantically irrelevant to any real parser.
    val loadEnd = loadAvg()
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    val failedJson = failedOut.map("\"" + _ + "\"").mkString("[", ",", "]")
    // A total summed over only the queries that succeeded is NOT
    // comparable to a clean round's total — flag it so cross-round
    // series can't silently include a smaller (better-looking) number.
    val partialJson = if (failedOut.nonEmpty) """"partial":true,""" else ""
    val line = f"""{"queries_detail":$detail,"n_runs":$runsPerQuery,""" +
      f""""env":{"load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"wall_sec":$wallSec%.1f,"cpus":"$cpus"},""" +
      f""""failed":$failedJson,$partialJson""" +
      f""""sf":"$sfDir","queries":$qs,"metric":"total","value":$total%.3f,"unit":"sec"}"""
    println(line)
    // Full JSON also lands in the repo as a sidecar so per-query detail
    // survives even when stdout is truncated.
    try {
      val out = java.nio.file.Paths.get("BENCH_LOCAL.json")
      java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // The driver records only the LAST ~3KB of stdout, and at 110
    // queries even the per-query min map alone exceeds that — every
    // round's BENCH_r{N}.json tail lost the first ~40 queries. So the
    // FINAL stdout line is a compact, complete JSON (headline totals +
    // the 10 slowest queries) guaranteed to fit the tail window whole;
    // the full per-query detail lives in the line above / the sidecar.
    val worst10 = results.sortBy(-_._2).take(10)
      .map { case (k, mn, _) => "\"" + k + f"""\":$mn%.3f""" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      f""""sf":"$sfDir","n_queries":${results.length},"n_runs":$runsPerQuery,""" +
      f""""env":{"load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,""" +
      f""""wall_sec":$wallSec%.1f,"cpus":"$cpus"},"failed":$failedJson,$partialJson""" +
      f""""worst10":$worst10}""")
    spark.stop()
  }
}
