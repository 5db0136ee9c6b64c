package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Per-query runtime profile (round 17, guide §1): runs named queries
 * (or the N slowest from BENCH_LOCAL.json order passed explicitly)
 * under a listener and reports, per run: wall seconds, #jobs, #stages,
 * #tasks, input bytes, shuffle write bytes, executor run/CPU time —
 * the numbers that say whether a query is scheduler-overhead-bound
 * (many tiny jobs/stages), shuffle-bound, or compute-bound. The
 * session mirrors Bench exactly (same confs, same warm-up) so the
 * wall numbers are comparable to BENCH_LOCAL.json entries.
 *
 * Usage: tools/run.sh graft.QProbe <name...>
 *   env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
 *        QPROBE_RUNS (default 3), QPROBE_STAGES=1 for per-stage lines.
 */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("QPROBE_RUNS", "3").toInt
    val perStage = sys.env.contains("QPROBE_STAGES")
    val spark = GraftSession.builder(GraftSession.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var input = 0L
    @volatile var shufW = 0L
    @volatile var runMs = 0L
    @volatile var cpuNs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        val m = sc.stageInfo.taskMetrics
        tasks += sc.stageInfo.numTasks
        input += m.inputMetrics.bytesRead
        shufW += m.shuffleWriteMetrics.bytesWritten
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        if (perStage && (m.executorRunTime > 200 || m.shuffleWriteMetrics.bytesWritten > (1L << 20)))
          println(f"[stage] ${sc.stageInfo.stageId}%5d tasks=${sc.stageInfo.numTasks}%4d run=${m.executorRunTime}%6dms cpu=${m.executorCpuTime / 1000000}%6dms in=${m.inputMetrics.bytesRead / 1024 / 1024.0}%8.1fMiB shw=${m.shuffleWriteMetrics.bytesWritten / 1024 / 1024.0}%8.1fMiB  ${sc.stageInfo.name.takeWhile(_ != '\n').take(70)}")
      }
    })

    // Bench-identical warm-up
    spark.range(1000000L).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    Seq("lineitem", "orders", "documents", "embeddings", "events").foreach { t =>
      graft.queries.Tables.table(spark, sfDir, t).write.format("noop").mode("overwrite").save()
    }

    val names = args.toSeq
    val qs = SparkEntry.allQueries.filter(q => names.exists(q.name.startsWith))
    for (q <- qs; i <- 1 to runs) {
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark.sparkContext)
      jobs = 0; stages = 0; tasks = 0; input = 0; shufW = 0; runMs = 0; cpuNs = 0
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark.sparkContext)
      println(f"${q.name}%-34s run$i wall=$wall%7.3fs jobs=$jobs%3d stages=$stages%4d tasks=$tasks%5d in=${input / 1024 / 1024.0}%8.1fMiB shw=${shufW / 1024 / 1024.0}%8.1fMiB exec=${runMs / 1000.0}%8.2fs cpu=${cpuNs / 1e9}%8.2fs")
    }
    spark.stop()
  }
}
