package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup is ~5s; per-suite sessions would dominate test time). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // bucketed-table tests (LayoutSpec) write through the session
      // catalog; keep the warehouse out of the repo tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Spark jobs `body` starts on this thread. */
  def jobsStarted(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count probe")
    try { body; org.apache.spark.sql.graft.Bridge.waitListenerBus(sc); n.get }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}
