package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval: `req` groups the spans of one request, `parent` is the span that caused it (0 = none). */
final case class Span(id: Long, parent: Long, req: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, String] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * One Spark job as the listener saw it; `tag` is the benchmark span that
 * submitted it, if any, and `compaction` marks the catalog's log fold (a
 * `localCheckpoint` job).
 */
final class JobRec(val jobId: Int, val tag: Option[Long], val startMs: Long, val compaction: Boolean) {
  @volatile var endMs: Long = -1L
  val tasks = new AtomicInteger(0)
}

/**
 * Benchmark-owned tracing. Spans are kept in memory and written out when the
 * run ends. Spark work is attributed in two ways: a call the benchmark makes
 * itself runs under a thread-local job property naming its span, so its jobs
 * carry that span's id; a call served on another thread (an HTTP request)
 * owns the untagged jobs that started inside its interval, which holds
 * because the traced client is serial.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private val nextId = new AtomicLong(0L)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val jobsEnded = new AtomicInteger(0)
  private val taskSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()

  def newId(): Long = nextId.incrementAndGet()
  def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  /** Time `f` as span `name`; with `tagJobs` the jobs it submits carry the span's id. */
  def span[A](name: String, req: Long, parent: Long, tagJobs: Boolean = false,
      attrs: Map[String, String] = Map.empty)(f: => A): (A, Span) = {
    val id = newId()
    if (tagJobs) sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try {
      val a = f
      val s = Span(id, parent, req, name, t0, System.nanoTime(), attrs)
      spans.synchronized(spans += s)
      (a, s)
    } finally if (tagJobs) sc.setLocalProperty(SpanKey, null)
  }

  def record(s: Span): Unit = spans.synchronized(spans += s)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)
    val compaction = e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint"))
    jobs.put(e.jobId, new JobRec(e.jobId, tag, e.time, compaction))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    jobsEnded.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet()
      taskSpans.add((j.jobId, e.taskInfo.launchTime, e.taskInfo.finishTime))
    }

  /** Wait until the listener bus has delivered the end of every job it saw start. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get() < jobs.size && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(200) // trailing task-end events follow the job-end event
  }

  /** Jobs a span owns: tagged with its id, or untagged and started inside it. */
  def jobsOf(s: Span, byTime: Boolean): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter { j =>
      if (byTime) j.tag.isEmpty && msToNs(j.startMs) >= s.startNs - 1000000L && msToNs(j.startMs) <= s.endNs
      else j.tag.contains(s.id)
    }

  /** Milliseconds covered by the union of the jobs' [start, end] intervals. */
  def unionMs(js: Seq[JobRec]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Every span as one JSON line, Spark jobs and tasks included under the spans that own them. */
  def writeSpans(path: java.nio.file.Path, owners: Map[Int, Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    def line(id: Long, parent: Long, req: Long, name: String, s: Long, e: Long, attrs: Map[String, String]): Unit = {
      val a = attrs.map { case (k, v) => "\"" + k + "\":\"" + v.replace("\"", "'") + "\"" }.mkString(",")
      w.write(s"""{"id":$id,"parent":$parent,"req":$req,"name":"$name","start_ns":$s,"end_ns":$e,"attrs":{$a}}""")
      w.newLine()
    }
    try {
      spans.foreach(s => line(s.id, s.parent, s.req, s.name, s.startNs, s.endNs, s.attrs))
      val jobSpanId = mutable.HashMap.empty[Int, Long]
      jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
        val owner = owners.get(j.jobId)
        val id = newId()
        jobSpanId(j.jobId) = id
        line(id, owner.map(_.id).getOrElse(0L), owner.map(_.req).getOrElse(0L), "spark.job",
          msToNs(j.startMs), msToNs(math.max(j.endMs, j.startMs)),
          Map("job_id" -> j.jobId.toString, "tasks" -> j.tasks.get.toString,
            "compaction" -> j.compaction.toString))
      }
      taskSpans.asScala.foreach { case (job, s, e) =>
        val owner = owners.get(job)
        line(newId(), jobSpanId.getOrElse(job, 0L), owner.map(_.req).getOrElse(0L), "spark.task",
          msToNs(s), msToNs(e), Map.empty)
      }
    } finally w.close()
  }
}
