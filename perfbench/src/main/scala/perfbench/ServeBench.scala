package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Duration

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, typedLit}

import graft.api.{HttpApi, JsonCodec, VectorDb}
import graft.catalog.{DurableCatalog, VectorCatalog}
import graft.functions.GraftFunctions.hamming_dist
import graft.model.{GraftConfig, SearchQuery}

/**
 * Serving benchmark for graft: six libraries (one per index type) holding the
 * same generated chunks, driven over `HttpApi` on loopback by one
 * closed-loop client (it sends its next request only after the previous
 * reply). One client keeps a run's threads within the cores, so latency
 * measures graft and not the scheduler.
 *
 *  - `search_read`: searches only, in-memory catalog.
 *  - `search_mixed`: 60% searches, 20% creates, 10% re-embedding updates,
 *    8% deletes of the client's own chunks, 2% malformed searches, against a
 *    write-ahead-logged catalog; afterwards the log is recovered and checked.
 *
 * `--trace 0` measures the end-to-end metrics; `--trace 1` replays one
 * client's request list serially, times the calls into each layer from
 * here, and attributes Spark jobs with a benchmark-owned listener.
 * The last stdout line is the result JSON; the line before it, the receipt.
 */
object ServeBench {
  val IndexTypes: IndexedSeq[String] = IndexedSeq("exact", "lsh", "ivf", "hnsw", "ivfpq", "binary")
  val AnnTypes: IndexedSeq[String] = IndexTypes.filterNot(_ == "exact")
  private val mapper = new ObjectMapper()

  /** Chunks in each library: large enough that every index type trains, small enough to set up in seconds. */
  val LibraryChunks = 1000
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path,
      commit: String, digest: String)

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // The server's request executor outlives HttpApi.stop() (NOTES.md), so
    // the JVM would not exit by itself once the results are out.
    System.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = get("workload")
    require(Set("search_read", "search_mixed")(workload), s"unknown workload $workload")
    Opts(workload, get("seed").toLong, get("seconds").toInt, get("trace") == "1", Paths.get(get("out")),
      m.getOrElse("commit", "unknown"), m.getOrElse("digest", "unknown"))
  }

  // ------------------------------------------------------------------ ops

  sealed trait Op { def lib: LibraryState }
  final case class SearchOp(lib: LibraryState, query: Int, filter: Option[(String, String)]) extends Op
  final case class CreateOp(lib: LibraryState, spec: ChunkSpec) extends Op
  final case class UpdateOp(lib: LibraryState, id: String, text: String) extends Op
  final case class DeleteOp(lib: LibraryState, id: String) extends Op
  /** Four kinds of bad search, each of which should get a 4xx. */
  final case class MalformedOp(lib: LibraryState, kind: Int) extends Op
  val MalformedKinds: IndexedSeq[String] =
    IndexedSeq("wrong_dimension", "non_numeric_element", "filter_not_object", "no_query")

  /** Outcome of one op: `kind` is search/create/update/delete/malformed. */
  final case class Outcome(kind: String, indexType: String, startNs: Long, endNs: Long, status: Int,
      errors: Seq[String], recall: Option[Double]) {
    def ms: Double = (endNs - startNs) / 1e6
    def ok: Boolean = errors.isEmpty
  }

  /**
   * One client's seeded op stream; update/delete target only chunks this
   * client created. Searches visit the six libraries in turn (each client
   * from its own offset) and one block of six in four carries a metadata
   * filter, and op kinds come in shuffled cycles of fixed proportions, so
   * every run gets the same mix; the seed picks texts, filter values and
   * the order within each cycle.
   */
  final class OpGen(seed: Long, client: Int, libs: IndexedSeq[LibraryState], corpus: Corpus, mixed: Boolean) {
    private val r = new Random(seed * 1000003L + client)
    private val own = mutable.ArrayBuffer.empty[(LibraryState, String)]
    private var malformed = client
    private var turn = -1

    private def lib() = libs(r.nextInt(libs.size))
    private def search(): Op = {
      turn += 1
      val filter =
        if ((turn / libs.size + client) % 4 != 0) None
        else if (r.nextBoolean()) Some("source" -> Corpus.Sources(r.nextInt(Corpus.Sources.length)))
        else Some("lang" -> Corpus.Langs(r.nextInt(Corpus.Langs.length)))
      SearchOp(libs(Math.floorMod(turn + client, libs.size)), r.nextInt(corpus.queries.length), filter)
    }

    // search_mixed's op kinds per cycle of 50 (60/20/10/8/2 %), reshuffled each cycle
    private val cycle = Vector.fill(30)('s') ++ Vector.fill(10)('c') ++ Vector.fill(5)('u') ++
      Vector.fill(4)('d') ++ Vector('m')
    private var kinds = Iterator.empty[Char]

    def next(): Op =
      if (!mixed) search()
      else {
        if (!kinds.hasNext) kinds = r.shuffle(cycle).iterator
        kinds.next() match {
          case 's' => search()
          case 'm' => malformed += 1; MalformedOp(lib(), malformed % MalformedKinds.size)
          // update/delete need a chunk of this client's; until it has one, create
          case 'u' if own.nonEmpty => val (l, id) = own(r.nextInt(own.size)); UpdateOp(l, id, Corpus.window(r))
          case 'd' if own.nonEmpty => val (l, id) = own.remove(r.nextInt(own.size)); DeleteOp(l, id)
          case _ => CreateOp(lib(), Corpus.chunk(r))
        }
      }

    def created(lib: LibraryState, id: String): Unit = own += (lib -> id)

    /** Hand over (and forget) the chunks created through this stream. */
    def drainOwn(): Seq[(LibraryState, String)] = { val o = own.toSeq; own.clear(); o }
  }

  /** Sends ops over HTTP and checks every reply. */
  final class Client(port: Int, corpus: Corpus) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    private val base = s"http://127.0.0.1:$port/api/v1"

    private def send(method: String, path: String, body: Option[JsonNode]): (Int, String, Long, Long) = {
      val b = HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(60))
        .header("Content-Type", "application/json")
      val req = body match {
        case Some(n) => b.method(method, HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(n)))
        case None => b.method(method, HttpRequest.BodyPublishers.noBody())
      }
      val t0 = System.nanoTime()
      val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (resp.statusCode(), resp.body(), t0, System.nanoTime())
    }

    private def obj(): ObjectNode = mapper.createObjectNode()

    def searchBody(op: SearchOp): ObjectNode = {
      val n = obj().put("query_text", corpus.queries(op.query)).put("k", Check.K)
      op.filter.foreach { case (k, v) => n.putObject("metadata_filters").put(k, v) }
      n
    }

    /** Send `op` and check the reply; a transport error or unreadable reply is a failed op. */
    def run(op: Op, gen: OpGen): Outcome = {
      val t0 = System.nanoTime()
      try op match {
        case s: SearchOp => search(s)
        case m: MalformedOp => malformed(m)
        case w => write(w, gen)
      } catch {
        case NonFatal(e) =>
          val kind = op.getClass.getSimpleName.stripSuffix("Op").toLowerCase
          Outcome(kind, op.lib.indexType, t0, System.nanoTime(), -1, Seq(s"$kind failed: $e"), None)
      }
    }

    private def search(op: SearchOp): Outcome = {
      val lib = op.lib
      val (status, body, t0, t1) = send("POST", s"/search/libraries/${lib.id}", Some(searchBody(op)))
      val q = corpus.queryVecs(op.query)
      val (errors, recall) =
        if (status != 200) (Seq(s"search status $status: ${body.take(200)}"), None)
        else {
          val hits = parseHits(mapper.readTree(body))
          val (errs, rec) = Check.againstState(hits, q, lib, op.filter)
          (Check.selfContained(hits, q, lib, op.filter) ++ errs, Some(rec))
        }
      Outcome("search", lib.indexType, t0, t1, status, errors, recall)
    }

    private def write(op: Op, gen: OpGen): Outcome = {
      val lib = op.lib
      val (kind, (status, body, t0, t1)) = op match {
        case CreateOp(_, spec) =>
          val n = obj().put("text", spec.text)
          val m = n.putObject("metadata")
          spec.metadata.foreach { case (k, v) => m.put(k, v) }
          "create" -> send("POST", s"/chunks?document_id=${lib.docId}", Some(n))
        case UpdateOp(_, id, text) => "update" -> send("PUT", s"/chunks/$id", Some(obj().put("text", text)))
        case DeleteOp(_, id) => "delete" -> send("DELETE", s"/chunks/$id", None)
        case other => throw new IllegalArgumentException(other.toString)
      }
      val errors = mutable.ArrayBuffer.empty[String]
      if (status != 200) errors += s"$kind status $status: ${body.take(200)}"
      if (status == 200) op match {
        case CreateOp(_, spec) =>
          val c = mapper.readTree(body)
          val e = Entry(spec.text, RefEmbed(spec.text), spec.metadata)
          errors ++= chunkErrors(c, e, lib)
          lib.rows(c.get("id").asText()) = e
          gen.created(lib, c.get("id").asText())
        case UpdateOp(_, id, text) =>
          val c = mapper.readTree(body)
          val e = lib.rows(id).copy(text = text, emb = RefEmbed(text))
          if (c.get("id").asText() != id) errors += s"update of $id answered ${c.get("id")}"
          errors ++= chunkErrors(c, e, lib)
          lib.rows(id) = e
        case DeleteOp(_, id) => lib.rows.remove(id)
        case _ =>
      }
      Outcome(kind, lib.indexType, t0, t1, status, errors.toSeq, None)
    }

    private def chunkErrors(c: JsonNode, e: Entry, lib: LibraryState): Seq[String] = {
      val errs = mutable.ArrayBuffer.empty[String]
      if (c.get("text").asText() != e.text) errs += "chunk text not echoed"
      if (!java.util.Arrays.equals(floats(c.get("embedding")), e.emb)) errs += "chunk embedding is not its text's"
      if (c.get("document_id").asText() != lib.docId) errs += "chunk in the wrong document"
      if (metaOf(c.get("metadata")) != e.meta) errs += "chunk metadata changed"
      errs.toSeq
    }

    private def malformed(op: MalformedOp): Outcome = {
      val n = obj().put("k", Check.K)
      op.kind match {
        case 0 => val a = n.putArray("query_embedding"); (0 until 7).foreach(i => a.add(0.1 * (i + 1)))
        case 1 =>
          val a = n.putArray("query_embedding")
          corpus.queryVecs(0).indices.foreach(i => if (i == 3) a.add("NaN") else a.add(corpus.queryVecs(0)(i).toDouble))
        case 2 => n.put("query_text", corpus.queries(0)).put("metadata_filters", "source")
        case _ =>
      }
      val (status, _, t0, t1) = send("POST", s"/search/libraries/${op.lib.id}", Some(n))
      Outcome("malformed", MalformedKinds(op.kind), t0, t1, status,
        if (status / 100 == 4) Nil else Seq(s"${MalformedKinds(op.kind)} got $status"), None)
    }
  }

  def floats(a: JsonNode): Array[Float] =
    if (a == null || !a.isArray) Array.empty else Array.tabulate(a.size())(i => a.get(i).doubleValue().toFloat)

  def metaOf(m: JsonNode): Map[String, String] =
    if (m == null || !m.isObject) Map.empty else m.fieldNames().asScala.map(k => k -> m.get(k).asText()).toMap

  def parseHits(root: JsonNode): Seq[Hit] =
    root.get("results").elements().asScala.map { r =>
      val c = r.get("chunk")
      Hit(c.get("id").asText(), c.get("document_id").asText(), c.get("text").asText(),
        floats(c.get("embedding")), metaOf(c.get("metadata")),
        r.get("similarity_score").asDouble(), r.get("distance").asDouble())
    }.toSeq

  // ---------------------------------------------------------------- setup

  /** A built set of libraries behind one facade; `root` is the write-ahead log's, if durable. */
  final case class Fixture(db: VectorDb, libs: IndexedSeq[LibraryState], root: Option[String],
      phases: Seq[(String, Double)])

  /** Ingest the corpus into six libraries, index each, and run one search on each. */
  def buildFixture(spark: SparkSession, corpus: Corpus, durableRoot: Option[String]): Fixture = {
    val embs = corpus.chunks.map(c => RefEmbed(c.text))
    val items = corpus.chunks.toSeq.map(c => c.text -> c.metadata)
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    def phase[A](name: String)(f: => A): A = {
      val t = System.nanoTime()
      val a = f
      phases += (name -> secondsSince(t))
      a
    }
    // Durable: bulk-ingest through the logged catalog, then serve from a
    // facade that recovers that log, as a server starting on the store
    // would. Either way the server folds its log before taking requests
    // (and, durable, checkpoints once its indexes are built).
    val (rows, db) = phase("ingest") {
      val (rows, db) = durableRoot match {
        case Some(root) =>
          val dc = DurableCatalog.recover(spark, root)
          (IndexTypes.map { t =>
            val lib = dc.createLibrary(s"bench-$t", indexType = t).toOption.get
            dc.createChunks(dc.createDocument(lib.id, "corpus").toOption.get.id, items).toOption.get
          }, new VectorDb(spark, durableRoot = Some(root)))
        case None =>
          val db = new VectorDb(spark)
          (IndexTypes.map { t =>
            val lib = db.createLibrary(s"bench-$t", indexType = t).toOption.get
            db.catalog.createChunks(db.createDocument(lib.id, "corpus").toOption.get.id, items).toOption.get
          }, db)
      }
      db.catalog.compact()
      (rows, db)
    }
    val libs = IndexTypes.zip(rows).map { case (t, rs) =>
      val st = new LibraryState(t, rs.head.library_id, rs.head.document_id)
      rs.zip(corpus.chunks).zip(embs).foreach { case ((row, spec), e) => st.rows(row.id) = Entry(spec.text, e, spec.metadata) }
      phase(s"index_$t")(db.indexLibrary(st.id, t).fold(e => throw new IllegalStateException(e.message), _ => ()))
      st
    }
    if (durableRoot.isDefined) phase("checkpoint")(db.checkpoint())
    phase("warm") {
      libs.foreach(l => db.search(l.id, SearchQuery(Some(corpus.queries(0)), k = Check.K)))
    }
    Fixture(db, libs, durableRoot, phases.toSeq)
  }

  // ------------------------------------------------------------------ run

  def run(o: Opts): Unit = {
    val loadStart = loadAvg()
    Files.createDirectories(o.out)
    val cores = Runtime.getRuntime.availableProcessors()
    val mixed = o.workload == "search_mixed"

    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    val sessionS = secondsSince(t0)

    val t1 = System.nanoTime()
    val corpus = new Corpus(o.seed, LibraryChunks, 256)
    val genS = secondsSince(t1)

    val t2 = System.nanoTime()
    val fixture = buildFixture(spark, corpus, if (mixed) Some(o.out.resolve("wal").toString) else None)
    val setupS = sessionS + genS + secondsSince(t2)
    val api = new HttpApi(fixture.db)
    api.start()

    val receipt = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "nproc" -> cores,
      "spark_cores" -> cores, "clients" -> 1, "library_chunks" -> LibraryChunks,
      "libraries" -> IndexTypes.mkString(","), "sf" -> "none (generated text)", "commit" -> o.commit,
      "source_digest" -> o.digest, "seconds" -> o.seconds, "setup_s" -> fmt(setupS),
      "session_s" -> fmt(sessionS),
      "setup_phases_s" -> fixture.phases.map { case (k, v) => s"$k=${fmt(v)}" }.mkString(","))

    val (metrics, outcomes) =
      if (o.trace) traced(o, spark, fixture, corpus, api, receipt)
      else untraced(o, fixture, corpus, api, setupS, receipt)

    api.stop()
    val durabilityErrors = if (mixed) checkDurability(spark, fixture, receipt) else Nil
    if (o.trace) metrics("catalog.recover_s") = receipt.getOrElse("recover_s", 0.0).asInstanceOf[Double]

    val valid = outcomes.filter(_.kind != "malformed")
    val failures = valid.filterNot(_.ok)
    val probes = outcomes.filter(_.kind == "malformed")
    receipt("malformed_sent") = probes.size
    receipt("malformed_4xx") = probes.count(_.ok)
    receipt("malformed_by_kind") = MalformedKinds.map { k =>
      val ps = probes.filter(_.indexType == k)
      s"$k:${ps.count(_.ok)}/${ps.size}"
    }.mkString(",")
    receipt("first_failures") = (failures.flatMap(_.errors) ++ durabilityErrors).take(5).mkString(" | ")
    receipt("loadavg_start") = loadStart
    receipt("loadavg_end") = loadAvg()
    val receiptJson = json(receipt.toSeq)
    Files.write(o.out.resolve("receipt.json"), receiptJson.getBytes(StandardCharsets.UTF_8))
    println(s"""{"receipt":$receiptJson}""")
    val units = if (o.trace) Units.perLayer else Units.endToEnd
    val metricJson = units.map { case (name, unit) =>
      s""""$name":{"value":${num(metrics(name))},"unit":"$unit"}"""
    }.mkString(",")
    val correct = failures.isEmpty && durabilityErrors.isEmpty
    println(s"""{"correct":$correct,"attempted":${valid.size},"failed":${failures.size},"metrics":{$metricJson}}""")
    System.out.flush()
  }

  /**
   * Closed-loop load, untimed, before the measured window starts. After 4 s
   * of it, searches still ran up to 1.8x slower in the first seconds of the
   * window than at its end (JIT and Spark's code caches still warming).
   */
  val WarmSeconds = 10

  /**
   * The closed-loop window: one client for `--seconds`, tracing off, after
   * `WarmSeconds` of the same request stream; ops before the window are
   * checked but not measured.
   */
  private def untraced(o: Opts, f: Fixture, corpus: Corpus, api: HttpApi, setupS: Double,
      receipt: mutable.Map[String, Any]): (mutable.Map[String, Double], Seq[Outcome]) = {
    val gen = new OpGen(o.seed, 0, f.libs, corpus, o.workload == "search_mixed")
    val client = new Client(api.boundPort, corpus)
    def until(deadline: Long): Seq[Outcome] = {
      val out = mutable.ArrayBuffer.empty[Outcome]
      while (System.nanoTime() < deadline) out += client.run(gen.next(), gen)
      out.toSeq
    }
    val warm = until(System.nanoTime() + WarmSeconds * 1000000000L)
    val start = System.nanoTime()
    val deadline = start + o.seconds * 1000000000L
    val out = until(deadline)
    writeRequests(o.out.resolve("requests.tsv"), out, start)
    val elapsedS = (out.map(_.endNs).maxOption.getOrElse(deadline) - start) / 1e9
    val heapMb = retainedHeapMb()
    val searches = out.filter(o => o.kind == "search" && o.ok)
    val writes = out.filter(o => Set("create", "update", "delete")(o.kind) && o.ok)
    // recall does not depend on timing, so the warm load's searches count too: more samples, less spread
    val recalls = (warm ++ out).filter(o => o.kind == "search" && o.indexType != "exact").flatMap(_.recall)
    receipt("searches") = searches.size
    receipt("search_p90_ms") = fmt(quantile(searches.map(_.ms), 0.9))
    receipt("writes") = writes.size
    receipt("write_p50_ms") = fmt(quantile(writes.map(_.ms), 0.5))
    receipt("write_p90_ms") = fmt(quantile(writes.map(_.ms), 0.9))
    receipt("recall_samples") = recalls.size
    (mutable.Map(
      "setup_s" -> setupS,
      "search_p50_ms" -> searchP50(searches),
      "ops_per_s" -> (searches.size + writes.size) / elapsedS,
      "recall_at_10" -> mean(recalls),
      "retained_heap_mb" -> heapMb), warm.filterNot(_.ok) ++ out)
  }

  private def writeRequests(path: Path, out: Seq[Outcome], t0: Long): Unit =
    Files.write(path, ("start_ms\tms\tkind\ttype\tstatus\tok\n" + out.sortBy(_.startNs).map { x =>
      f"${(x.startNs - t0) / 1e6}%.1f\t${x.ms}%.3f\t${x.kind}\t${x.indexType}\t${x.status}\t${x.ok}"
    }.mkString("\n")).getBytes(StandardCharsets.UTF_8))

  /**
   * Serial replay of client 0's request list for `--seconds` with every
   * layer call timed from here and the listener on. Each search is also sent
   * once untraced, right before or after its traced copy (alternating), so
   * the tracing overhead, traced minus plain search p50, compares the same
   * requests under the same warm-up.
   * `search_mixed` then sends each malformed kind once and a burst of 70
   * writes (one compaction at least), both traced.
   */
  private def traced(o: Opts, spark: SparkSession, f: Fixture, corpus: Corpus, api: HttpApi,
      receipt: mutable.Map[String, Any]): (mutable.Map[String, Double], Seq[Outcome]) = {
    val mixed = o.workload == "search_mixed"
    val client = new Client(api.boundPort, corpus)
    def replay(seconds: Double)(each: (Op, OpGen) => Outcome): Seq[Outcome] = {
      val gen = new OpGen(o.seed, 0, f.libs, corpus, mixed)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val out = mutable.ArrayBuffer.empty[Outcome]
      while (System.nanoTime() < deadline) out += each(gen.next(), gen)
      out.toSeq
    }

    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    val db = f.db
    val cat = db.catalog
    val (walFiles0, walBytes0) = walStats(f.root)
    val facade = mutable.ArrayBuffer.empty[(String, Span)]
    val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    val httpSpans = mutable.ArrayBuffer.empty[(Outcome, Span)]

    def tracedStep(op: Op, gen: OpGen): Outcome = {
      val req = tracer.newId()
      val t0 = System.nanoTime()
      val out = client.run(op, gen)
      val http = Span(tracer.newId(), req, req, s"api.${out.kind}", out.startNs, out.endNs,
        Map("type" -> out.indexType, "status" -> out.status.toString))
      tracer.record(http)
      httpSpans += (out -> http)
      op match {
        case SearchOp(lib, qi, filter) if out.ok =>
          val text = corpus.queries(qi)
          val filters = filter.toMap
          val query = SearchQuery(Some(text), k = Check.K, metadataFilters = filters)
          val (resp, fs) = tracer.span("search.facade", req, req, tagJobs = true,
            Map("type" -> lib.indexType))(db.search(lib.id, query))
          facade += (lib.indexType -> fs)
          val (qv, es) = tracer.span("functions.embed", req, req)(cat.embedder.embedOne(text))
          add("functions.embed_ms", es.ms)
          val (_, vs) = tracer.span("catalog.view", req, req, tagJobs = true)(cat.chunksFiltered(lib.id, filters))
          add("catalog.view_ms", vs.ms)
          if (lib.indexType != "exact") {
            val (n, cs) = tracer.span("index.candidates", req, req, tagJobs = true,
              Map("type" -> lib.indexType))(candidates(cat, lib, qv))
            add(s"index.candidates_ms.${lib.indexType}", cs.ms)
            add(s"index.candidates_per_req.${lib.indexType}", n.toDouble)
          }
          resp.foreach { r =>
            val (_, js) = tracer.span("api.encode", req, req)(JsonCodec.searchResponseJson(r, Some(query)))
            add("api.encode_ms", js.ms)
          }
        case _ =>
      }
      tracer.record(Span(req, 0L, req, "request", t0, System.nanoTime(), Map("op" -> out.kind)))
      out
    }
    val plain = mutable.ArrayBuffer.empty[Outcome]
    val tracedOut = replay(o.seconds) {
      case (op: SearchOp, gen) if plain.size % 2 == 0 =>
        plain += client.run(op, gen)
        tracedStep(op, gen)
      case (op: SearchOp, gen) =>
        val out = tracedStep(op, gen)
        plain += client.run(op, gen)
        out
      case (op, gen) => tracedStep(op, gen)
    } ++ (if (!mixed) Nil else {
      val gen = new OpGen(o.seed, -2, f.libs, corpus, mixed)
      val r = new Random(o.seed)
      val probes = MalformedKinds.indices.map(k => tracedStep(MalformedOp(f.libs(k), k), gen))
      val creates = (0 until 35).map(i => tracedStep(CreateOp(f.libs(i % f.libs.size), Corpus.chunk(r)), gen))
      probes ++ creates ++ gen.drainOwn().map { case (l, id) => tracedStep(DeleteOp(l, id), gen) }
    })
    tracer.drain()
    spark.sparkContext.removeSparkListener(tracer)
    val (walFiles1, walBytes1) = walStats(f.root)

    val m = mutable.Map.empty[String, Double]
    Units.perLayer.foreach { case (name, _) => m(name) = 0.0 }
    layer.foreach { case (k, vs) => m(k) = if (k.contains("_per_req")) mean(vs.toSeq) else quantile(vs.toSeq, 0.5) }
    IndexTypes.foreach { t =>
      val https = httpSpans.collect { case (oc, s) if oc.kind == "search" && oc.ok && oc.indexType == t => s.ms }
      m(s"api.http_ms.$t") = quantile(https.toSeq, 0.5)
      val fs = facade.collect { case (`t`, s) => s }.toSeq
      val js = fs.map(s => tracer.jobsOf(s, byTime = false))
      m(s"search.facade_ms.$t") = quantile(fs.map(_.ms), 0.5)
      m(s"spark.jobs_per_req.$t") = mean(js.map(_.size.toDouble))
      m(s"spark.tasks_per_req.$t") = mean(js.map(_.map(_.tasks.get).sum.toDouble))
      m(s"spark.job_ms_per_req.$t") = quantile(js.map(tracer.unionMs), 0.5)
      m(s"spark.driver_ms_per_req.$t") = quantile(fs.zip(js).map { case (s, j) => s.ms - tracer.unionMs(j) }, 0.5)
    }
    AnnTypes.foreach { t =>
      m(s"index.recall_at_10.$t") = mean(tracedOut.filter(x => x.kind == "search" && x.indexType == t).flatMap(_.recall))
    }
    val writes = httpSpans.filter { case (oc, _) => Set("create", "update", "delete")(oc.kind) }
    Seq("create", "update", "delete").foreach { k =>
      m(s"api.${k}_ms") = quantile(writes.collect { case (oc, s) if oc.kind == k => s.ms }.toSeq, 0.5)
    }
    val writeJobs = writes.map { case (_, s) => tracer.jobsOf(s, byTime = true) }
    val compacting = writes.zip(writeJobs).collect { case (w, js) if js.exists(_.compaction) => w }
    m("api.writes") = writes.size.toDouble
    m("catalog.jobs_per_write") = if (writes.isEmpty) 0.0 else writeJobs.map(_.size).sum.toDouble / writes.size
    m("catalog.compactions") = compacting.size.toDouble
    m("catalog.compaction_write_ms") = quantile(compacting.map(_._2.ms).toSeq, 0.5)
    if (writes.nonEmpty) {
      m("catalog.wal_files_per_write") = (walFiles1 - walFiles0).toDouble / writes.size
      m("catalog.wal_bytes_per_write") = (walBytes1 - walBytes0).toDouble / writes.size
    }
    val probes = tracedOut.filter(_.kind == "malformed")
    m("api.malformed_sent") = probes.size.toDouble
    m("api.malformed_4xx") = probes.count(_.ok).toDouble
    val p50 = (xs: Seq[Outcome]) => searchP50(xs.filter(x => x.kind == "search" && x.ok))
    m("trace.overhead_ms") = p50(tracedOut) - p50(plain.toSeq)
    receipt("trace_overhead_search_p50_ms") = fmt(m("trace.overhead_ms"))
    receipt("untraced_serial_search_p50_ms") = fmt(p50(plain.toSeq))

    val owners: Map[Int, Span] = (facade.map(_._2) ++ httpSpans.map(_._2) ++
      tracer.spans.filter(_.name.startsWith("index.")).toSeq ++ tracer.spans.filter(_.name == "catalog.view").toSeq)
      .flatMap { s =>
        tracer.jobsOf(s, byTime = s.name.startsWith("api.")).map(j => j.jobId -> s)
      }.toMap
    tracer.writeSpans(o.out.resolve("spans.jsonl"), owners)
    receipt("span_file") = o.out.resolve("spans.jsonl").toString
    (m, tracedOut ++ plain)
  }

  /** The index's public candidate call, ids materialized; returns the candidate count. */
  private def candidates(cat: VectorCatalog, lib: LibraryState, q: Array[Float]): Int = {
    val st = cat.indexState(lib.id).get
    val fetch = math.max(4 * Check.K, 50)
    lib.indexType match {
      case "lsh" =>
        val flips = GraftConfig.lshActivePreset.map(_.flips).getOrElse(GraftConfig.lshMultiProbeFlips)
        st.lsh.get.multiProbeCandidates(st.signatures.get, q, flips).collect().length
      case "ivf" => st.ivf.get.candidates(st.assigned.get, q).select("id").collect().length
      case "hnsw" => st.hnsw.get.graph.search(q, fetch, ef = math.max(100, fetch)).size
      case "ivfpq" => st.ivfpq.get.candidatesWith(q, nprobe = GraftConfig.ivfNprobe, n = fetch).select("id").collect().length
      case "binary" =>
        val n = st.sigCount.getOrElse(st.signatures.get.count())
        val budget = math.max(math.max(4 * Check.K, 64), math.ceil(n * GraftConfig.binaryCandidateFraction).toInt)
        st.signatures.get
          .withColumn("ham", hamming_dist(col("sig"), typedLit(graft.index.BinaryQuant.pack(q).toSeq)))
          .orderBy(col("ham").asc, col("id").asc).limit(budget).select("id").collect().length
    }
  }

  /** Reopen the log with a fresh facade; every acknowledged write must be there. */
  private def checkDurability(spark: SparkSession, f: Fixture, receipt: mutable.Map[String, Any]): Seq[String] = {
    val t = System.nanoTime()
    val db = new VectorDb(spark, durableRoot = f.root)
    receipt("recover_s") = secondsSince(t)
    f.libs.flatMap { lib =>
      val got = db.catalog.chunksByLibrary(lib.id).select("id", "text").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val want = lib.rows.map { case (id, e) => id -> e.text }.toMap
      if (got == want) Nil
      else Seq(s"recovered ${lib.indexType} library differs: ${(want.keySet diff got.keySet).size} acknowledged " +
        s"chunks missing, ${(got.keySet diff want.keySet).size} deleted chunks back, " +
        s"${want.count { case (id, tx) => got.get(id).exists(_ != tx) }} stale texts")
    }
  }

  // -------------------------------------------------------------- helpers

  /**
   * Median search latency of each index type, averaged over the types: every
   * type weighs the same however many of its searches fit in the window, and
   * the figure does not jump between the latency tiers of the types as a
   * pooled median of six tiers does.
   */
  def searchP50(searches: Seq[Outcome]): Double =
    mean(searches.groupBy(_.indexType).values.map(xs => median(xs.map(_.ms))).toSeq)

  private def walStats(root: Option[String]): (Int, Long) = root match {
    case Some(r) if Files.isDirectory(Paths.get(r, "wal")) =>
      val files = Files.list(Paths.get(r, "wal")).iterator().asScala.filter(_.toString.endsWith(".json")).toSeq
      (files.size, files.map(Files.size).sum)
    case _ => (0, 0L)
  }

  /** Heap in use after full collections; the pauses let Spark's cleaner drop unreachable blocks. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def fmt(d: Double): String = f"$d%.4f"
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  private def json(kv: Seq[(String, Any)]): String = kv.map {
    case (k, v: String) => "\"" + k + "\":" + mapper.writeValueAsString(v)
    case (k, v: Boolean) => "\"" + k + "\":" + v
    case (k, v: Double) => "\"" + k + "\":" + num(v)
    case (k, v) => "\"" + k + "\":" + v
  }.mkString("{", ",", "}")
}
