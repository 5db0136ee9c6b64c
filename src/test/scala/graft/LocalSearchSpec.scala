package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.expressions.CosineSimilarity
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.catalog.VectorCatalog
import graft.functions.HashingEmbedder
import graft.model._
import graft.search.{LocalSearch, SearchService}

/**
 * The driver-resident read path against the Spark path it replaces for
 * small libraries: same ids, same order, bit-equal scores for every
 * index type, under buffered writes, folds, refreshes, cascades and
 * every filter form; zero Spark jobs once resident; the Spark path
 * above the cap; one catalog version per answer under racing writes.
 * Every reply of either path is also checked on its own: a top-k of
 * the filtered universe with exact cosine scores, also while index
 * builds and refreshes race the searches. Seeded: failures reproduce.
 */
class LocalSearchSpec extends SparkSpec {

  private val types = Seq("exact", "lsh", "ivf", "hnsw", "ivfpq", "binary")
  private val words = Vector("alpha", "beta", "gamma", "delta", "stars", "orbit", "ocean",
    "river", "stone", "light", "night", "spark", "graph", "index", "vector", "query")
  private val sources = Vector("web", "book", "news")
  // non-ASCII values exercise Spark's own lower-casing in `_contains`
  private val langs = Vector("en-US", "Straße", "İstanbul", "ÅNGSTRÖM", "día", "ΣΟΦΊΑ")
  private val containsProbes = Vector("ss", "STRASSE", "straße", "İST", "i̇st", "ström",
    "DÍ", "-us", "σοφ", "ία", "zzz")

  private def text(r: Random): String =
    Seq.fill(2 + r.nextInt(5))(words(r.nextInt(words.size))).mkString(" ")
  private def meta(r: Random): Map[String, String] =
    Map("source" -> sources(r.nextInt(sources.size)), "lang" -> langs(r.nextInt(langs.size)))

  /** Six libraries (one per index type) on one catalog, each searched
    * through the resident path and through the Spark plans alone. */
  private final class Fixture(val cat: VectorCatalog) {
    val local = new SearchService(cat)
    val libs = mutable.LinkedHashMap.empty[String, String] // type -> library id
    val docs = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    val chunks = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    val docOf = mutable.HashMap.empty[String, String] // chunk id -> document id
    val marks = mutable.ArrayBuffer(System.currentTimeMillis())

    def addDoc(lib: String): String = {
      val d = cat.createDocument(lib, s"doc-${docs(lib).size}").toOption.get.id
      docs(lib) += d
      d
    }
    def addChunks(lib: String, r: Random, n: Int): Unit = {
      val doc = docs(lib)(r.nextInt(docs(lib).size))
      val ids = cat.createChunks(doc, Seq.fill(n)(text(r) -> meta(r))).toOption.get.map(_.id)
      chunks(lib) ++= ids
      ids.foreach(docOf(_) = doc)
    }
    /** A library of index type `t` with two documents and `n` chunks. */
    def addLibrary(t: String, r: Random, n: Int, id: Option[String] = None): String = {
      val lib = cat.createLibrary(s"local-$t", indexType = t, id = id).toOption.get.id
      libs(t) = lib
      docs(lib) = mutable.ArrayBuffer.empty
      chunks(lib) = mutable.ArrayBuffer.empty
      addDoc(lib); addDoc(lib)
      addChunks(lib, r, n)
      lib
    }
  }

  private def fixture(perLibrary: Int, seed: Long): Fixture = {
    val f = new Fixture(new VectorCatalog(spark))
    val r = new Random(seed)
    types.foreach(t => f.addLibrary(t, r, perLibrary))
    f.cat.compact()
    f.libs.foreach { case (t, lib) => assert(f.cat.indexLibrary(lib, t).isRight) }
    f
  }

  /** A batch of buffered writes on every library: creates, re-embedding
    * updates, metadata-only updates, chunk deletes, document cascades. */
  private def writes(f: Fixture, r: Random, n: Int): Unit = {
    f.libs.values.foreach { lib =>
      (0 until n).foreach { _ =>
        val ids = f.chunks(lib)
        r.nextInt(10) match {
          case 0 | 1 | 2 => f.addChunks(lib, r, 1 + r.nextInt(3))
          case 3 | 4 if ids.nonEmpty =>
            f.cat.updateChunk(ids(r.nextInt(ids.size)), text = Some(text(r)))
          case 5 if ids.nonEmpty =>
            f.cat.updateChunk(ids(r.nextInt(ids.size)), metadata = Some(meta(r)))
          case 6 | 7 if ids.nonEmpty =>
            val id = ids.remove(r.nextInt(ids.size))
            assert(f.cat.deleteChunk(id).isRight)
          case 8 if f.docs(lib).size > 1 =>
            val d = f.docs(lib).remove(r.nextInt(f.docs(lib).size))
            assert(f.cat.deleteDocument(d).isRight)
            ids.filterInPlace(id => f.docOf(id) != d)
            f.addDoc(lib)
            f.addChunks(lib, r, 5)
          case _ => f.addChunks(lib, r, 1)
        }
      }
    }
    f.marks += System.currentTimeMillis()
  }

  private val tsFormats = Vector("yyyy-MM-dd HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd")

  private def timestamp(f: Fixture, r: Random): String = {
    val ms = f.marks(r.nextInt(f.marks.size)) + r.nextInt(5) - 2
    java.time.format.DateTimeFormatter.ofPattern(tsFormats(r.nextInt(tsFormats.size)))
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))
  }

  /** All four filter forms, alone and combined. */
  private def filters(f: Fixture, r: Random): Map[String, String] = r.nextInt(7) match {
    case 0 | 1 => Map.empty
    case 2 => Map("source" -> sources(r.nextInt(sources.size)))
    case 3 => Map("lang_contains" -> containsProbes(r.nextInt(containsProbes.size)))
    case 4 => Map("created_after" -> timestamp(f, r))
    case 5 => Map("created_before" -> timestamp(f, r))
    case _ => Map("source" -> sources(r.nextInt(sources.size)),
      "lang_contains" -> containsProbes(r.nextInt(containsProbes.size)),
      "created_after" -> timestamp(f, r))
  }

  private def query(f: Fixture, r: Random): SearchQuery = {
    val k = 1 + r.nextInt(20)
    if (r.nextInt(4) == 0)
      SearchQuery(queryEmbedding = Some(Array.fill(64)(r.nextGaussian().toFloat)), k = k,
        metadataFilters = filters(f, r))
    else SearchQuery(queryText = Some(text(r)), k = k, metadataFilters = filters(f, r))
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Empty when the two answers are identical, else what differs. */
  private def diff(a: SearchResponse, b: SearchResponse): String =
    if (a.results.size != b.results.size)
      s"${a.results.size} vs ${b.results.size} hits: ${a.results.map(_.chunk.id)} vs ${b.results.map(_.chunk.id)}"
    else a.results.zip(b.results).zipWithIndex.collectFirst {
      case ((x, y), i) if x.chunk.id != y.chunk.id || bits(x.similarityScore) != bits(y.similarityScore) ||
          bits(x.distance) != bits(y.distance) || x.chunk.text != y.chunk.text ||
          x.chunk.metadata != y.chunk.metadata || x.chunk.document_id != y.chunk.document_id ||
          x.chunk.library_id != y.chunk.library_id ||
          x.chunk.embedding.map(_.toSeq) != y.chunk.embedding.map(_.toSeq) ||
          x.chunk.created_at != y.chunk.created_at || x.chunk.updated_at != y.chunk.updated_at =>
        s"hit $i: ${x.chunk.id} ${x.similarityScore} ${x.distance} vs ${y.chunk.id} ${y.similarityScore} ${y.distance}"
    }.getOrElse("")

  /** Compare the two paths on one query; returns the mismatch, if any. */
  private def compare(f: Fixture, t: String, q: SearchQuery): Option[String] = {
    val lib = f.libs(t)
    val got = f.local.search(lib, q)
    val want = f.local.sparkSearch(lib, q)
    (got, want) match {
      case (Right(a), Right(b)) =>
        Some(diff(a, b)).filter(_.nonEmpty).map(d => s"$t k=${q.k} filters=${q.metadataFilters}: $d")
      case _ => Some(s"$t: $got vs $want")
    }
  }

  private def agree(f: Fixture, t: String, q: SearchQuery): Unit = {
    val m = compare(f, t, q)
    assert(m.isEmpty, m.getOrElse(""))
  }

  private def check(p: Prop, minSuccessful: Int, seed: Long, detail: => String): Unit = {
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(minSuccessful).withInitialSeed(Seed(seed)), p)
    assert(r.passed, s"$r\n$detail")
  }

  /** Spark jobs submitted by `body` on this thread, and the bytes of
    * task results their tasks sent back to the driver. */
  private def jobStats(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"local-search-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          n.incrementAndGet()
          e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "local search probe")
    try { body; Bridge.waitListenerBus(sc); (n.get, bytes.get) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  private def countJobs(body: => Unit): Int = jobStats(body)._1

  test("local path equals the Spark path for every index type, before and after folds") {
    val f = fixture(120, seed = 11L)
    val mismatches = mutable.ArrayBuffer.empty[String]
    val prop = Prop.forAllNoShrink(Gen.long, Gen.choose(0, 3)) { (seed, step) =>
      val r = new Random(seed)
      writes(f, r, 1 + r.nextInt(4))
      step match {
        case 1 => f.cat.compact()
        case 2 => // fold, refresh every index, then buffer more writes
          f.cat.compact()
          f.libs.values.foreach(lib => assert(f.cat.refreshIndex(lib).isRight))
          writes(f, r, 1 + r.nextInt(3))
        case _ => // buffered writes only
      }
      val qs = Seq.fill(3)(query(f, r))
      val bad = for (t <- types; q <- qs; m <- compare(f, t, q)) yield m
      mismatches ++= bad
      bad.isEmpty
    }
    check(prop, minSuccessful = 8, seed = 20261017L, mismatches.take(5).mkString("\n"))
  }

  test("k from 1 to 20 and every filter form agree on a folded, indexed catalog") {
    val f = fixture(150, seed = 12L)
    val r = new Random(13L)
    (1 to 20).foreach { k =>
      val t = types(k % types.size)
      val q = query(f, r).copy(k = k)
      agree(f, t, q)
    }
    // each contains probe (non-ASCII case mappings included) on every type
    for (t <- types; p <- containsProbes) {
      val q = SearchQuery(queryText = Some("stars orbit"), k = 10,
        metadataFilters = Map("lang_contains" -> p))
      agree(f, t, q)
    }
  }

  /** Both read paths, by name. */
  private def paths(f: Fixture): Seq[(String, (String, SearchQuery) => Either[ApiError, SearchResponse])] =
    Seq("search" -> f.local.search, "sparkSearch" -> f.local.sparkSearch)

  private def queryVec(cat: VectorCatalog, q: SearchQuery): Array[Float] =
    q.queryEmbedding.getOrElse(cat.embedder.embedOne(q.queryText.get))

  /** The library's filtered universe: id -> stored embedding. */
  private def universe(cat: VectorCatalog, lib: String, q: SearchQuery): Map[String, Array[Float]] =
    cat.chunksFiltered(lib, q.metadataFilters).collect().map(ChunkRow.fromRow)
      .flatMap(c => c.embedding.map(c.id -> _)).toMap

  /** What every reply must satisfy, whatever the tier and path: at most
    * k rows of the filtered universe, ordered by (score desc, id asc),
    * each score the exact cosine of the row's stored embedding and never
    * NaN. None when it holds, else what breaks it. */
  private def breaks(universe: Map[String, Array[Float]], queryVec: Array[Float], k: Int,
      reply: SearchResponse): Option[String] = {
    val hits = reply.results
    val qa = UnsafeArrayData.fromPrimitiveArray(queryVec)
    def exact(id: String): Double =
      CosineSimilarity.eval(UnsafeArrayData.fromPrimitiveArray(universe(id)), true, qa, true)
    val ordered = hits.zip(hits.drop(1)).forall { case (a, b) =>
      a.similarityScore > b.similarityScore || a.similarityScore == b.similarityScore &&
        LocalSearch.compareIds(a.chunk.id, b.chunk.id) < 0
    }
    if (hits.size > k) Some(s"${hits.size} hits for k=$k")
    else hits.find(h => !universe.contains(h.chunk.id)).map(h => s"${h.chunk.id} is outside the filtered universe")
      .orElse(hits.find(_.similarityScore.isNaN).map(h => s"NaN score for ${h.chunk.id}"))
      .orElse(hits.find(h => bits(h.similarityScore) != bits(exact(h.chunk.id))).map(h =>
        s"${h.chunk.id} scored ${h.similarityScore}, its exact cosine is ${exact(h.chunk.id)}"))
      .orElse(Option.when(!ordered)(
        s"not ordered by (score desc, id asc): ${hits.map(h => (h.chunk.id, h.similarityScore))}"))
  }

  test("every tier replies with an ordered, exactly scored top-k of the filtered universe, on both paths") {
    val f = fixture(120, seed = 28L)
    val problems = mutable.ArrayBuffer.empty[String]
    val prop = Prop.forAllNoShrink(Gen.long, Gen.choose(0, 2)) { (seed, step) =>
      val r = new Random(seed)
      writes(f, r, 1 + r.nextInt(3))
      step match {
        case 1 => f.cat.compact()
        case 2 => f.libs.values.foreach(lib => assert(f.cat.refreshIndex(lib).isRight))
        case _ => // buffered writes only
      }
      val bad = for {
        t <- types
        q <- Seq.fill(2)(query(f, r))
        u = universe(f.cat, f.libs(t), q)
        (name, search) <- paths(f)
        m <- search(f.libs(t), q) match {
          case Right(reply) => breaks(u, queryVec(f.cat, q), q.k, reply)
          case Left(e) => Some(e.message)
        }
      } yield s"$t $name k=${q.k} filters=${q.metadataFilters}: $m"
      problems ++= bad
      bad.isEmpty
    }
    check(prop, minSuccessful = 6, seed = 20261018L, problems.take(5).mkString("\n"))
  }

  test("searches racing indexLibrary and refreshIndex on every tier stay well-formed and never throw") {
    val f = fixture(120, seed = 29L)
    val r = new Random(30L)
    writes(f, r, 3) // stale indexes: the first refreshes have work to do
    val probes = f.libs.toSeq.flatMap { case (t, lib) =>
      Seq.fill(3)(query(f, r)).map(q =>
        (t, lib, q, queryVec(f.cat, q), universe(f.cat, lib, q)))
    }
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val served = new AtomicInteger
    @volatile var swapping = true
    val readers = paths(f).map { case (name, search) =>
      val thread = new Thread(() => {
        var i = 0
        while (swapping) {
          val (t, lib, q, qv, u) = probes(i % probes.size)
          i += 1
          try search(lib, q) match {
            case Right(reply) =>
              breaks(u, qv, q.k, reply).foreach(m => problems.add(s"$t $name: $m"))
            case Left(e) => problems.add(s"$t $name: ${e.message}")
          } catch { case scala.util.control.NonFatal(e) => problems.add(s"$t $name threw $e") }
          served.incrementAndGet()
        }
      })
      thread.start(); thread
    }
    try {
      (0 until 2).foreach { round =>
        f.libs.foreach { case (t, lib) =>
          // a metadata-only rewrite of a chunk: a new catalog version
          // with the same rows, embeddings and filter columns
          val c = f.cat.getChunk(f.chunks(lib)(r.nextInt(f.chunks(lib).size))).toOption.get
          assert(f.cat.updateChunk(c.id, metadata = Some(c.metadata)).isRight)
          assert(f.cat.refreshIndex(lib).isRight)
          assert(f.cat.indexLibrary(lib, types((types.indexOf(t) + round + 1) % types.size)).isRight)
          assert(f.cat.indexLibrary(lib, t).isRight)
        }
        f.cat.compact()
      }
    } finally {
      swapping = false
      readers.foreach(_.join())
    }
    assert(served.get > probes.size, s"only ${served.get} searches raced the index swaps")
    assert(problems.isEmpty, problems.asScala.take(5).mkString("\n"))
  }

  test("library cascade delete and same-id re-create agree before and after a fold") {
    val f = fixture(110, seed = 14L)
    val r = new Random(15L)
    f.libs.foreach { case (t, lib) => f.local.search(lib, query(f, r)) } // make every library resident
    f.libs.foreach { case (t, lib) =>
      val doc = f.docs(lib).head
      val oldChunks = f.chunks(lib).take(3)
      assert(f.cat.deleteLibrary(lib).isRight)
      assert(f.local.search(lib, query(f, r)).isLeft) // gone on both paths
      assert(f.cat.createLibrary(s"again-$t", indexType = t, id = Some(lib)).isRight)
      assert(f.cat.createDocument(lib, "again", id = Some(doc)).isRight)
      f.docs(lib) = mutable.ArrayBuffer(doc)
      f.chunks(lib) = mutable.ArrayBuffer.empty
      // re-used chunk ids come back with new content
      oldChunks.foreach(id => f.cat.createChunk(doc, text(r), meta(r), id = Some(id)))
      f.addChunks(lib, r, 105)
      assert(f.cat.indexLibrary(lib, t).isRight)
    }
    def allAgree(): Unit = for (t <- types; _ <- 1 to 3) agree(f, t, query(f, r))
    allAgree()
    f.cat.compact()
    allAgree()
  }

  test("resident searches run zero Spark jobs, through buffered writes and folds") {
    val f = fixture(120, seed = 16L)
    val r = new Random(17L)
    // created with generated ids, the libraries are resident from their
    // creation: neither indexLibrary nor the first search runs a job
    val warm = countJobs(f.libs.values.foreach(lib => f.local.search(lib, query(f, r))))
    assert(warm == 0, s"first search: $warm Spark jobs")
    val n = 60
    val hot = countJobs((0 until n).foreach { i =>
      assert(f.local.search(f.libs(types(i % types.size)), query(f, r)).isRight)
    })
    assert(hot == 0, s"$hot Spark jobs over $n resident searches")
    // buffered writes overlay the snapshot: still no job
    writes(f, r, 3)
    val afterWrites = countJobs((0 until n).foreach { i =>
      f.local.search(f.libs(types(i % types.size)), query(f, r))
    })
    assert(afterWrites == 0, s"$afterWrites Spark jobs after buffered writes")
    // the fold carries each resident library's rows into the new epoch
    f.cat.compact()
    val refold = countJobs(f.libs.values.foreach(lib => f.local.search(lib, query(f, r))))
    assert(refold == 0, s"$refold Spark jobs after a fold")
  }

  test("getChunk reads a folded chunk of a resident library without a job, through the overlay") {
    val f = new Fixture(new VectorCatalog(spark))
    val r = new Random(23L)
    val lib = f.addLibrary("exact", r, 30)
    // an explicit id, never searched or indexed: not resident
    val other = f.addLibrary("lsh", r, 30, id = Some("never-searched"))
    f.cat.compact()
    f.local.search(lib, query(f, r))
    val id = f.chunks(lib).head
    val want = f.cat.chunks.collect().map(ChunkRow.fromRow).find(_.id == id).get
    var got: Either[ApiError, ChunkRow] = null
    assert(countJobs { got = f.cat.getChunk(id) } == 0)
    val c = got.toOption.get
    assert(c.text == want.text && c.metadata == want.metadata && c.document_id == want.document_id &&
      c.embedding.get.toSeq == want.embedding.get.toSeq && c.created_at == want.created_at)
    // a document cascade hides the folded row, still without a job
    assert(f.cat.deleteDocument(f.docOf(id)).isRight)
    assert(countJobs { got = f.cat.getChunk(id) } == 0)
    assert(got.isLeft)
    // a folded chunk of a library no search made resident is scanned
    assert(countJobs { got = f.cat.getChunk(f.chunks(other).head) } > 0)
    assert(got.isRight)
    // right after a second fold the carried rows serve reads, updates
    // and deletes of folded chunks, still without a job
    val doc = f.addDoc(lib)
    val Seq(kept, gone) = f.cat.createChunks(doc, Seq.fill(2)(text(r) -> meta(r))).toOption.get
    f.cat.compact()
    assert(countJobs { got = f.cat.getChunk(kept.id) } == 0)
    assert(got.toOption.get.text == kept.text)
    assert(countJobs { got = f.cat.updateChunk(kept.id, text = Some("stars orbit")) } == 0)
    assert(got.toOption.get.text == "stars orbit")
    assert(countJobs(assert(f.cat.deleteChunk(gone.id).isRight)) == 0)
    assert(countJobs { got = f.cat.getChunk(gone.id) } == 0)
    assert(got.isLeft)
  }

  /** A row's fields, comparable by value (the embedding is an array). */
  private def fields(c: ChunkRow) =
    (c.id, c.document_id, c.library_id, c.text, c.embedding.map(_.toSeq), c.metadata,
      c.created_at, c.updated_at)

  /** The library's resident view against the rows a scan of the chunk table finds. */
  private def assertScanned(cat: VectorCatalog, lib: String): Unit = {
    val want = cat.chunksByLibrary(lib).collect().map(ChunkRow.fromRow).map(fields).sortBy(_._1)
    assert(cat.residentView(lib).get.map(fields).sortBy(_._1).toSeq == want.toSeq, lib)
  }

  test("a fold carries resident rows through cascades, library deletes and same-id re-creates") {
    val f = new Fixture(new VectorCatalog(spark))
    val r = new Random(25L)
    val cascaded = f.addLibrary("exact", r, 40)
    val cut = f.docOf(f.chunks(cascaded).head)
    val kept = f.docs(cascaded).find(_ != cut).get
    f.cat.createChunks(kept, Seq.fill(20)(text(r) -> meta(r)))
    val deleted = f.addLibrary("lsh", r, 30)
    val recreated = f.addLibrary("ivf", r, 30)
    f.cat.compact()
    Seq(cascaded, deleted, recreated).foreach(lib => assert(f.cat.residentView(lib).isDefined))
    // a document cascade, then more rows on the library's other document
    assert(f.cat.deleteDocument(cut).isRight)
    f.cat.createChunks(kept, Seq.fill(5)(text(r) -> meta(r)))
    // a library deleted before the fold
    assert(f.cat.deleteLibrary(deleted).isRight)
    // a library deleted and re-created under the same ids, some chunk
    // ids coming back with new content
    val doc = f.docs(recreated).head
    val reused = f.chunks(recreated).take(3)
    assert(f.cat.deleteLibrary(recreated).isRight)
    assert(f.cat.createLibrary("again", indexType = "ivf", id = Some(recreated)).isRight)
    assert(f.cat.createDocument(recreated, "again", id = Some(doc)).isRight)
    reused.foreach(id => f.cat.createChunk(doc, text(r), meta(r), id = Some(id)))
    f.cat.createChunks(doc, Seq.fill(10)(text(r) -> meta(r)))
    f.cat.compact()
    assert(countJobs(Seq(cascaded, recreated).foreach(lib =>
      assert(f.cat.residentView(lib).isDefined))) == 0, "the fold carried both libraries")
    Seq(cascaded, deleted, recreated).foreach(assertScanned(f.cat, _))
    assert(f.cat.residentView(cascaded).get.length == 25)
    assert(f.cat.residentView(recreated).get.length == 13)
  }

  test("a library pushed past the cap by buffered upserts is not carried and takes the Spark path") {
    val dim = 8192
    val cat = new VectorCatalog(spark, HashingEmbedder(dim), dim)
    val local = new SearchService(cat)
    val r = new Random(27L)
    def library(name: String, n: Int): (String, String) = {
      val lib = cat.createLibrary(name, indexType = "exact").toOption.get.id
      val doc = cat.createDocument(lib, "d").toOption.get.id
      cat.createChunks(doc, Seq.fill(n)(text(r) -> meta(r)))
      (lib, doc)
    }
    val (full, fullDoc) = library("full", LocalSearch.maxRows(dim))
    val (small, _) = library("small", 20)
    cat.compact()
    Seq(full, small).foreach(lib => assert(cat.residentView(lib).isDefined))
    cat.createChunk(fullDoc, text(r), meta(r)) // one row past the cap
    assert(cat.residentView(full).isEmpty)
    cat.compact()
    assert(countJobs(assert(cat.residentView(small).isDefined)) == 0, "the small library is carried")
    assertScanned(cat, small)
    assert(countJobs(assert(cat.residentView(full).isEmpty)) > 0, "the grown library is counted again")
    val q = SearchQuery(queryText = Some("stars orbit"), k = 7)
    assert(countJobs(local.search(full, q)) > 0)
    val (a, b) = (local.search(full, q).toOption.get, local.sparkSearch(full, q).toOption.get)
    assert(a.results.nonEmpty && diff(a, b).isEmpty, diff(a, b))
  }

  test("concurrent first searches of a library after load run one count and one collect") {
    val f = new Fixture(new VectorCatalog(spark))
    val r = new Random(26L)
    val lib = f.addLibrary("exact", r, 50)
    val dir = java.nio.file.Files.createTempDirectory("local-search-load").toString
    f.cat.save(dir)
    f.cat.load(dir)
    val q = query(f, r)
    val start = new java.util.concurrent.CountDownLatch(1)
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Either[ApiError, SearchResponse]]()
    val jobs = countJobs {
      val threads = (0 until 4).map { _ =>
        val t = new Thread(() => { start.await(); answers.add(f.local.search(lib, q)) })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join())
    }
    assert(jobs == 2, s"one count and one collect, got $jobs jobs")
    val want = f.local.sparkSearch(lib, q).toOption.get
    assert(answers.size == 4)
    answers.forEach(a => assert(diff(a.toOption.get, want).isEmpty, diff(a.toOption.get, want)))
  }

  test("malformed queries fail validation before any job, on both paths") {
    val f = fixture(110, seed = 18L)
    val bad = Seq(
      SearchQuery(queryEmbedding = Some(Array.fill(7)(0.5f))),
      SearchQuery(queryEmbedding = Some(Array.fill(64)(0.5f).updated(3, Float.NaN))),
      SearchQuery(queryEmbedding = Some(Array.fill(64)(0.5f).updated(0, Float.PositiveInfinity))),
      SearchQuery(queryText = Some("stars"), metadataFilters = Map("created_after" -> "not a date")),
      SearchQuery(queryText = Some("stars"), metadataFilters = Map("created_before_x" -> "2024-13-45")))
    val paths = Seq[(String, SearchQuery) => Either[ApiError, SearchResponse]](
      f.local.search, f.local.sparkSearch)
    for (search <- paths; t <- types; q <- bad) {
      var res: Either[ApiError, SearchResponse] = null
      val jobs = countJobs { res = search(f.libs(t), q) }
      assert(res.left.exists(_.isInstanceOf[ApiError.Validation]), s"$t $q: $res")
      assert(jobs == 0, s"$t: validation ran $jobs jobs")
    }
  }

  test("a library above the cap takes the Spark path; the resident budget is catalog-wide") {
    // a wide embedding puts the cap within reach of a small test:
    // rows x dim is what the cap bounds
    val dim = 8192
    val cat = new VectorCatalog(spark, HashingEmbedder(dim), dim)
    val local = new SearchService(cat)
    val capRows = LocalSearch.maxRows(dim)
    val r = new Random(19L)
    def library(name: String, n: Int): String = {
      val lib = cat.createLibrary(name, indexType = "exact").toOption.get.id
      val doc = cat.createDocument(lib, "d").toOption.get.id
      cat.createChunks(doc, Seq.fill(n)(text(r) -> meta(r)))
      lib
    }
    val under = library("under", capRows)
    val over = library("over", capRows + 1)
    val second = library("second", capRows)
    val third = library("third", capRows) // 3 x cap > the catalog budget
    assert(3 * LocalSearch.maxLibraryFloats > LocalSearch.maxResidentFloats)
    cat.compact()
    def jobsPerSearch(lib: String): Int = {
      local.search(lib, SearchQuery(queryText = Some("warm"), k = 3))
      countJobs(local.search(lib, SearchQuery(queryText = Some("stars orbit"), k = 5)))
    }
    assert(jobsPerSearch(under) == 0, "a library at the cap is resident")
    assert(jobsPerSearch(over) > 0, "a library one row over the cap takes the Spark path")
    assert(jobsPerSearch(second) == 0)
    assert(jobsPerSearch(third) > 0, "past the catalog budget: Spark path")
    for (lib <- Seq(under, over, second, third); _ <- 1 to 2) {
      val q = SearchQuery(queryText = Some(text(r)), k = 1 + r.nextInt(20),
        metadataFilters = if (r.nextBoolean()) Map("source" -> "web") else Map.empty)
      val (a, b) = (local.search(lib, q).toOption.get, local.sparkSearch(lib, q).toOption.get)
      assert(diff(a, b).isEmpty, diff(a, b))
    }
  }

  test("an over-cap library's rows never reach the driver, however many partitions its base has") {
    val dim = 8192
    val cat = new VectorCatalog(spark, HashingEmbedder(dim), dim)
    val capRows = LocalSearch.maxRows(dim)
    val r = new Random(24L)
    val lib = cat.createLibrary("wide", indexType = "exact").toOption.get.id
    val doc = cat.createDocument(lib, "d").toOption.get.id
    val small = cat.createLibrary("small", indexType = "exact").toOption.get.id
    val smallDoc = cat.createDocument(small, "d").toOption.get.id
    cat.createChunks(smallDoc, Seq.fill(40)(text(r) -> meta(r)))
    // each fold spreads the buffer over the base's partitions (at least
    // defaultParallelism): every partition alone holds fewer rows than
    // the cap
    (0 until 3).foreach { _ =>
      cat.createChunks(doc, Seq.fill(capRows / 2 + 1)(text(r) -> meta(r)))
      cat.compact()
    }
    assert(cat.chunks.rdd.getNumPartitions > 2)
    val rowBytes = dim * 4L
    val (jobs, bytes) = jobStats(assert(cat.residentView(lib).isEmpty))
    assert(jobs == 1, s"one count job, got $jobs")
    assert(bytes < rowBytes, s"$bytes result bytes reached the driver: rows were shipped")
    // known over the cap for this epoch: no further job
    assert(countJobs(assert(cat.residentView(lib).isEmpty)) == 0)
    // a library that fits on the same base comes back whole
    val got = cat.residentView(small).get
    assert(got.length == 40 && got.map(_.id).toSet ==
      cat.chunksByLibrary(small).collect().map(_.getString(0)).toSet)
  }

  test("searches racing writes and compact() each match one catalog version") {
    val cat = new VectorCatalog(spark)
    val r = new Random(21L)
    val lib = cat.createLibrary("race", indexType = "exact").toOption.get.id
    val doc = cat.createDocument(lib, "d").toOption.get.id
    cat.createChunks(doc, Seq.fill(40)(text(r) -> meta(r)))
    cat.compact()
    val q = cat.embedder.embedOne("stars orbit river")
    val k = 5
    def live(): Map[String, Array[Float]] =
      cat.chunksByLibrary(lib).collect().map(ChunkRow.fromRow).map(c => c.id -> c.embedding.get).toMap
    // every catalog version the writer produced, as each version's exact top-k
    def topK(rows: Map[String, Array[Float]]): Seq[(String, Long)] = {
      val qa = UnsafeArrayData.fromPrimitiveArray(q)
      rows.toSeq.map { case (id, e) =>
        (id, CosineSimilarity.eval(UnsafeArrayData.fromPrimitiveArray(e), true, qa, true))
      }.sortWith { case ((ia, sa), (ib, sb)) => if (sa != sb) sa > sb else LocalSearch.compareIds(ia, ib) < 0 }
        .take(k).map { case (id, s) => (id, bits(s)) }
    }
    val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[(String, Long)]]()
    versions.add(topK(live()))
    @volatile var writing = true
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Long)]]()
    val svc = new SearchService(cat)
    val paths = Seq[(String, SearchQuery) => Either[ApiError, SearchResponse]](svc.search, svc.sparkSearch)
    val readers = paths.map { search =>
      val t = new Thread(() => while (writing) {
        val res = search(lib, SearchQuery(queryEmbedding = Some(q), k = k)).toOption.get
        answers.add(res.results.map(h => (h.chunk.id, bits(h.similarityScore))))
      })
      t.start(); t
    }
    val model = mutable.LinkedHashMap.from(live())
    (0 until 120).foreach { i =>
      // the writer is the only mutator: record each version it makes
      // BEFORE the next mutation can happen
      r.nextInt(6) match {
        case 0 if model.nonEmpty =>
          val id = model.keys.toSeq(r.nextInt(model.size))
          cat.deleteChunk(id); model.remove(id)
        case 1 if model.nonEmpty =>
          val id = model.keys.toSeq(r.nextInt(model.size))
          model(id) = cat.updateChunk(id, text = Some(text(r))).toOption.get.embedding.get
        case 2 => cat.compact()
        case _ =>
          val c = cat.createChunk(doc, text(r), meta(r)).toOption.get
          model(c.id) = c.embedding.get
      }
      versions.add(topK(model.toMap))
      if (i % 30 == 0) Thread.sleep(50)
    }
    writing = false
    readers.foreach(_.join())
    assert(topK(model.toMap) == topK(live()), "the model tracks the catalog")
    assert(answers.size > 10, s"only ${answers.size} searches raced the writer")
    answers.forEach(a => assert(versions.contains(a), s"answer $a matches no catalog version"))
  }
}
