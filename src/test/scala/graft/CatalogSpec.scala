package graft

import graft.catalog.VectorCatalog
import graft.model._
import graft.search.SearchService

/** CRUD + cascade + search e2e mirroring the reference's
  * tests/test_basic.py scenarios through the Scala facade. */
class CatalogSpec extends SparkSpec {

  private def freshCatalog = new VectorCatalog(spark)

  test("library CRUD with 404 semantics (test_basic.py:28-77)") {
    val cat = freshCatalog
    val lib = cat.createLibrary("Test Library", Some("desc"), Map("category" -> "test")).toOption.get
    assert(cat.getLibrary(lib.id).toOption.get.name == "Test Library")
    assert(cat.getLibrary("nope").left.toOption.exists(_.isInstanceOf[ApiError.NotFound]))
    val updated = cat.updateLibrary(lib.id, name = Some("Renamed")).toOption.get
    assert(updated.name == "Renamed")
    assert(updated.description.contains("desc")) // absent field unchanged
    assert(cat.deleteLibrary(lib.id).isRight)
    assert(cat.getLibrary(lib.id).isLeft)
  }

  test("invalid index type rejected (libraries.py:88-93)") {
    val cat = freshCatalog
    assert(cat.createLibrary("x", indexType = "bogus").isLeft)
  }

  test("document + chunk lifecycle; text update re-embeds (chunk_service.py:81-98)") {
    val cat = freshCatalog
    val lib = cat.createLibrary("L").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    val chunk = cat.createChunk(doc.id, "hello world", Map("topic" -> "greetings")).toOption.get
    assert(chunk.embedding.isDefined) // embed at insert (chunk_service.py:31)
    val emb1 = chunk.embedding.get.toSeq

    val updated = cat.updateChunk(chunk.id, text = Some("totally different text")).toOption.get
    assert(updated.embedding.get.toSeq != emb1) // re-embedded
    assert(updated.metadata == Map("topic" -> "greetings")) // untouched field

    val metaOnly = cat.updateChunk(chunk.id, metadata = Some(Map("topic" -> "other"))).toOption.get
    assert(metaOnly.embedding.get.toSeq == updated.embedding.get.toSeq) // no re-embed

    assert(cat.deleteChunk(chunk.id).isRight)
    assert(cat.getChunk(chunk.id).isLeft)
  }

  test("cascade delete: library -> documents -> chunks (storage.py:67-90)") {
    val cat = freshCatalog
    val lib = cat.createLibrary("L").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id, Seq(("a b c", Map.empty[String, String]), ("d e f", Map.empty[String, String])))
    assert(cat.chunksByLibrary(lib.id).count() == 2)
    cat.deleteLibrary(lib.id)
    assert(cat.chunks.count() == 0)
    assert(cat.listDocuments(lib.id).isEmpty)
  }

  test("cascade delete: document -> chunks (storage.py:137-161)") {
    val cat = freshCatalog
    val lib = cat.createLibrary("L").toOption.get
    val d1 = cat.createDocument(lib.id, "D1").toOption.get
    val d2 = cat.createDocument(lib.id, "D2").toOption.get
    cat.createChunk(d1.id, "keep me")
    cat.createChunk(d2.id, "delete me")
    cat.deleteDocument(d2.id)
    assert(cat.chunksByLibrary(lib.id).count() == 1)
  }

  test("duplicate-id create overwrites (dict-set semantics, storage.py:40)") {
    val cat = freshCatalog
    val l1 = cat.createLibrary("first", id = Some("fixed-id")).toOption.get
    val l2 = cat.createLibrary("second", id = Some("fixed-id")).toOption.get
    assert(cat.getLibrary("fixed-id").toOption.get.name == "second")
    assert(cat.listLibraries().count(_.id == "fixed-id") == 1)
  }

  test("search e2e: exact + k clamp + metadata filter (Q4 orchestration)") {
    val cat = freshCatalog
    val svc = new SearchService(cat)
    val lib = cat.createLibrary("L", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id, Seq(
      ("python programming language", Map("topic" -> "python")),
      ("machine learning with python", Map("topic" -> "ml")),
      ("cooking pasta recipes", Map("topic" -> "food")),
      ("deep learning neural networks", Map("topic" -> "ml"))))

    // text query; validates, embeds, searches
    val resp = svc.search(lib.id, SearchQuery(queryText = Some("python"), k = 2)).toOption.get
    assert(resp.results.size == 2)
    assert(resp.results.head.chunk.text.contains("python"))
    // scores sorted desc
    assert(resp.results.map(_.similarityScore).sliding(2).forall(s => s.head >= s.last))

    // k clamp: k<=0 -> 5 (config.py:62-68)
    val clamped = svc.search(lib.id, SearchQuery(queryText = Some("python"), k = -1)).toOption.get
    assert(clamped.results.size == 4) // all 4 chunks, k clamped to 5

    // metadata post-filter narrows universe
    val filtered = svc.search(lib.id, SearchQuery(queryText = Some("learning"), k = 5,
      metadataFilters = Map("topic" -> "ml"))).toOption.get
    assert(filtered.results.size == 2)
    assert(filtered.results.forall(_.chunk.metadata("topic") == "ml"))

    // neither text nor embedding -> validation error (models.py:116-120)
    assert(svc.search(lib.id, SearchQuery()).isLeft)
    // unknown library -> 404 (search_service.py:37-39)
    assert(svc.search("nope", SearchQuery(queryText = Some("x"))).isLeft)
  }

  test("LSH index search e2e with fallback (indexes.py:151-153)") {
    val cat = freshCatalog
    val svc = new SearchService(cat)
    val lib = cat.createLibrary("L", indexType = "lsh").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id, Seq(
      ("spark sql engine", Map.empty[String, String]),
      ("vector database search", Map.empty[String, String]),
      ("distributed query processing", Map.empty[String, String])))
    cat.indexLibrary(lib.id, "lsh")
    assert(cat.getLibrary(lib.id).toOption.get.is_indexed)
    val resp = svc.search(lib.id, SearchQuery(queryText = Some("vector search"), k = 2)).toOption.get
    assert(resp.results.nonEmpty) // bucket hit or full-scan fallback
  }

  test("IVF untrained => empty results (indexes.py:343)") {
    val cat = freshCatalog
    val svc = new SearchService(cat)
    val lib = cat.createLibrary("L", indexType = "ivf").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunk(doc.id, "only one chunk") // 1 < nlist=100 -> no training
    cat.indexLibrary(lib.id, "ivf")
    val resp = svc.search(lib.id, SearchQuery(queryText = Some("chunk"), k = 5)).toOption.get
    assert(resp.results.isEmpty)
  }

  test("index staleness tracked across mutations") {
    val cat = freshCatalog
    val lib = cat.createLibrary("L", indexType = "lsh").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunk(doc.id, "first")
    cat.indexLibrary(lib.id, "lsh")
    assert(!cat.indexStale(lib.id))
    cat.createChunk(doc.id, "second")
    assert(cat.indexStale(lib.id))
  }

  test("stats and relationship validation (storage.py:253-306)") {
    val cat = freshCatalog
    val lib = cat.createLibrary("L").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunk(doc.id, "x")
    val s = cat.stats()
    assert(s("libraries") == 1 && s("documents") == 1 && s("chunks") == 1)
    val v = cat.validateRelationships()
    assert(v("orphan_chunks") == 0 && v("orphan_documents") == 0)
  }

  test("incremental index refresh: append + delete without retrain (M1-M4/M8)") {
    val cat = freshCatalog
    val svc = new SearchService(cat)
    val lib = cat.createLibrary("L", indexType = "lsh").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    val c1 = cat.createChunk(doc.id, "alpha beta gamma").toOption.get
    cat.indexLibrary(lib.id, "lsh")
    val sigCount1 = cat.indexState(lib.id).get.signatures.get.count()

    // append a chunk, delete the first; refresh reconciles the delta
    val c2 = cat.createChunk(doc.id, "delta epsilon zeta").toOption.get
    cat.deleteChunk(c1.id)
    assert(cat.indexStale(lib.id))
    cat.refreshIndex(lib.id)
    assert(!cat.indexStale(lib.id))
    val sigs = cat.indexState(lib.id).get.signatures.get
    val ids = sigs.select("id").distinct().collect().map(_.getString(0)).toSet
    assert(ids == Set(c2.id)) // c1 removed, c2 added
    assert(sigs.count() == sigCount1) // same per-chunk signature count

    // search through the refreshed index finds the new chunk
    val resp = svc.search(lib.id,
      SearchQuery(queryText = Some("epsilon"), k = 1)).toOption.get
    assert(resp.results.head.chunk.id == c2.id)
  }

  test("IVF refresh assigns new chunks with existing centroids (never retrains, indexes.py:280)") {
    val cat = freshCatalog
    val lib = cat.createLibrary("L", indexType = "ivf").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    // enough chunks to trigger training (nlist=100 is the config; use
    // catalog's trainIfReady path via indexLibrary with >=100 chunks)
    val texts = (1 to 110).map(i => (s"document number $i with words", Map.empty[String, String]))
    cat.createChunks(doc.id, texts)
    cat.indexLibrary(lib.id, "ivf")
    val st1 = cat.indexState(lib.id).get
    assert(st1.ivf.isDefined)
    val centroidsBefore = st1.ivf.get.centroids.map(_.toSeq)

    cat.createChunk(doc.id, "a brand new chunk arriving later")
    cat.refreshIndex(lib.id)
    val st2 = cat.indexState(lib.id).get
    assert(st2.ivf.get.centroids.map(_.toSeq).toSeq == centroidsBefore.toSeq) // unchanged
    assert(st2.assigned.get.count() == 111)
  }

  test("log folds do not grow the base's partition count") {
    val cat = freshCatalog
    val lib = cat.createLibrary("folds", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    def fold(i: Int): Int = {
      cat.createChunks(doc.id, Seq.fill(8)(s"fold $i chunk" -> Map.empty[String, String]))
      cat.compact()
      cat.chunks.rdd.getNumPartitions
    }
    val bound = math.max(spark.sparkContext.defaultParallelism, fold(0))
    (1 until 50).foreach { i =>
      val n = fold(i)
      assert(n <= bound, s"fold $i left $n partitions, more than $bound")
    }
    assert(cat.chunks.count() == 50 * 8)
  }
}
