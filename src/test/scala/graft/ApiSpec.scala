package graft

import graft.api.{JsonCodec, VectorDb}
import graft.model._

/** The 18-endpoint facade end-to-end, mirroring tests/test_basic.py
  * scenarios plus the JSON filter boundary (V8/V9). */
class ApiSpec extends SparkSpec {

  test("full happy path: library -> document -> chunks -> index -> search (test_basic.py:175-223)") {
    val db = new VectorDb(spark)
    assert(db.health()("status") == "healthy")
    assert(db.info().contains("engine"))

    val lib = db.createLibrary("Programming", Some("code docs"),
      Map("category" -> "tech"), indexType = "lsh").toOption.get
    val doc = db.createDocument(lib.id, "Languages").toOption.get
    Seq(
      ("python is a programming language", Map("topic" -> "python")),
      ("java is also a programming language", Map("topic" -> "java")),
      ("cats are cute animals", Map("topic" -> "animals")),
      ("spark processes data at scale", Map("topic" -> "data"))
    ).foreach { case (t, m) => assert(db.createChunk(doc.id, t, m).isRight) }

    assert(db.indexLibrary(lib.id, "lsh").isRight)
    val resp = db.simpleSearch(lib.id, "programming", k = 2).toOption.get
    assert(resp.results.size <= 2 && resp.results.nonEmpty)
    assert(resp.executionTimeMs > 0)

    // chunk listing endpoints
    assert(db.chunksByDocument(doc.id).toOption.get.size == 4)
    assert(db.chunksByLibrary(lib.id).toOption.get.size == 4)
    assert(db.chunksByDocument("missing").isLeft)

    // filter endpoint with JSON boundary
    val filtered = db.chunksByMetadata(lib.id, JsonCodec.parseFilter("""{"topic": "python"}""").toOption.get).toOption.get
    assert(filtered.size == 1 && filtered.head.text.contains("python"))

    // index type switch (test_basic.py:225-268) + the additive hnsw tier
    assert(db.indexLibrary(lib.id, "ivf").isRight)
    assert(db.indexLibrary(lib.id, "exact").isRight)
    assert(db.indexLibrary(lib.id, "hnsw").isRight)
    assert(db.indexLibrary(lib.id, "ivfpq").isRight)
    assert(db.indexLibrary(lib.id, "bogus").isLeft)
  }

  test("hnsw index type: facade search equals exact search on a covered library") {
    val db = new VectorDb(spark)
    val lib = db.createLibrary("HnswLib", indexType = "hnsw").toOption.get
    val doc = db.createDocument(lib.id, "D").toOption.get
    val texts = (0 until 30).map(i => s"document number $i about topic ${i % 5}")
    texts.foreach(t => assert(db.createChunk(doc.id, t).isRight))
    assert(db.indexLibrary(lib.id, "hnsw").isRight)

    def ids(indexType: String): Seq[String] = {
      assert(db.indexLibrary(lib.id, indexType).isRight)
      db.simpleSearch(lib.id, "topic 3 document", k = 5).toOption.get
        .results.map(_.chunk.id)
    }
    // at this size the graph covers the whole library: candidate set
    // superset of true top-k => identical final ranking to exact
    assert(ids("hnsw") == ids("exact"))

    // post-filter semantics: a selective filter may shrink results but
    // never error (same contract as LSH/IVF)
    assert(db.indexLibrary(lib.id, "hnsw").isRight)
    val resp = db.search(lib.id, SearchQuery(queryText = Some("topic"),
      k = 3, metadataFilters = Map("nope" -> "x"))).toOption.get
    assert(resp.results.isEmpty)
  }

  test("ivfpq index type: trains past nlist, search matches exact on covered library") {
    import graft.model.GraftConfig
    val db = new VectorDb(spark)
    val lib = db.createLibrary("IvfPqLib", indexType = "ivfpq").toOption.get
    val doc = db.createDocument(lib.id, "D").toOption.get
    // below the nlist training threshold: index exists untrained,
    // searches return EMPTY (reference IVF semantics)
    (0 until 30).foreach(i => assert(db.createChunk(doc.id, s"early text $i").isRight))
    assert(db.indexLibrary(lib.id, "ivfpq").isRight)
    assert(db.simpleSearch(lib.id, "early text", k = 3).toOption.get.results.isEmpty)

    // cross the threshold (nlist = 100) and rebuild: trained now.
    // 3x nlist points (~3 per cell): at ~1 point per cell the
    // top-5-overlap assertion below is a coin flip — chunk UUIDs
    // differ per run, their sort order seeds different k-means picks,
    // and a query's neighbors land in probed cells only by luck.
    (30 until GraftConfig.ivfNlist * 3).foreach(i =>
      assert(db.createChunk(doc.id, s"document body number $i topic ${i % 7}").isRight))
    assert(db.indexLibrary(lib.id, "ivfpq").isRight)
    assert(db.catalog.indexState(lib.id).get.ivfpq.isDefined)

    val got = db.simpleSearch(lib.id, "topic 3 document body", k = 5)
      .toOption.get.results.map(_.chunk.id)
    assert(got.nonEmpty)
    // candidate fetch (50) with nprobe 5/100 cells may legitimately
    // miss some of exact's top-k; require real overlap, not equality
    assert(db.indexLibrary(lib.id, "exact").isRight)
    val exact = db.simpleSearch(lib.id, "topic 3 document body", k = 5)
      .toOption.get.results.map(_.chunk.id)
    assert(got.toSet.intersect(exact.toSet).size >= 2,
      s"ivfpq candidates disjoint from exact: $got vs $exact")
  }

  test("ivfpq index survives saveIndexes/loadIndex with identical search results") {
    import graft.model.GraftConfig
    val db = new VectorDb(spark)
    val lib = db.createLibrary("IvfPqPersist", indexType = "ivfpq").toOption.get
    val doc = db.createDocument(lib.id, "D").toOption.get
    (0 until GraftConfig.ivfNlist + 10).foreach(i =>
      assert(db.createChunk(doc.id, s"persisted body $i").isRight))
    assert(db.indexLibrary(lib.id, "ivfpq").isRight)
    val before = db.simpleSearch(lib.id, "persisted body 42", k = 5)
      .toOption.get.results.map(_.chunk.id)

    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString
    db.catalog.saveIndexes(path)
    db.catalog.indexLibrary(lib.id, "exact") // wipe in-memory state
    val restored = db.catalog.loadIndex(path, lib.id)
    assert(restored.isRight && restored.toOption.get.ivfpq.isDefined)
    val after = db.simpleSearch(lib.id, "persisted body 42", k = 5)
      .toOption.get.results.map(_.chunk.id)
    assert(before == after)
  }

  test("hnsw index survives saveIndexes/loadIndex with identical search results") {
    val db = new VectorDb(spark)
    val lib = db.createLibrary("HnswPersist", indexType = "hnsw").toOption.get
    val doc = db.createDocument(lib.id, "D").toOption.get
    (0 until 25).foreach(i => assert(db.createChunk(doc.id, s"persisted text $i").isRight))
    assert(db.indexLibrary(lib.id, "hnsw").isRight)
    val before = db.simpleSearch(lib.id, "persisted text 7", k = 5)
      .toOption.get.results.map(_.chunk.id)

    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-idx").toString
    db.catalog.saveIndexes(path)
    // wipe the in-memory index state, then restore from disk
    db.catalog.indexLibrary(lib.id, "exact")
    val restored = db.catalog.loadIndex(path, lib.id)
    assert(restored.isRight && restored.toOption.get.hnsw.isDefined)
    val after = db.simpleSearch(lib.id, "persisted text 7", k = 5)
      .toOption.get.results.map(_.chunk.id)
    assert(before == after)
  }

  test("bad filter JSON => 400-style validation error (search.py:34-40)") {
    assert(JsonCodec.parseFilter("not json").isLeft)
    assert(JsonCodec.parseFilter("[1,2]").isLeft)
    assert(JsonCodec.parseFilter("""{"a": 1, "b": "x", "c": true}""").toOption.get ==
      Map("a" -> "1", "b" -> "x", "c" -> "true")) // str() coercion
  }

  test("search response JSON shape (models.py:123-135)") {
    val db = new VectorDb(spark)
    val lib = db.createLibrary("L", indexType = "exact").toOption.get
    val doc = db.createDocument(lib.id, "D").toOption.get
    db.createChunk(doc.id, "hello world", Map("k" -> "v"))
    val resp = db.search(lib.id, SearchQuery(queryText = Some("hello"), k = 1)).toOption.get
    val json = JsonCodec.searchResponseJson(resp)
    assert(json.contains("\"total_results\":1"))
    assert(json.contains("\"similarity_score\""))
    assert(json.contains("\"execution_time_ms\""))
    assert(json.contains("\"metadata\":{\"k\":\"v\"}"))
    // ISO timestamps (V9)
    assert(json.contains("T") && json.contains("\"created_at\""))
  }
}
