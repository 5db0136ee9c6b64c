package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.catalog.{IndexState, VectorCatalog}
import graft.functions.Embedder
import graft.model._
import graft.search.SearchService

/**
 * The reference's full REST surface (18 endpoints, app/main.py:54-57 +
 * SURVEY.md §2.12) as a typed Scala facade: one method per route, the
 * same 404/400 semantics via Either[ApiError, _]. `HttpApi` serves this
 * object over HTTP route-for-route; the engine itself is the Spark
 * catalog + search service underneath.
 */
final class VectorDb(spark: SparkSession, embedder: Embedder = Embedder.default,
    embeddingDim: Int = 64, durableRoot: Option[String] = None) {

  // With a durableRoot, every CRUD mutation routes through the
  // write-ahead-logged DurableCatalog (recovering prior state at
  // construction); reads and search always hit the underlying catalog.
  private val durable: Option[graft.catalog.DurableCatalog] =
    durableRoot.map(root =>
      graft.catalog.DurableCatalog.recover(spark, root, embedder, embeddingDim))
  val catalog: VectorCatalog =
    durable.map(_.inner).getOrElse(new VectorCatalog(spark, embedder, embeddingDim))
  private val searchService = new SearchService(catalog)

  /** Fold the WAL into a parquet snapshot (no-op without durableRoot). */
  def checkpoint(): Unit = durable.foreach(_.checkpoint())

  // -------- libraries (app/api/routes/libraries.py)
  /** POST /api/v1/libraries/ (:11-17) */
  def createLibrary(name: String, description: Option[String] = None,
      metadata: Map[String, String] = Map.empty, indexType: String = "lsh") =
    durable.fold(catalog.createLibrary(name, description, metadata, indexType))(
      _.createLibrary(name, description, metadata, indexType))
  /** GET /api/v1/libraries/ (:20-26) */
  def listLibraries(): Seq[LibraryRow] = catalog.listLibraries()
  /** GET /api/v1/libraries/{id} (:29-42) */
  def getLibrary(id: String) = catalog.getLibrary(id)
  /** PUT /api/v1/libraries/{id} (:45-59) */
  def updateLibrary(id: String, name: Option[String] = None,
      description: Option[String] = None, metadata: Option[Map[String, String]] = None) =
    durable.fold(catalog.updateLibrary(id, name, description, metadata))(
      _.updateLibrary(id, name, description, metadata))
  /** DELETE /api/v1/libraries/{id} — cascade (:62-75) */
  def deleteLibrary(id: String) =
    durable.fold(catalog.deleteLibrary(id))(_.deleteLibrary(id))
  /** POST /api/v1/libraries/{id}/index?index_type= (:78-103) */
  def indexLibrary(id: String, indexType: String): Either[ApiError, IndexState] =
    catalog.indexLibrary(id, indexType)

  // -------- documents (app/api/routes/documents.py)
  /** POST /api/v1/documents/?library_id= (:9-20) */
  def createDocument(libraryId: String, name: String,
      description: Option[String] = None, metadata: Map[String, String] = Map.empty) =
    durable.fold(catalog.createDocument(libraryId, name, description, metadata))(
      _.createDocument(libraryId, name, description, metadata))
  /** GET /api/v1/documents/{id} (:23-36) */
  def getDocument(id: String) = catalog.getDocument(id)
  /** PUT /api/v1/documents/{id} (:39-53) */
  def updateDocument(id: String, name: Option[String] = None,
      description: Option[String] = None, metadata: Option[Map[String, String]] = None) =
    durable.fold(catalog.updateDocument(id, name, description, metadata))(
      _.updateDocument(id, name, description, metadata))
  /** DELETE /api/v1/documents/{id} — cascade (:56-69) */
  def deleteDocument(id: String) =
    durable.fold(catalog.deleteDocument(id))(_.deleteDocument(id))
  /** GET /api/v1/documents/library/{library_id} (:72-80) */
  def documentsByLibrary(libraryId: String): Seq[DocumentRow] = catalog.listDocuments(libraryId)
  /** GET /api/v1/documents/library/{id}/filter?metadata_filter= (:82-103);
    * metadata_filter arrives as JSON (V8) */
  def documentsByMetadataJson(libraryId: String, metadataFilterJson: String) =
    JsonCodec.parseFilter(metadataFilterJson)
      .map(f => catalog.documentsByMetadata(libraryId, f))

  // -------- chunks (app/api/routes/chunks.py)
  /** POST /api/v1/chunks/?document_id= — embeds at create (:9-20) */
  def createChunk(documentId: String, text: String,
      metadata: Map[String, String] = Map.empty) =
    durable.fold(catalog.createChunk(documentId, text, metadata))(
      _.createChunk(documentId, text, metadata))
  /** GET /api/v1/chunks/{id} (:22-35) */
  def getChunk(id: String) = catalog.getChunk(id)
  /** PUT /api/v1/chunks/{id} — re-embeds on text change (:38-52) */
  def updateChunk(id: String, text: Option[String] = None,
      metadata: Option[Map[String, String]] = None) =
    durable.fold(catalog.updateChunk(id, text, metadata))(
      _.updateChunk(id, text, metadata))
  /** DELETE /api/v1/chunks/{id} (:55-68) */
  def deleteChunk(id: String) =
    durable.fold(catalog.deleteChunk(id))(_.deleteChunk(id))
  /** GET /api/v1/chunks/document/{document_id} (:71-79).
    * `includeEmbeddings=false` / `limit` / `offset` are scale-safe
    * ADDITIVE params (defaults = reference behavior: every chunk with
    * all its floats): the reference serializes all 1024 floats per
    * chunk in every listing (SURVEY §2.11), which at 100× is a driver
    * OOM — eliding drops the array before collect and paging bounds
    * the collected row count (stable `id` order, so pages tile). */
  def chunksByDocument(documentId: String, includeEmbeddings: Boolean = true,
      limit: Option[Int] = None, offset: Int = 0): Either[ApiError, Seq[ChunkRow]] =
    catalog.getDocument(documentId).map(_ =>
      collectChunks(catalog.chunksByDocument(documentId), includeEmbeddings, limit, offset))
  /** GET /api/v1/chunks/library/{library_id} (:82-90) */
  def chunksByLibrary(libraryId: String, includeEmbeddings: Boolean = true,
      limit: Option[Int] = None, offset: Int = 0): Either[ApiError, Seq[ChunkRow]] =
    catalog.getLibrary(libraryId).map(_ =>
      collectChunks(catalog.chunksByLibrary(libraryId), includeEmbeddings, limit, offset))
  /** GET /api/v1/chunks/library/{id}/filter?metadata_filter= (:92-113) */
  def chunksByMetadataJson(libraryId: String, metadataFilterJson: String,
      includeEmbeddings: Boolean = true, limit: Option[Int] = None,
      offset: Int = 0): Either[ApiError, Seq[ChunkRow]] =
    for {
      _ <- catalog.getLibrary(libraryId)
      f <- JsonCodec.parseFilter(metadataFilterJson)
    } yield collectChunks(catalog.chunksByMetadata(libraryId, f),
      includeEmbeddings, limit, offset)

  // -------- search (app/api/routes/search.py)
  /** POST /api/v1/search/libraries/{id} (:9-21) */
  def search(libraryId: String, query: SearchQuery): Either[ApiError, SearchResponse] =
    searchService.search(libraryId, query)
  /** GET /api/v1/search/libraries/{id}/simple?q=&k=&metadata_filter= (:24-54) */
  def simpleSearch(libraryId: String, q: String, k: Int = 5,
      metadataFilterJson: Option[String] = None): Either[ApiError, SearchResponse] =
    for {
      filters <- metadataFilterJson.map(JsonCodec.parseFilter)
        .getOrElse(Right(Map.empty[String, String]))
      resp <- searchService.search(libraryId,
        SearchQuery(queryText = Some(q), k = k, metadataFilters = filters))
    } yield resp

  // -------- ops (app/main.py)
  /** GET /health (:60-67) */
  def health(): Map[String, String] =
    Map("status" -> "healthy", "service" -> "graft-vector-db")
  /** Entity counts (storage.py:253-265 — defined there, never routed;
    * exposed here as a first-class op). */
  def stats(): Map[String, Long] = catalog.stats()
  /** GET / (:70-78) */
  def info(): Map[String, String] = Map(
    "service" -> "graft-vector-db",
    "engine" -> s"spark-${spark.version}",
    "embedding_dimension" -> embeddingDim.toString)

  private def collectChunks(df: org.apache.spark.sql.DataFrame,
      includeEmbeddings: Boolean = true, limit: Option[Int] = None,
      offset: Int = 0): Seq[ChunkRow] = {
    import org.apache.spark.sql.functions.{col, lit}
    // paging needs a total order or pages would overlap across calls;
    // sort only when a page is actually requested (limit/offset both
    // push into the plan — TakeOrdered / GlobalLimit, never a full
    // driver collect of the unpaged relation)
    val paged =
      if (limit.isEmpty && offset <= 0) df
      else {
        val sorted = df.orderBy(col("id"))
        val off = if (offset > 0) sorted.offset(offset) else sorted
        limit.fold(off)(off.limit)
      }
    val slim =
      if (includeEmbeddings) paged
      else paged.withColumn("embedding", lit(null).cast("array<float>"))
    slim.collect().map(ChunkRow.fromRow).toSeq
  }
}

/**
 * JSON boundary codec: metadata_filter query-string parsing (V8,
 * search.py:34-40 — bad JSON => 400) and ISO-8601 entity encoding (V9,
 * models.py:31-34). Uses the Jackson that ships with Spark — no extra
 * dependency.
 */
object JsonCodec {
  import com.fasterxml.jackson.databind.ObjectMapper

  private val mapper = new ObjectMapper()

  /** Parse {"key": value} filter JSON; scalar values stringified the way
    * the reference compares them (str() coercion, search_service.py:186). */
  def parseFilter(json: String): Either[ApiError, Map[String, String]] =
    try {
      val node = mapper.readTree(json)
      if (node == null || !node.isObject)
        Left(ApiError.Validation("Invalid JSON in metadata_filter parameter"))
      else Right(node.fieldNames().asScala.map { k =>
        val v = node.get(k)
        k -> (if (v.isTextual) v.asText else v.toString)
      }.toMap)
    } catch {
      case _: Exception => Left(ApiError.Validation("Invalid JSON in metadata_filter parameter"))
    }

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  /** ISO-8601 timestamp encoding (datetime.isoformat analog): real
    * microsecond fraction, thread-safe (DateTimeFormatter is immutable;
    * SimpleDateFormat's S is milliseconds and is not). */
  def isoTimestamp(ts: java.sql.Timestamp): String = isoFmt.format(ts.toInstant)

  /** Serialize a search response to the reference's JSON shape
    * (models.py:123-135): results with chunk + similarity_score +
    * distance, total_results, execution_time_ms; the HTTP layer passes
    * the parsed query so the response echoes it (SearchResponse.query,
    * models.py:130). */
  def searchResponseJson(resp: graft.model.SearchResponse,
      query: Option[graft.model.SearchQuery] = None): String = {
    val root = mapper.createObjectNode()
    query.foreach { q =>
      val qn = mapper.createObjectNode()
      q.queryText match { case Some(t) => qn.put("query_text", t); case None => qn.putNull("query_text") }
      q.queryEmbedding match {
        case Some(e) =>
          val a = mapper.createArrayNode()
          e.foreach(f => a.add(f.toDouble))
          qn.set[com.fasterxml.jackson.databind.JsonNode]("query_embedding", a)
        case None => qn.putNull("query_embedding")
      }
      qn.put("k", q.k)
      val mf = mapper.createObjectNode()
      q.metadataFilters.foreach { case (k, v) => mf.put(k, v) }
      qn.set[com.fasterxml.jackson.databind.JsonNode]("metadata_filters", mf)
      root.set[com.fasterxml.jackson.databind.JsonNode]("query", qn)
    }
    val results = mapper.createArrayNode()
    resp.results.foreach { r =>
      val o = mapper.createObjectNode()
      val c = mapper.createObjectNode()
      c.put("id", r.chunk.id)
      c.put("document_id", r.chunk.document_id)
      c.put("text", r.chunk.text)
      val emb = mapper.createArrayNode()
      r.chunk.embedding.foreach(_.foreach(f => emb.add(f.toDouble)))
      c.set("embedding", emb)
      val meta = mapper.createObjectNode()
      r.chunk.metadata.foreach { case (k, v) => meta.put(k, v) }
      c.set("metadata", meta)
      c.put("created_at", isoTimestamp(r.chunk.created_at))
      c.put("updated_at", isoTimestamp(r.chunk.updated_at))
      o.set("chunk", c)
      o.put("similarity_score", r.similarityScore)
      o.put("distance", r.distance)
      results.add(o)
    }
    root.set("results", results)
    root.put("total_results", resp.totalResults)
    root.put("execution_time_ms", resp.executionTimeMs)
    mapper.writeValueAsString(root)
  }
}
