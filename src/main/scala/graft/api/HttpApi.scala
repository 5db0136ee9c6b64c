package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model._

/**
 * The reference's HTTP surface (app/main.py:54-57 + app/api/routes/)
 * as a runnable server over the `VectorDb` facade — route-for-route,
 * status-for-status, message-for-message:
 *
 *   /api/v1/libraries   POST / GET / GET/{id} PUT/{id} DELETE/{id}
 *                       POST/{id}/index?index_type=   (libraries.py)
 *   /api/v1/documents   POST?library_id= GET/{id} PUT/{id} DELETE/{id}
 *                       GET/library/{id} GET/library/{id}/filter  (documents.py)
 *   /api/v1/chunks      POST?document_id= GET/{id} PUT/{id} DELETE/{id}
 *                       GET/document/{id} GET/library/{id}
 *                       GET/library/{id}/filter               (chunks.py)
 *   /api/v1/search      POST/libraries/{id} GET/libraries/{id}/simple (search.py)
 *   /health, /          (main.py:60-78)
 *
 * Error shape is FastAPI's `{"detail": msg}`; deletes return the
 * reference's exact `{"message": "... deleted successfully"}` strings.
 * Parity notes: POST search maps a missing library to 400 (the
 * reference surfaces it as a ValueError, search_service.py:38-39 ->
 * search.py:18-19 — not 404); malformed/missing-field bodies return
 * 400 with a detail (the reference's framework would emit 422 — the
 * one deliberate deviation, kept simple since no framework is in play).
 *
 * Built on the JDK's HttpServer: zero added dependencies, and the
 * engine underneath is the same Spark catalog — the server is a codec,
 * not a second implementation. `stop()` also shuts the request pool
 * down, so a JVM that served HTTP can exit.
 */
final class HttpApi(db: VectorDb, port: Int = 0) {
  import HttpApi._

  private val server = createServer(port)
  private val executor = java.util.concurrent.Executors.newFixedThreadPool(8, {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    (r: Runnable) => new Thread(r, s"graft-http-${server.getAddress.getPort}-${n.incrementAndGet()}")
  })
  server.setExecutor(executor)

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    server.createContext("/api/v1/libraries", (ex: HttpExchange) => safely(ex)(libraries))
    server.createContext("/api/v1/documents", (ex: HttpExchange) => safely(ex)(documents))
    server.createContext("/api/v1/chunks", (ex: HttpExchange) => safely(ex)(chunks))
    server.createContext("/api/v1/search", (ex: HttpExchange) => safely(ex)(search))
    server.createContext("/health", (ex: HttpExchange) => safely(ex) { (_, _, _) =>
      respond(200, obj(db.health().toSeq: _*))
    })
    server.createContext("/", (ex: HttpExchange) => safely(ex) { (_, path, _) =>
      if (path.isEmpty) respond(200, obj(db.info().toSeq: _*))
      else respond(404, detail("Not Found"))
    })
    server.start()
  }

  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
  }

  /** True once `stop()` ran and every request thread has exited. */
  private[graft] def awaitStopped(timeoutMs: Long): Boolean =
    executor.awaitTermination(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)

  // ---- route handlers: (method, path segments under the context, body)

  private def libraries(method: String, path: List[String], body: String): Response =
    (method, path) match {
      case ("POST", Nil) =>
        val node = parse(body)
        val name = requireText(node, "name")
        db.createLibrary(name, optText(node, "description"),
            metaOf(node), optText(node, "index_type").getOrElse("lsh"))
          .fold(err, lib => respond(200, libraryJson(lib)))
      case ("GET", Nil) =>
        respond(200, arr(db.listLibraries().map(libraryJson)))
      case ("GET", id :: Nil) =>
        db.getLibrary(id).fold(err, lib => respond(200, libraryJson(lib)))
      case ("PUT", id :: Nil) =>
        val node = parse(body)
        db.updateLibrary(id, optText(node, "name"), optText(node, "description"),
            optMeta(node)).fold(err, lib => respond(200, libraryJson(lib)))
      case ("DELETE", id :: Nil) =>
        db.deleteLibrary(id).fold(err,
          _ => respond(200, obj("message" -> "Library deleted successfully")))
      // POST /{id}/index is intercepted in dispatch (needs query string)
      case _ => respond(404, detail("Not Found"))
    }

  private def librariesIndex(id: String, query: Map[String, String]): Response = {
    val indexType = query.getOrElse("index_type", "lsh")
    // reference accepts lsh|ivf here (libraries.py); the additional
    // types are additive — reference clients' requests behave
    // identically. DOCUMENTED DEVIATION (COVERAGE.md "Deliberate
    // deviations"): inputs the reference rejected with 400 (e.g.
    // "exact", "flat") are now valid index types here, and the 400
    // message text lists the full whitelist — a client asserting the
    // reference's exact rejection contract for those strings will see
    // different behavior. Validation delegates to IndexType.parse (ONE
    // whitelist), the message derives from IndexType.names.
    if (graft.catalog.IndexType.parse(indexType).isLeft)
      respond(400, detail("Invalid index type. Must be one of: " +
        graft.catalog.IndexType.names.mkString(", ")))
    else db.indexLibrary(id, indexType).fold(err,
      _ => respond(200, obj("message" -> s"Library indexed successfully with $indexType index")))
  }

  private def documents(method: String, path: List[String], body: String): Response =
    (method, path) match {
      // POST ?library_id= is intercepted in dispatch (needs query string)
      case ("GET", "library" :: libId :: Nil) =>
        db.getLibrary(libId).fold(err,
          _ => respond(200, arr(db.documentsByLibrary(libId).map(documentJson))))
      case ("GET", id :: Nil) =>
        db.getDocument(id).fold(err, d => respond(200, documentJson(d)))
      case ("PUT", id :: Nil) =>
        val node = parse(body)
        db.updateDocument(id, optText(node, "name"), optText(node, "description"),
            optMeta(node)).fold(err, d => respond(200, documentJson(d)))
      case ("DELETE", id :: Nil) =>
        db.deleteDocument(id).fold(err,
          _ => respond(200, obj("message" -> "Document deleted successfully")))
      case _ => respond(404, detail("Not Found"))
    }

  private def chunks(method: String, path: List[String], body: String): Response =
    (method, path) match {
      // GET document/{id} and library/{id} listings are intercepted in
      // dispatch (they take include_embeddings/limit/offset params)
      case ("GET", id :: Nil) =>
        db.getChunk(id).fold(err, c => respond(200, chunkJson(c)))
      case ("PUT", id :: Nil) =>
        val node = parse(body)
        db.updateChunk(id, optText(node, "text"), optMeta(node))
          .fold(err, c => respond(200, chunkJson(c)))
      case ("DELETE", id :: Nil) =>
        db.deleteChunk(id).fold(err,
          _ => respond(200, obj("message" -> "Chunk deleted successfully")))
      case _ => respond(404, detail("Not Found"))
    }

  private def search(method: String, path: List[String], body: String): Response =
    (method, path) match {
      case ("POST", "libraries" :: libId :: Nil) =>
        val node = parse(body)
        if (node != null && node.hasNonNull("metadata_filters") && !node.get("metadata_filters").isObject)
          throw new BadRequest("metadata_filters must be an object")
        val q = SearchQuery(
          queryText = optText(node, "query_text"),
          queryEmbedding = optFloats(node, "query_embedding"),
          k = if (node != null && node.has("k")) node.get("k").asInt(5) else 5,
          metadataFilters = Option(node).map(n => metaAt(n, "metadata_filters")).getOrElse(Map.empty))
        db.search(libId, q).fold(
          // reference parity: search surfaces NotFound as ValueError -> 400
          // (search_service.py:38-39), unlike the entity routes' 404s
          e => respond(400, detail(e.message)),
          resp => respond(200, JsonCodec.searchResponseJson(resp, Some(q))))
      case _ => respond(404, detail("Not Found"))
    }

  private def searchSimple(libId: String, query: Map[String, String]): Response =
    query.get("q") match {
      case None => respond(400, detail("Missing required query parameter: q"))
      case Some(q) =>
        val k = query.get("k").flatMap(_.toIntOption).getOrElse(5)
        db.simpleSearch(libId, q, k, query.get("metadata_filter")).fold(
          {
            case ApiError.Validation(m) => respond(400, detail(m))
            case e => respond(400, detail(e.message)) // parity: ValueError -> 400
          },
          resp => respond(200, JsonCodec.searchResponseJson(resp,
            Some(SearchQuery(queryText = Some(q), k = k)))))
    }

  private def documentsCreate(query: Map[String, String], body: String): Response =
    query.get("library_id") match {
      case None => respond(400, detail("Missing required query parameter: library_id"))
      case Some(libId) =>
        val node = parse(body)
        val name = requireText(node, "name")
        db.createDocument(libId, name, optText(node, "description"), metaOf(node))
          .fold(err, d => respond(200, documentJson(d)))
    }

  private def chunksCreate(query: Map[String, String], body: String): Response =
    query.get("document_id") match {
      case None => respond(400, detail("Missing required query parameter: document_id"))
      case Some(docId) =>
        val node = parse(body)
        val text = requireText(node, "text")
        db.createChunk(docId, text, metaOf(node))
          .fold(err, c => respond(200, chunkJson(c)))
    }

  private def documentsFilter(libId: String, query: Map[String, String]): Response =
    query.get("metadata_filter") match {
      case None => db.getLibrary(libId).fold(err,
        _ => respond(200, arr(db.documentsByLibrary(libId).map(documentJson))))
      case Some(json) =>
        db.getLibrary(libId).fold(err, _ =>
          db.documentsByMetadataJson(libId, json)
            .fold(err, ds => respond(200, arr(ds.map(documentJson)))))
    }

  /** Scale-safe ADDITIVE listing params (absent = reference behavior:
    * full rows with all embedding floats): include_embeddings=false
    * elides the float arrays, limit/offset page in stable id order. */
  private def pageParams(query: Map[String, String]): (Boolean, Option[Int], Int) = (
    !query.get("include_embeddings").exists(v => v == "false" || v == "0"),
    query.get("limit").flatMap(_.toIntOption).filter(_ >= 0),
    query.get("offset").flatMap(_.toIntOption).filter(_ > 0).getOrElse(0))

  private def chunksByDocument(docId: String, query: Map[String, String]): Response = {
    val (inc, lim, off) = pageParams(query)
    db.chunksByDocument(docId, inc, lim, off)
      .fold(err, cs => respond(200, arr(cs.map(chunkJson))))
  }

  private def chunksByLibrary(libId: String, query: Map[String, String]): Response = {
    val (inc, lim, off) = pageParams(query)
    db.chunksByLibrary(libId, inc, lim, off)
      .fold(err, cs => respond(200, arr(cs.map(chunkJson))))
  }

  private def chunksFilter(libId: String, query: Map[String, String]): Response = {
    val (inc, lim, off) = pageParams(query)
    query.get("metadata_filter") match {
      case None => db.chunksByLibrary(libId, inc, lim, off)
        .fold(err, cs => respond(200, arr(cs.map(chunkJson))))
      case Some(json) => db.chunksByMetadataJson(libId, json, inc, lim, off)
        .fold(err, cs => respond(200, arr(cs.map(chunkJson))))
    }
  }

  // ---- dispatch plumbing

  private def safely(ex: HttpExchange)(
      handler: (String, List[String], String) => Response): Unit = {
    val startNanos = System.nanoTime()
    val response: Response =
      try {
        val ctxPath = ex.getHttpContext.getPath.stripSuffix("/")
        val raw = ex.getRequestURI.getPath
        val segs = raw.stripPrefix(ctxPath).split("/").filter(_.nonEmpty).toList
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val query = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
          .filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
          }.toMap
        // query-string routes bypass the per-context handler signature
        (ex.getRequestMethod, ctxPath, segs) match {
          case ("POST", "/api/v1/libraries", id :: "index" :: Nil) => librariesIndex(id, query)
          case ("POST", "/api/v1/documents", Nil) => documentsCreate(query, body)
          case ("POST", "/api/v1/chunks", Nil) => chunksCreate(query, body)
          case ("GET", "/api/v1/documents", "library" :: id :: "filter" :: Nil) =>
            documentsFilter(id, query)
          case ("GET", "/api/v1/chunks", "document" :: id :: Nil) =>
            chunksByDocument(id, query)
          case ("GET", "/api/v1/chunks", "library" :: id :: Nil) =>
            chunksByLibrary(id, query)
          case ("GET", "/api/v1/chunks", "library" :: id :: "filter" :: Nil) =>
            chunksFilter(id, query)
          case ("GET", "/api/v1/search", "libraries" :: id :: "simple" :: Nil) =>
            searchSimple(id, query)
          case (m, _, _) => handler(m, segs, body)
        }
      } catch {
        case e: BadRequest => respond(400, detail(e.getMessage))
        case e: Throwable => respond(500, detail(String.valueOf(e.getMessage)))
      }
    val bytes = response.body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // reference middleware stamps every response with the handler's
    // wall time in SECONDS (str(float), main.py:36-42)
    ex.getResponseHeaders.set("X-Process-Time",
      ((System.nanoTime() - startNanos) / 1e9).toString)
    ex.sendResponseHeaders(response.status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def err(e: ApiError): Response = e match {
    case ApiError.NotFound(m) => respond(404, detail(m))
    case ApiError.Validation(m) => respond(400, detail(m))
  }
}

object HttpApi {
  private val mapper = new ObjectMapper()

  /** The JDK server writes the headers and the body of a reply as two
    * packets; without TCP_NODELAY the body waits out the peer's delayed
    * ACK (~40 ms on Linux loopback) on every response. The property is
    * read once, when the first server is created, so it is set here
    * unless the user chose a value. */
  private def createServer(port: Int): HttpServer = {
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  final case class Response(status: Int, body: String)
  final class BadRequest(msg: String) extends RuntimeException(msg)

  private def respond(status: Int, body: String) = Response(status, body)

  // ---- body parsing (reference models.py shapes)

  private def parse(body: String): JsonNode =
    if (body == null || body.trim.isEmpty) null
    else
      try mapper.readTree(body)
      catch { case _: Exception => throw new BadRequest("Invalid JSON body") }

  private def requireText(node: JsonNode, field: String): String = {
    if (node == null || !node.hasNonNull(field))
      throw new BadRequest(s"Field required: $field")
    node.get(field).asText()
  }

  private def optText(node: JsonNode, field: String): Option[String] =
    Option(node).filter(_.hasNonNull(field)).map(_.get(field).asText())

  /** metadata object; scalar values stringified the way the reference
    * compares them (str() coercion — same rule as JsonCodec.parseFilter). */
  private def metaAt(node: JsonNode, field: String): Map[String, String] =
    if (node == null || !node.hasNonNull(field) || !node.get(field).isObject) Map.empty
    else {
      val m = node.get(field)
      m.fieldNames().asScala.map { k =>
        val v = m.get(k)
        k -> (if (v.isTextual) v.asText else v.toString)
      }.toMap
    }

  private def metaOf(node: JsonNode): Map[String, String] = metaAt(node, "metadata")

  private def optMeta(node: JsonNode): Option[Map[String, String]] =
    if (node != null && node.hasNonNull("metadata")) Some(metaOf(node)) else None

  /** A JSON array of numbers; any other shape or element is a 400
    * (Jackson's `floatValue` would read a string element as 0). */
  private def optFloats(node: JsonNode, field: String): Option[Array[Float]] =
    if (node == null || !node.hasNonNull(field)) None
    else {
      val a = node.get(field)
      if (!a.isArray || (0 until a.size()).exists(i => !a.get(i).isNumber))
        throw new BadRequest(s"$field must be an array of numbers")
      Some((0 until a.size()).map(i => a.get(i).floatValue()).toArray)
    }

  // ---- entity encoding (reference models.py shapes; the Scala engine
  // normalizes the hierarchy, so nested collections encode empty — the
  // reference's services populate them lazily per-route anyway)

  private def obj(fields: (String, Any)*): String = {
    val root = mapper.createObjectNode()
    fields.foreach {
      case (k, v: String) => root.put(k, v)
      case (k, v: Long) => root.put(k, v)
      case (k, v: Int) => root.put(k, v)
      case (k, v) => root.put(k, String.valueOf(v))
    }
    mapper.writeValueAsString(root)
  }

  private def arr(items: Seq[String]): String =
    items.mkString("[", ",", "]")

  private def detail(msg: String): String = obj("detail" -> msg)

  private def metaNode(m: Map[String, String]) = {
    val n = mapper.createObjectNode()
    m.foreach { case (k, v) => n.put(k, v) }
    n
  }

  def libraryJson(l: LibraryRow): String = {
    val n = mapper.createObjectNode()
    n.put("id", l.id)
    n.put("name", l.name)
    l.description match { case Some(d) => n.put("description", d); case None => n.putNull("description") }
    n.set[JsonNode]("documents", mapper.createArrayNode())
    n.set[JsonNode]("metadata", metaNode(l.metadata))
    n.put("created_at", JsonCodec.isoTimestamp(l.created_at))
    n.put("updated_at", JsonCodec.isoTimestamp(l.updated_at))
    n.put("is_indexed", l.is_indexed)
    mapper.writeValueAsString(n)
  }

  def documentJson(d: DocumentRow): String = {
    val n = mapper.createObjectNode()
    n.put("id", d.id)
    n.put("name", d.name)
    d.description match { case Some(x) => n.put("description", x); case None => n.putNull("description") }
    n.set[JsonNode]("chunks", mapper.createArrayNode())
    n.set[JsonNode]("metadata", metaNode(d.metadata))
    n.put("created_at", JsonCodec.isoTimestamp(d.created_at))
    n.put("updated_at", JsonCodec.isoTimestamp(d.updated_at))
    n.put("library_id", d.library_id)
    mapper.writeValueAsString(n)
  }

  def chunkJson(c: ChunkRow): String = {
    val n = mapper.createObjectNode()
    n.put("id", c.id)
    n.put("text", c.text)
    c.embedding match {
      case Some(e) =>
        val a = mapper.createArrayNode()
        e.foreach(f => a.add(f.toDouble))
        n.set[JsonNode]("embedding", a)
      case None => n.putNull("embedding")
    }
    n.set[JsonNode]("metadata", metaNode(c.metadata))
    n.put("created_at", JsonCodec.isoTimestamp(c.created_at))
    n.put("updated_at", JsonCodec.isoTimestamp(c.updated_at))
    n.put("document_id", c.document_id)
    mapper.writeValueAsString(n)
  }

  /** Run the server against a local session (manual drive / demo). */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.flatMap(_.toIntOption).getOrElse(8080)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val api = new HttpApi(new VectorDb(spark), port)
    api.start()
    println(s"graft HTTP API listening on http://127.0.0.1:${api.boundPort}")
    Thread.currentThread().join()
  }
}
