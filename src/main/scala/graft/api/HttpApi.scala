package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.ByteBuffer
import java.nio.charset.CharacterCodingException
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.TextNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.catalog.IndexType
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
 * One server context and one route table (`route`): a path matches
 * whole segments only, so `/healthXYZ` or `/api/v1/libraries<id>` is a
 * 404. Each route decodes its request — body fields with the strict
 * types of the reference's pydantic v2 models (SURVEY.md §1.1), query
 * parameters with the same rules — before it calls the facade, so bad
 * input is a 400 whose `detail` names the field and starts no Spark
 * job. The reference's framework would emit 422 there: the one
 * deliberate status deviation (COVERAGE.md "Deliberate deviations").
 *
 * Error shape is FastAPI's `{"detail": msg}`; deletes return the
 * reference's exact `{"message": "... deleted successfully"}` strings.
 * Parity note: search maps a missing library to 400 (the reference
 * surfaces it as a ValueError, search_service.py:38-39 ->
 * search.py:18-19 — not 404).
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
    server.createContext("/", (ex: HttpExchange) => serve(ex))
    server.start()
  }

  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
  }

  /** True once `stop()` ran and every request thread has exited. */
  private[graft] def awaitStopped(timeoutMs: Long): Boolean =
    executor.awaitTermination(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)

  /** The route table: (method, path segments) to a reply. A route reads
    * each field of its request shape from `query` and `body` with its
    * type, as arguments of its facade call, so a bad one is a 400 before
    * the call. */
  private def route(method: String, path: List[String], query: Query, body: => Body): Response = {
    val (prefix, rest) = path.splitAt(2)
    (method, prefix, rest) match {
      case ("GET", Nil, _) => ok(obj(db.info().toSeq: _*))
      case ("GET", List("health"), _) => ok(obj(db.health().toSeq: _*))

      case ("POST", V1, List("libraries")) =>
        reply(db.createLibrary(body.required("name"), body.string("description"),
          body.strings("metadata").getOrElse(Map.empty), body.string("index_type").getOrElse("lsh")))(libraryJson)
      case ("GET", V1, List("libraries")) => ok(arr(db.listLibraries().map(libraryJson)))
      case ("GET", V1, List("libraries", id)) => reply(db.getLibrary(id))(libraryJson)
      case ("PUT", V1, List("libraries", id)) =>
        reply(db.updateLibrary(id, body.string("name"), body.string("description"), body.strings("metadata")))(libraryJson)
      case ("DELETE", V1, List("libraries", id)) => deleted(db.deleteLibrary(id), "Library")
      case ("POST", V1, List("libraries", id, "index")) =>
        // the reference accepts lsh|ivf here (libraries.py); the additional
        // types are additive, and the 400 lists them all (COVERAGE.md
        // "Deliberate deviations")
        val indexType = query.string("index_type").getOrElse("lsh")
        if (IndexType.parse(indexType).isLeft)
          Response(400, detail("Invalid index type. Must be one of: " + IndexType.names.mkString(", ")))
        else reply(db.indexLibrary(id, indexType))(_ =>
          obj("message" -> s"Library indexed successfully with $indexType index"))

      case ("POST", V1, List("documents")) =>
        reply(db.createDocument(query.required("library_id"), body.required("name"), body.string("description"),
          body.strings("metadata").getOrElse(Map.empty)))(documentJson)
      case ("GET", V1, List("documents", "library", id)) =>
        reply(db.getLibrary(id).map(_ => db.documentsByLibrary(id)))(ds => arr(ds.map(documentJson)))
      case ("GET", V1, List("documents", "library", id, "filter")) =>
        reply(db.documentsByMetadata(id, query.filter("metadata_filter")))(ds => arr(ds.map(documentJson)))
      case ("GET", V1, List("documents", id)) => reply(db.getDocument(id))(documentJson)
      case ("PUT", V1, List("documents", id)) =>
        reply(db.updateDocument(id, body.string("name"), body.string("description"), body.strings("metadata")))(documentJson)
      case ("DELETE", V1, List("documents", id)) => deleted(db.deleteDocument(id), "Document")

      case ("POST", V1, List("chunks")) =>
        reply(db.createChunk(query.required("document_id"), body.required("text"),
          body.strings("metadata").getOrElse(Map.empty)))(chunkJson)
      case ("GET", V1, List("chunks", "document", id)) =>
        val p = page(query)
        chunks(db.chunksByDocument(id, p.embeddings, p.limit, p.offset))
      case ("GET", V1, List("chunks", "library", id)) =>
        val p = page(query)
        chunks(db.chunksByLibrary(id, p.embeddings, p.limit, p.offset))
      case ("GET", V1, List("chunks", "library", id, "filter")) =>
        val p = page(query)
        chunks(db.chunksByMetadata(id, query.filter("metadata_filter"), p.embeddings, p.limit, p.offset))
      case ("GET", V1, List("chunks", id)) => reply(db.getChunk(id))(chunkJson)
      case ("PUT", V1, List("chunks", id)) =>
        reply(db.updateChunk(id, body.string("text"), body.strings("metadata")))(chunkJson)
      case ("DELETE", V1, List("chunks", id)) => deleted(db.deleteChunk(id), "Chunk")

      case ("POST", V1, List("search", "libraries", id)) =>
        val q = SearchQuery(body.string("query_text"), body.floats("query_embedding"), body.int("k", 5),
          body.strings("metadata_filters").getOrElse(Map.empty))
        searched(db.search(id, q), q)
      case ("GET", V1, List("search", "libraries", id, "simple")) =>
        val q = SearchQuery(Some(query.required("q")), k = query.int("k").getOrElse(5),
          metadataFilters = query.filter("metadata_filter"))
        searched(db.simpleSearch(id, q.queryText.get, q.k, q.metadataFilters), q)

      case _ => Response(404, detail("Not Found"))
    }
  }

  private def serve(ex: HttpExchange): Unit = {
    val startNanos = System.nanoTime()
    val response =
      try {
        val uri = ex.getRequestURI
        val bytes = ex.getRequestBody.readAllBytes()
        lazy val body = Body(bytes)
        route(ex.getRequestMethod, uri.getPath.split("/").filter(_.nonEmpty).toList, Query(uri.getRawQuery), body)
      } catch {
        case e: BadRequest => Response(400, detail(e.getMessage))
        case e: Throwable => Response(500, detail(String.valueOf(e.getMessage)))
      }
    val bytes = response.body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // reference middleware stamps every response with the handler's
    // wall time in SECONDS (str(float), main.py:36-42)
    ex.getResponseHeaders.set("X-Process-Time",
      ((System.nanoTime() - startNanos) / 1e9).toString)
    ex.sendResponseHeaders(response.status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

object HttpApi {
  private val mapper = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

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

  private final case class Response(status: Int, body: String)
  private final class BadRequest(msg: String) extends RuntimeException(msg)

  private def bad(msg: String): Nothing = throw new BadRequest(msg)

  /** The API's path prefix, `/api/v1`. */
  private val V1 = List("api", "v1")

  private def ok(body: String) = Response(200, body)

  /** A facade result as a reply: NotFound is a 404, Validation a 400. */
  private def reply[A](result: Either[ApiError, A])(json: A => String): Response = result match {
    case Right(a) => ok(json(a))
    case Left(ApiError.NotFound(m)) => Response(404, detail(m))
    case Left(ApiError.Validation(m)) => Response(400, detail(m))
  }

  private def deleted(result: Either[ApiError, Unit], entity: String): Response =
    reply(result)(_ => obj("message" -> s"$entity deleted successfully"))

  private def chunks(result: Either[ApiError, Seq[ChunkRow]]): Response =
    reply(result)(cs => arr(cs.map(chunkJson)))

  /** A search reply echoing the decoded query (models.py:130). Every
    * error, NotFound included, is a 400: the reference surfaces them as
    * a ValueError (search_service.py:38-39). */
  private def searched(result: Either[ApiError, SearchResponse], q: SearchQuery): Response =
    result.fold(e => Response(400, detail(e.message)), r => ok(JsonCodec.searchResponseJson(r, Some(q))))

  // ---- request decoding. The rules are the reference's pydantic v2 types
  // in lax mode: a string field must be a JSON string, an object field an
  // object, `k` a lax int; an absent or null optional field is None.

  /** A request body: one JSON object, UTF-8; a blank body reads as `{}`. */
  private final class Body(node: JsonNode) {
    private def field(f: String): Option[JsonNode] = Option(node.get(f)).filterNot(_.isNull)

    def string(f: String): Option[String] =
      field(f).map(v => if (v.isTextual) v.textValue else bad(s"$f must be a string"))

    def required(f: String): String = string(f).getOrElse(bad(s"Field required: $f"))

    /** An object, its values stringified by `JsonCodec.stringValues`. */
    def strings(f: String): Option[Map[String, String]] =
      field(f).map(v => if (v.isObject) JsonCodec.stringValues(v) else bad(s"$f must be an object"))

    /** An array of numbers (Jackson's `floatValue` would read a string
      * element as 0). */
    def floats(f: String): Option[Array[Float]] = field(f).map { v =>
      if (!v.isArray || !v.elements.asScala.forall(_.isNumber)) bad(s"$f must be an array of numbers")
      Array.tabulate(v.size)(i => v.get(i).floatValue)
    }

    /** A lax int, `default` when absent; null is a 400, as for pydantic's
      * non-optional `int`. */
    def int(f: String, default: Int): Int =
      Option(node.get(f)).fold(default)(v => laxInt(v).getOrElse(bad(s"$f must be an integer")))
  }

  private object Body {
    def apply(bytes: Array[Byte]): Body = {
      val text = utf8(bytes, "request body")
      if (text.isBlank) new Body(mapper.createObjectNode())
      else {
        val node = Try(mapper.readTree(text)).getOrElse(bad("Invalid JSON body"))
        if (node == null || !node.isObject) bad("Request body must be a JSON object")
        new Body(node)
      }
    }
  }

  /** Query parameters, percent-decoded strictly; a bare name has the
    * value "" and a repeated name keeps its last value. */
  private final class Query(params: Map[String, String]) {
    def string(p: String): Option[String] = params.get(p)

    def required(p: String): String = params.getOrElse(p, bad(s"Missing required query parameter: $p"))

    def int(p: String): Option[Int] =
      params.get(p).map(v => laxInt(TextNode.valueOf(v)).getOrElse(bad(s"$p must be an integer")))

    /** A JSON object filter (search.py:34-40), empty when absent. */
    def filter(p: String): Map[String, String] =
      params.get(p).fold(Map.empty[String, String])(JsonCodec.parseFilter(_).fold(e => bad(e.message), identity))
  }

  private object Query {
    def apply(raw: String): Query = new Query(Option(raw).toSeq.flatMap(_.split("&")).filter(_.nonEmpty).map { kv =>
      val parts = kv.split("=", 2)
      val name = unescape(parts(0), "query parameter name")
      name -> unescape(parts.lift(1).getOrElse(""), s"query parameter $name")
    }.toMap)
  }

  /** The chunk listings' ADDITIVE params (absent = reference behaviour:
    * every row with all its floats): include_embeddings=false elides the
    * float arrays, limit/offset page in stable id order. */
  private final case class Page(embeddings: Boolean, limit: Option[Int], offset: Int)

  private def page(query: Query): Page = {
    def count(p: String) = query.int(p).map(n => if (n < 0) bad(s"$p must be a non-negative integer") else n)
    Page(query.string("include_embeddings").forall {
        case "true" | "1" => true
        case "false" | "0" => false
        case _ => bad("include_embeddings must be true or false")
      }, count("limit"), count("offset").getOrElse(0))
  }

  /** A lax int: an integer, or a number, numeric string or bool that is
    * one, clamped to the Int range; "abc", 5.5, null or an array is None. */
  private def laxInt(v: JsonNode): Option[Int] = {
    val n =
      if (v.isNumber || v.isTextual) Try(BigDecimal(v.asText.trim)).toOption
      else if (v.isBoolean) Some(BigDecimal(if (v.booleanValue) 1 else 0))
      else None
    n.filter(_.isWhole).map(_.max(Int.MinValue).min(Int.MaxValue).toInt)
  }

  /** `bytes` as UTF-8; a malformed sequence is a 400 naming `what`. */
  private def utf8(bytes: Array[Byte], what: String): String =
    try UTF_8.newDecoder().decode(ByteBuffer.wrap(bytes)).toString
    catch { case _: CharacterCodingException => bad(s"Invalid UTF-8 in $what") }

  /** One percent-encoded query component (`+` is a space): the JDK
    * server hands it over as ISO-8859-1 characters, one per byte. */
  private def unescape(s: String, what: String): String =
    utf8(Try(URLDecoder.decode(s, ISO_8859_1)).getOrElse(bad(s"Invalid percent-encoding in $what"))
      .getBytes(ISO_8859_1), what)

  // ---- entity encoding (reference models.py shapes; the Scala engine
  // normalizes the hierarchy, so nested collections encode empty — the
  // reference's services populate them lazily per-route anyway)

  private def obj(fields: (String, String)*): String = {
    val root = mapper.createObjectNode()
    fields.foreach { case (k, v) => root.put(k, v) }
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

  private def libraryJson(l: LibraryRow): String = {
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

  private def documentJson(d: DocumentRow): String = {
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

  private def chunkJson(c: ChunkRow): String = {
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
    val spark = graft.GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val api = new HttpApi(new VectorDb(spark), port)
    api.start()
    println(s"graft HTTP API listening on http://127.0.0.1:${api.boundPort}")
    Thread.currentThread().join()
  }
}
