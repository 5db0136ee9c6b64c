package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.api.{HttpApi, VectorDb}

/** Drives the full 18-endpoint HTTP surface end-to-end over a live
  * server: entity lifecycle, filters, index + search, reference status
  * codes and message strings (routes cited in HttpApi scaladoc). */
class HttpApiSpec extends SparkSpec {

  private lazy val mapper = new ObjectMapper()
  private lazy val client = HttpClient.newHttpClient()
  private lazy val api = {
    val a = new HttpApi(new VectorDb(spark))
    a.start()
    a
  }
  private def base = s"http://127.0.0.1:${api.boundPort}"

  private def request(method: String, path: String, body: String = ""): HttpResponse[String] = {
    val b = HttpRequest.newBuilder().uri(URI.create(s"$base$path"))
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }).build()
    client.send(req, HttpResponse.BodyHandlers.ofString())
  }
  private def json(r: HttpResponse[String]): JsonNode = mapper.readTree(r.body)

  test("full entity lifecycle over HTTP: library -> document -> chunk -> search") {
    // create library (POST body shape of models.py LibraryCreate)
    val lib = json(request("POST", "/api/v1/libraries",
      """{"name":"http lib","description":"d","metadata":{"team":"infra","v":1},"index_type":"lsh"}"""))
    assert(lib.get("name").asText == "http lib")
    assert(lib.get("metadata").get("v").asText == "1") // str() coercion
    assert(!lib.get("is_indexed").asBoolean)
    val libId = lib.get("id").asText

    // list + get
    assert(json(request("GET", "/api/v1/libraries")).isArray)
    assert(json(request("GET", s"/api/v1/libraries/$libId")).get("id").asText == libId)

    // update (PATCH semantics: absent fields unchanged)
    val upd = json(request("PUT", s"/api/v1/libraries/$libId", """{"name":"renamed"}"""))
    assert(upd.get("name").asText == "renamed" && upd.get("description").asText == "d")

    // document under it (query-string parent, body DocumentCreate)
    val doc = json(request("POST", s"/api/v1/documents?library_id=$libId",
      """{"name":"doc1","metadata":{"lang":"en"}}"""))
    val docId = doc.get("id").asText
    assert(doc.get("library_id").asText == libId)

    // chunks (embeds at create)
    val c1 = json(request("POST", s"/api/v1/chunks?document_id=$docId",
      """{"text":"the quick brown fox","metadata":{"tag":"a"}}"""))
    assert(c1.get("embedding").isArray && c1.get("embedding").size > 0)
    val c1Id = c1.get("id").asText
    request("POST", s"/api/v1/chunks?document_id=$docId",
      """{"text":"a lazy dog sleeps","metadata":{"tag":"b"}}""")

    // listings
    assert(json(request("GET", s"/api/v1/chunks/document/$docId")).size == 2)
    assert(json(request("GET", s"/api/v1/chunks/library/$libId")).size == 2)
    assert(json(request("GET", s"/api/v1/documents/library/$libId")).size == 1)

    // metadata filter (JSON in query string, V8)
    val filtered = json(request("GET",
      s"/api/v1/chunks/library/$libId/filter?metadata_filter=%7B%22tag%22%3A%22a%22%7D"))
    assert(filtered.size == 1 && filtered.get(0).get("id").asText == c1Id)

    // index + search
    val idx = json(request("POST", s"/api/v1/libraries/$libId/index?index_type=lsh"))
    assert(idx.get("message").asText == "Library indexed successfully with lsh index")
    val resp = json(request("POST", s"/api/v1/search/libraries/$libId",
      """{"query_text":"quick fox","k":2}"""))
    assert(resp.get("results").size > 0)
    assert(resp.get("query").get("query_text").asText == "quick fox") // echo, models.py:130
    assert(resp.get("results").get(0).get("chunk").get("id").asText == c1Id)
    assert(resp.has("execution_time_ms") && resp.has("total_results"))

    // simple search (GET form)
    val simple = json(request("GET",
      s"/api/v1/search/libraries/$libId/simple?q=lazy+dog&k=1"))
    assert(simple.get("results").size == 1)

    // chunk update re-embeds; delete messages match the reference verbatim
    val updChunk = json(request("PUT", s"/api/v1/chunks/$c1Id", """{"text":"new text"}"""))
    assert(updChunk.get("text").asText == "new text")
    assert(json(request("DELETE", s"/api/v1/chunks/$c1Id"))
      .get("message").asText == "Chunk deleted successfully")
    assert(json(request("DELETE", s"/api/v1/documents/$docId"))
      .get("message").asText == "Document deleted successfully")
    assert(json(request("DELETE", s"/api/v1/libraries/$libId"))
      .get("message").asText == "Library deleted successfully")
    // cascade: library gone => 404
    assert(request("GET", s"/api/v1/libraries/$libId").statusCode == 404)
  }

  test("status codes: 404 entities, 400 bad input, search's ValueError parity") {
    assert(request("GET", "/api/v1/libraries/nope").statusCode == 404)
    assert(request("GET", "/api/v1/documents/nope").statusCode == 404)
    assert(request("GET", "/api/v1/chunks/nope").statusCode == 404)
    assert(json(request("GET", "/api/v1/chunks/nope")).get("detail").asText
      == "Chunk nope not found")

    // invalid index type -> 400 (libraries.py:88-93)
    val lib = json(request("POST", "/api/v1/libraries", """{"name":"x"}"""))
    val libId = lib.get("id").asText
    assert(request("POST", s"/api/v1/libraries/$libId/index?index_type=bogus").statusCode == 400)

    // bad filter JSON -> 400 (chunks.py:106)
    assert(request("GET",
      s"/api/v1/chunks/library/$libId/filter?metadata_filter=notjson").statusCode == 400)

    // missing required body field -> 400
    assert(request("POST", "/api/v1/libraries", """{"description":"no name"}""").statusCode == 400)
    assert(request("POST", s"/api/v1/chunks?document_id=whatever", """{}""").statusCode == 400)

    // search on a MISSING library is 400, not 404 (ValueError path,
    // search_service.py:38-39); a query with neither text nor embedding
    // is also 400 (models.py:116-120)
    assert(request("POST", "/api/v1/search/libraries/missing",
      """{"query_text":"x"}""").statusCode == 400)
    assert(request("POST", s"/api/v1/search/libraries/$libId", """{}""").statusCode == 400)
    request("DELETE", s"/api/v1/libraries/$libId")
  }

  test("concurrent clients: parallel CRUD + search stays consistent") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val lib = json(request("POST", "/api/v1/libraries", """{"name":"conc"}"""))
    val libId = lib.get("id").asText
    val doc = json(request("POST", s"/api/v1/documents?library_id=$libId",
      """{"name":"d"}"""))
    val docId = doc.get("id").asText
    // 6 writers x 10 chunks each, with interleaved searches from 2 readers
    val writers = (0 until 6).map { w =>
      Future {
        (0 until 10).foreach { i =>
          val r = request("POST", s"/api/v1/chunks?document_id=$docId",
            s"""{"text":"writer $w chunk $i content","metadata":{"w":"$w"}}""")
          assert(r.statusCode == 200)
        }
      }
    }
    val readers = (0 until 2).map { _ =>
      Future {
        (0 until 5).foreach { _ =>
          val r = request("POST", s"/api/v1/search/libraries/$libId",
            """{"query_text":"chunk content","k":3}""")
          assert(r.statusCode == 200) // sees a consistent snapshot at any point
        }
      }
    }
    Await.result(Future.sequence(writers ++ readers), 120.seconds)
    assert(json(request("GET", s"/api/v1/chunks/document/$docId")).size == 60)
    request("DELETE", s"/api/v1/libraries/$libId")
  }

  test("health and info endpoints") {
    val h = json(request("GET", "/health"))
    assert(h.get("status").asText == "healthy")
    val i = json(request("GET", "/"))
    assert(i.get("service").asText.nonEmpty && i.has("engine"))
  }

  test("X-Process-Time header on every response (reference middleware parity)") {
    val lib = json(request("POST", "/api/v1/libraries", """{"name":"timed"}"""))
    val libId = lib.get("id").asText
    // a CRUD route, a search route, an error route — all stamped
    val crud = request("GET", s"/api/v1/libraries/$libId")
    val search = request("POST", s"/api/v1/search/libraries/$libId",
      """{"query_text":"x","k":1}""")
    val notFound = request("GET", "/api/v1/libraries/nope")
    Seq(crud, search, notFound).foreach { r =>
      val t = r.headers().firstValue("X-Process-Time")
      assert(t.isPresent, s"missing X-Process-Time on ${r.uri()}")
      assert(t.get().toDouble >= 0.0) // str(seconds float), main.py:36-42
    }
    request("DELETE", s"/api/v1/libraries/$libId")
  }

  test("chunk listings: include_embeddings elide + limit/offset paging") {
    val libId = json(request("POST", "/api/v1/libraries", """{"name":"paged"}"""))
      .get("id").asText
    val docId = json(request("POST", s"/api/v1/documents?library_id=$libId",
      """{"name":"d"}""")).get("id").asText
    (1 to 5).foreach(i => request("POST", s"/api/v1/chunks?document_id=$docId",
      s"""{"text":"chunk number $i"}"""))

    // default = reference behavior: all rows, full embeddings
    val full = json(request("GET", s"/api/v1/chunks/document/$docId"))
    assert(full.size == 5)
    assert(full.get(0).get("embedding").isArray && full.get(0).get("embedding").size > 0)

    // elide: embedding serialized as null, text intact
    val elided = json(request("GET",
      s"/api/v1/chunks/document/$docId?include_embeddings=false"))
    assert(elided.size == 5)
    (0 until 5).foreach { i =>
      assert(elided.get(i).get("embedding").isNull)
      assert(elided.get(i).get("text").asText.nonEmpty)
    }

    // paging tiles: 2 + 2 + 1 in stable id order, no overlap
    def page(limit: Int, offset: Int) = {
      val a = json(request("GET",
        s"/api/v1/chunks/library/$libId?limit=$limit&offset=$offset&include_embeddings=false"))
      (0 until a.size).map(i => a.get(i).get("id").asText)
    }
    val pages = page(2, 0) ++ page(2, 2) ++ page(2, 4)
    assert(pages.length == 5 && pages.distinct.length == 5)
    assert(pages == pages.sorted) // id-ordered tiling
    // filter route takes the same params
    val f = json(request("GET",
      s"/api/v1/chunks/library/$libId/filter?limit=3&include_embeddings=false"))
    assert(f.size == 3 && f.get(0).get("embedding").isNull)
    request("DELETE", s"/api/v1/libraries/$libId")
  }

  /** A library with a few embedded chunks for the malformed-search cases. */
  private def searchable(name: String): String = {
    val libId = json(request("POST", "/api/v1/libraries", s"""{"name":"$name","index_type":"exact"}"""))
      .get("id").asText
    val docId = json(request("POST", s"/api/v1/documents?library_id=$libId", """{"name":"d"}"""))
      .get("id").asText
    Seq("stars and orbits", "rivers and oceans").foreach(t =>
      request("POST", s"/api/v1/chunks?document_id=$docId", s"""{"text":"$t"}"""))
    libId
  }

  private def searchStatus(libId: String, body: String): (Int, String) = {
    val r = request("POST", s"/api/v1/search/libraries/$libId", body)
    (r.statusCode, json(r).path("detail").asText)
  }

  private val dim64 = Seq.fill(64)("0.1")

  test("malformed search: query_embedding of the wrong dimension is 400, not 500") {
    val libId = searchable("wrong-dim")
    val (status, detail) = searchStatus(libId, """{"query_embedding":[0.1,0.2,0.3],"k":3}""")
    assert(status == 400 && detail.contains("dimension"), detail)
    // the right dimension still answers
    assert(searchStatus(libId, s"""{"query_embedding":[${dim64.mkString(",")}],"k":3}""")._1 == 200)
    request("DELETE", s"/api/v1/libraries/$libId")
  }

  test("malformed search: a non-numeric or non-finite query_embedding element is 400") {
    val libId = searchable("bad-element")
    val nonNumeric = dim64.updated(5, "\"x\"").mkString(",")
    assert(searchStatus(libId, s"""{"query_embedding":[$nonNumeric]}""")._1 == 400)
    // 1e39 overflows float: +Infinity after parsing
    val nonFinite = dim64.updated(0, "1e39").mkString(",")
    val (status, detail) = searchStatus(libId, s"""{"query_embedding":[$nonFinite]}""")
    assert(status == 400 && detail.contains("finite"), detail)
    assert(searchStatus(libId, """{"query_embedding":"0.1,0.2"}""")._1 == 400)
    request("DELETE", s"/api/v1/libraries/$libId")
  }

  test("malformed search: metadata_filters that is not an object is 400") {
    val libId = searchable("filter-shape")
    assert(searchStatus(libId, """{"query_text":"stars","metadata_filters":"lang=en"}""")._1 == 400)
    assert(searchStatus(libId, """{"query_text":"stars","metadata_filters":["lang"]}""")._1 == 400)
    assert(searchStatus(libId, """{"query_text":"stars","metadata_filters":{}}""")._1 == 200)
    request("DELETE", s"/api/v1/libraries/$libId")
  }

  test("malformed search: an unparseable created_after / created_before is 400") {
    val libId = searchable("bad-date")
    assert(searchStatus(libId,
      """{"query_text":"stars","metadata_filters":{"created_after":"yesterday"}}""")._1 == 400)
    assert(searchStatus(libId,
      """{"query_text":"stars","metadata_filters":{"created_before":"2024-13-45"}}""")._1 == 400)
    val ok = request("POST", s"/api/v1/search/libraries/$libId",
      """{"query_text":"stars","metadata_filters":{"created_after":"2020-01-01"}}""")
    assert(ok.statusCode == 200 && json(ok).get("total_results").asInt == 2)
    request("DELETE", s"/api/v1/libraries/$libId")
  }

  test("stop() shuts the request pool down, so the JVM can exit") {
    val own = new HttpApi(new VectorDb(spark))
    own.start()
    val r = client.send(HttpRequest.newBuilder()
      .uri(URI.create(s"http://127.0.0.1:${own.boundPort}/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode == 200)
    val prefix = s"graft-http-${own.boundPort}-"
    own.stop()
    assert(own.awaitStopped(10000), "request pool still running after stop()")
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t => t.isAlive && t.getName.startsWith(prefix)))
  }
}
