package graft

import java.net.{Socket, URLEncoder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{BooleanNode, DoubleNode, IntNode, JsonNodeFactory, ObjectNode, TextNode}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll

import graft.api.{HttpApi, VectorDb}
import graft.catalog.IndexType

/**
 * A ScalaCheck property over every HTTP route: a valid request, or the
 * same request with one mutation (a wrongly typed field or parameter, a
 * missing required one, a non-object body, a huge number, bad UTF-8,
 * bad percent-encoding). Whatever the request, the reply is a 200 or a
 * 4xx, never a 500; a 4xx starts no Spark job; a 200 echoes the decoded
 * values. Requests go over a raw socket, so malformed bytes reach the
 * server as sent. Seeded: failures reproduce.
 */
class HttpPropertySpec extends SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private val nodes = JsonNodeFactory.instance
  private lazy val db = new VectorDb(spark)
  private lazy val api = { val a = new HttpApi(db); a.start(); a }

  private val jobs = new AtomicInteger
  private lazy val listener = new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  // the fixture every valid request addresses; deletes get their own
  private lazy val lib = db.createLibrary("fixture", indexType = "exact").toOption.get.id
  private lazy val doc = db.createDocument(lib, "doc", metadata = Map("team" -> "a")).toOption.get.id
  private lazy val chunk = {
    Seq("stars and orbits", "rivers and oceans").foreach(t => db.createChunk(doc, t, Map("team" -> "a")))
    db.createChunk(doc, "mountains", Map("team" -> "b")).toOption.get.id
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    assert(chunk.nonEmpty)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    api.stop()
  }

  /** One request as its client means it: decoded parameters and body
    * fields. `rawQuery` / `rawBody` replace the encoding of a mutated one. */
  private final case class Call(route: String, method: String, path: String,
      params: Seq[(String, String)] = Nil, body: Option[ObjectNode] = None,
      rawQuery: Option[String] = None, rawBody: Option[Array[Byte]] = None) {
    def query: String = rawQuery.getOrElse(
      params.map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&"))
    def bytes: Array[Byte] = rawBody.orElse(body.map(mapper.writeValueAsBytes)).getOrElse(Array.emptyByteArray)
    def param(p: String): Option[String] = params.reverse.collectFirst { case (`p`, v) => v }
    /** A body field as the server reads the bytes sent. */
    def field(f: String): Option[JsonNode] =
      body.flatMap(_ => Option(mapper.readTree(bytes).get(f))).filterNot(_.isNull)
  }

  private def send(c: Call): (Int, String, Int) = {
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark.sparkContext)
    val before = jobs.get
    val socket = new Socket("127.0.0.1", api.boundPort)
    val reply =
      try {
        socket.setSoTimeout(60000)
        val target = c.path + (if (c.query.isEmpty) "" else "?" + c.query)
        val head = s"${c.method} $target HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: application/json\r\n" +
          s"Content-Length: ${c.bytes.length}\r\nConnection: close\r\n\r\n"
        socket.getOutputStream.write(head.getBytes(ISO_8859_1) ++ c.bytes)
        new String(socket.getInputStream.readAllBytes(), UTF_8)
      } finally socket.close()
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark.sparkContext)
    (reply.split(" ", 3)(1).toInt, reply.substring(reply.indexOf("\r\n\r\n") + 4), jobs.get - before)
  }

  // ---- valid requests

  private val genText: Gen[String] =
    Gen.oneOf("alpha", "naïve café", "日本語のテキスト", "rocket 🚀", "quote \" back \\ slash", "", "a+b&c=d%20")

  private val genScalar: Gen[JsonNode] = Gen.oneOf[JsonNode](
    genText.map(TextNode.valueOf), Gen.choose(-5, 5).map(i => IntNode.valueOf(i)),
    Gen.const(BooleanNode.TRUE), Gen.const(DoubleNode.valueOf(1.5)))

  private val genValue: Gen[JsonNode] = Gen.frequency(
    6 -> genScalar,
    1 -> Gen.const(mapper.readTree("""[1,"a",null]""")),
    1 -> Gen.const(mapper.readTree("""{"x":{"y":2}}""")))

  private def genObject(values: Gen[JsonNode]): Gen[ObjectNode] =
    Gen.listOf(Gen.zip(Gen.oneOf("team", "lang", "v", "ключ"), values)).map { kvs =>
      val o = nodes.objectNode()
      kvs.take(3).foreach { case (k, v) => o.set[JsonNode](k, v) }
      o
    }

  private val genK: Gen[JsonNode] = Gen.oneOf[JsonNode](Gen.choose(1, 10).map(i => IntNode.valueOf(i)),
    Gen.const(TextNode.valueOf("3")), Gen.const(DoubleNode.valueOf(2.0)), Gen.const(BooleanNode.TRUE))

  private val genEmbedding: Gen[JsonNode] = Gen.listOfN(64, Gen.choose(-1.0, 1.0)).map { xs =>
    val a = nodes.arrayNode(); xs.foreach(x => a.add(x)); a
  }

  /** `fields` with each optional one present or not. */
  private def genBody(required: Seq[(String, Gen[JsonNode])], optional: Seq[(String, Gen[JsonNode])]): Gen[ObjectNode] =
    for {
      req <- Gen.sequence[List[(String, JsonNode)], (String, JsonNode)](required.map { case (f, g) => g.map(f -> _) })
      opt <- Gen.sequence[List[Option[(String, JsonNode)]], Option[(String, JsonNode)]](
        optional.map { case (f, g) => Gen.option(g.map(f -> _)) })
    } yield {
      val o = nodes.objectNode()
      (req ++ opt.flatten).foreach { case (f, v) => o.set[JsonNode](f, v) }
      o
    }

  private def genParams(optional: Seq[(String, Gen[String])]): Gen[Seq[(String, String)]] =
    Gen.sequence[List[Option[(String, String)]], Option[(String, String)]](
      optional.map { case (p, g) => Gen.option(g.map(p -> _)) }).map(_.flatten)

  private val text = genText.map(TextNode.valueOf)
  private val meta = genObject(genValue)
  private val filterJson = genObject(Gen.oneOf[JsonNode](Gen.const(TextNode.valueOf("a")), Gen.const(IntNode.valueOf(1))))
    .map(mapper.writeValueAsString)
  private val page = genParams(Seq("include_embeddings" -> Gen.oneOf("true", "false", "1", "0"),
    "limit" -> Gen.choose(0, 4).map(_.toString), "offset" -> Gen.choose(0, 4).map(_.toString)))

  private def v1(p: String) = s"/api/v1/$p"

  private lazy val routes: Seq[Gen[Call]] = Seq(
    Gen.const(Call("info", "GET", "/")),
    Gen.const(Call("health", "GET", "/health")),
    genBody(Seq("name" -> text), Seq("description" -> text, "metadata" -> meta,
        "index_type" -> Gen.oneOf(IndexType.names).map(TextNode.valueOf)))
      .map(b => Call("library", "POST", v1("libraries"), body = Some(b))),
    Gen.const(Call("libraries", "GET", v1("libraries"))),
    Gen.const(Call("library", "GET", v1(s"libraries/$lib"))),
    genBody(Nil, Seq("name" -> text, "description" -> text, "metadata" -> meta))
      .map(b => Call("library", "PUT", v1(s"libraries/$lib"), body = Some(b))),
    Gen.const(Call("delete", "DELETE", v1("libraries/LIB"))),
    Gen.oneOf(IndexType.names).map(t => Call("index", "POST", v1(s"libraries/$lib/index"), Seq("index_type" -> t))),
    genBody(Seq("name" -> text), Seq("description" -> text, "metadata" -> meta))
      .map(b => Call("document", "POST", v1("documents"), Seq("library_id" -> lib), Some(b))),
    Gen.const(Call("document", "GET", v1(s"documents/$doc"))),
    genBody(Nil, Seq("name" -> text, "description" -> text, "metadata" -> meta))
      .map(b => Call("document", "PUT", v1(s"documents/$doc"), body = Some(b))),
    Gen.const(Call("delete", "DELETE", v1("documents/DOC"))),
    Gen.const(Call("documents", "GET", v1(s"documents/library/$lib"))),
    genParams(Seq("metadata_filter" -> filterJson))
      .map(ps => Call("documents", "GET", v1(s"documents/library/$lib/filter"), ps)),
    genBody(Seq("text" -> text), Seq("metadata" -> meta))
      .map(b => Call("chunk", "POST", v1("chunks"), Seq("document_id" -> doc), Some(b))),
    Gen.const(Call("chunk", "GET", v1(s"chunks/$chunk"))),
    genBody(Nil, Seq("text" -> text, "metadata" -> meta))
      .map(b => Call("chunk", "PUT", v1(s"chunks/$chunk"), body = Some(b))),
    Gen.const(Call("delete", "DELETE", v1("chunks/CHUNK"))),
    page.map(ps => Call("chunks", "GET", v1(s"chunks/document/$doc"), ps)),
    page.map(ps => Call("chunks", "GET", v1(s"chunks/library/$lib"), ps)),
    Gen.zip(page, genParams(Seq("metadata_filter" -> filterJson)))
      .map { case (ps, f) => Call("chunks", "GET", v1(s"chunks/library/$lib/filter"), ps ++ f) },
    Gen.zip(Gen.oneOf("query_text" -> text, "query_embedding" -> genEmbedding),
        genBody(Nil, Seq("k" -> genK, "metadata_filters" -> genObject(Gen.const(TextNode.valueOf("a"))))))
      .flatMap { case ((f, g), b) => g.map { v => b.set[JsonNode](f, v); b } }
      .map(b => Call("search", "POST", v1(s"search/libraries/$lib"), body = Some(b))),
    Gen.zip(genText, genParams(Seq("k" -> Gen.oneOf("1", "3", "2.0"), "metadata_filter" -> filterJson)))
      .map { case (q, ps) => Call("simple", "GET", v1(s"search/libraries/$lib/simple"), ("q" -> q) +: ps) })

  // ---- mutations: each returns the mutated call and the status class it
  // must get, or None where it does not apply

  private val Ok = "2xx"
  private val Refused = "4xx"
  private val Either = "2xx or 4xx"

  private val stringFields = Set("name", "description", "text", "query_text", "index_type")
  private val objectFields = Set("metadata", "metadata_filters")

  private def wrongValue(field: String): Gen[JsonNode] =
    if (stringFields(field)) Gen.oneOf[JsonNode](IntNode.valueOf(5), BooleanNode.TRUE,
      mapper.readTree("""["x"]"""), nodes.objectNode())
    else if (objectFields(field)) Gen.oneOf[JsonNode](TextNode.valueOf("x"), mapper.readTree("[1,2]"), IntNode.valueOf(5))
    else if (field == "k") Gen.oneOf[JsonNode](TextNode.valueOf("abc"), DoubleNode.valueOf(2.5),
      nodes.nullNode(), mapper.readTree("[2]"), nodes.objectNode())
    else Gen.oneOf[JsonNode](TextNode.valueOf("0.1,0.2"), mapper.readTree("""["x"]"""), nodes.objectNode())

  private val wrongParam: Map[String, Seq[String]] = Map(
    "k" -> Seq("abc", "2.5", "", "[2]"), "limit" -> Seq("abc", "-1", "1.5"), "offset" -> Seq("abc", "-2"),
    "include_embeddings" -> Seq("maybe", ""), "metadata_filter" -> Seq("notjson", "[1,2]", "\"x\"", "{} x"),
    "index_type" -> Seq("bogus"))

  private val requiredOf: Map[String, Seq[String]] = Map(
    "library" -> Seq("name"), "document" -> Seq("name", "library_id"), "chunk" -> Seq("text", "document_id"),
    "simple" -> Seq("q"))

  private type Mutation = Call => Option[Gen[(Call, String)]]

  private def withField(c: Call, f: String, v: JsonNode): Call = {
    val b = c.body.get.deepCopy(); b.set[JsonNode](f, v); c.copy(body = Some(b))
  }

  private val wrongType: Mutation = c => {
    val fs = if (c.body.isDefined) bodyFieldsOf(c) else Nil
    val ps = c.params.map(_._1).filter(wrongParam.contains)
    if (fs.isEmpty && ps.isEmpty) None
    else Some(Gen.oneOf(fs.map(Left(_)) ++ ps.map(Right(_))).flatMap {
      case Left(f) => wrongValue(f).map(v => withField(c, f, v) -> Refused)
      case Right(p) => Gen.oneOf(wrongParam(p)).map(v => c.copy(params = c.params :+ (p -> v)) -> Refused)
    })
  }

  /** The body fields a route reads. */
  private def bodyFieldsOf(c: Call): Seq[String] = (c.route, c.method) match {
    case ("library", "POST") => Seq("name", "description", "metadata", "index_type")
    case ("library" | "document", _) => Seq("name", "description", "metadata")
    case ("chunk", _) => Seq("text", "metadata")
    case ("search", _) => Seq("query_text", "query_embedding", "k", "metadata_filters")
    case _ => Nil
  }

  private val missing: Mutation = c =>
    if (c.route == "search") Some(Gen.const {
      val b = c.body.get.deepCopy(); b.remove("query_text"); b.remove("query_embedding"); c.copy(body = Some(b)) -> Refused
    })
    else requiredOf.get(c.route).filter(_ => c.method == "POST" || c.route == "simple").map(fs => Gen.oneOf(fs).map { f =>
      (if (c.params.exists(_._1 == f)) c.copy(params = c.params.filterNot(_._1 == f))
       else { val b = c.body.get.deepCopy(); b.remove(f); c.copy(body = Some(b)) }) -> Refused
    })

  private val nonObject: Mutation = c => c.body.map(_ =>
    Gen.oneOf("[1,2]", "\"x\"", "5", "null", "{", "{} x", "[]").map(s => c.copy(rawBody = Some(s.getBytes(UTF_8))) -> Refused))

  private val huge: Mutation = c => {
    val big = Gen.oneOf[JsonNode](mapper.readTree("1" + "0" * 40),
      nodes.numberNode(new java.math.BigDecimal("1e400")), TextNode.valueOf("1e30"))
    val bodyTargets = c.body.toSeq.flatMap(b => Seq("k", "metadata", "query_embedding").filter(bodyFieldsOf(c).contains))
    val paramTargets = c.params.map(_._1).filter(Set("k", "limit", "offset"))
    if (bodyTargets.isEmpty && paramTargets.isEmpty) None
    else Some(Gen.oneOf(bodyTargets.map(Left(_)) ++ paramTargets.map(Right(_))).flatMap {
      case Left("metadata") => big.map(v => withField(c, "metadata", nodes.objectNode().set[JsonNode]("n", v)) -> Either)
      case Left("query_embedding") => Gen.const(withField(c, "query_embedding", mapper.readTree(
        (Seq("1e39") ++ Seq.fill(63)("0.1")).mkString("[", ",", "]"))) -> Refused)
      case Left(f) => big.map(v => withField(c, f, v) -> Either)
      case Right(p) => Gen.oneOf("1" + "0" * 30, "1e30").map(v => c.copy(params = c.params :+ (p -> v)) -> Either)
    })
  }

  private val badUtf8: Mutation = c =>
    if (c.body.exists(_.size > 0)) Some(Gen.const {
      val json = mapper.writeValueAsString(c.body.get)
      val at = json.indexOf('"', json.indexOf(':')) + 1
      c.copy(rawBody = Some(json.take(at).getBytes(UTF_8) ++ Array(0xC3, 0x28).map(_.toByte) ++ json.drop(at).getBytes(UTF_8))) -> Refused
    })
    else badPercent(c)

  private val badPercent: Mutation = c =>
    if (c.params.isEmpty) None
    else Some(Gen.zip(Gen.oneOf(c.params.indices), Gen.oneOf("%zz", "%C3%28", "%FF", "abc%", "%e9"))
      .map { case (i, bad) =>
        val raw = c.params.zipWithIndex.map { case ((k, v), j) =>
          s"$k=" + (if (i == j) bad else URLEncoder.encode(v, UTF_8))
        }.mkString("&")
        c.copy(rawQuery = Some(raw)) -> Refused
      })

  private val mutations: Seq[(String, Mutation)] = Seq("wrong type" -> wrongType, "missing" -> missing,
    "non-object" -> nonObject, "huge" -> huge, "bad utf-8" -> badUtf8, "bad percent" -> badPercent)

  /** A route's valid request, or one mutation of it that applies, all
    * equally likely; with the status class it must get and its kind. */
  private lazy val genCase: Gen[(Call, String, String)] = for {
    call <- Gen.oneOf(routes).flatMap(identity)
    (kind, mutated) <- Gen.oneOf(("valid" -> Gen.const(call -> Ok)) +:
      mutations.flatMap { case (kind, m) => m(call).map(kind -> _) })
    (out, expect) <- mutated
  } yield (out, expect, kind)

  // ---- what a 200 must echo: the decoded values of the request

  private def str(n: JsonNode): String = if (n.isTextual) n.textValue else n.toString
  private def strings(n: JsonNode): Map[String, String] = n.properties().asScala.map(e => e.getKey -> str(e.getValue)).toMap
  private def filterOf(c: Call): Map[String, String] = c.param("metadata_filter").fold(Map.empty[String, String])(j => strings(mapper.readTree(j)))
  private def laxK(n: JsonNode): Int =
    if (n.isBoolean) (if (n.booleanValue) 1 else 0) else BigDecimal(n.asText).max(Int.MinValue).min(Int.MaxValue).toInt

  /** An entity's stored fields, as its reply names them ("null" for none). */
  private final case class Stored(fields: Map[String, String], metadata: Map[String, String])

  /** Errors of a 200 reply `r` to `c`; `before` is the entity it updated. */
  private def echoErrors(c: Call, r: JsonNode, before: Option[Stored]): Seq[String] = {
    def same(f: String, want: Any, got: Any) = if (want == got) Nil else Seq(s"$f: sent $want, got $got")
    def fieldEcho(f: String) = c.field(f).map(str).orElse(before.map(_.fields(f))).toSeq
      .flatMap(w => same(f, w, Option(r.get(f)).filterNot(_.isNull).map(str).getOrElse("null")))
    def metaEcho = c.field("metadata").map(strings).orElse(before.map(_.metadata)).toSeq
      .flatMap(w => same("metadata", w, strings(r.get("metadata"))))
    val idEcho = if (c.method != "POST" && r.has("id")) same("id", c.path.split('/').last, str(r.get("id"))) else Nil
    idEcho ++ (c.route match {
      case "info" => same("service", "graft-vector-db", str(r.get("service")))
      case "health" => same("status", "healthy", str(r.get("status")))
      case "library" | "document" => Seq("name", "description").flatMap(fieldEcho) ++ metaEcho
      case "chunk" => fieldEcho("text") ++ metaEcho
      case "index" => same("message", s"Library indexed successfully with ${c.param("index_type").get} index", str(r.get("message")))
      case "delete" => if (str(r.get("message")).endsWith("deleted successfully")) Nil else Seq(r.toString)
      case "libraries" | "documents" => if (r.isArray) r.elements.asScala.flatMap { d =>
          val f = filterOf(c)
          same("filtered metadata", f, strings(d.get("metadata")).filter(kv => f.contains(kv._1)))
        }.toSeq else Seq(r.toString)
      case "chunks" =>
        val rows = r.elements.asScala.toSeq
        val inc = c.param("include_embeddings").forall(v => v == "true" || v == "1")
        c.param("limit").map(v => laxK(TextNode.valueOf(v))).filter(rows.size > _).map(l => s"$l rows asked, ${rows.size} got").toSeq ++
          rows.filter(_.get("embedding").isNull == inc).map(_ => s"include_embeddings=$inc not honoured") ++
          rows.flatMap { d =>
            val f = filterOf(c)
            same("filtered metadata", f, strings(d.get("metadata")).filter(kv => f.contains(kv._1)))
          }
      case "search" | "simple" =>
        val q = r.get("query")
        val (text, k, filters) =
          if (c.route == "simple") (c.param("q"), c.param("k").fold(5)(v => laxK(TextNode.valueOf(v))), filterOf(c))
          else (c.field("query_text").map(_.textValue), c.field("k").fold(5)(laxK),
            c.field("metadata_filters").fold(Map.empty[String, String])(strings))
        same("query_text", text, Option(q.get("query_text")).filterNot(_.isNull).map(_.textValue)) ++
          same("k", k, q.get("k").asInt) ++ same("metadata_filters", filters, strings(q.get("metadata_filters"))) ++
          same("query_embedding", c.field("query_embedding").map(_.elements.asScala.map(_.floatValue).toSeq),
            Option(q.get("query_embedding")).filterNot(_.isNull).map(_.elements.asScala.map(_.floatValue).toSeq))
    })
  }

  /** A fresh entity for a delete to remove. */
  private def target(c: Call): Call = c.path match {
    case p if p.endsWith("LIB") => c.copy(path = p.replace("LIB", db.createLibrary("gone").toOption.get.id))
    case p if p.endsWith("DOC") => c.copy(path = p.replace("DOC", db.createDocument(lib, "gone").toOption.get.id))
    case p if p.endsWith("CHUNK") => c.copy(path = p.replace("CHUNK", db.createChunk(doc, "gone").toOption.get.id))
    case _ => c
  }

  private def stored(c: Call): Option[Stored] = (c.route, c.method) match {
    case ("library", "PUT") => db.getLibrary(lib).toOption.map(l =>
      Stored(Map("name" -> l.name, "description" -> l.description.getOrElse("null")), l.metadata))
    case ("document", "PUT") => db.getDocument(doc).toOption.map(d =>
      Stored(Map("name" -> d.name, "description" -> d.description.getOrElse("null")), d.metadata))
    case ("chunk", "PUT") => db.getChunk(chunk).toOption.map(x => Stored(Map("text" -> x.text), x.metadata))
    case _ => None
  }

  test("every route: a 200 or a 4xx, never a 500; no Spark job before a 4xx; a 200 echoes the decoded request") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAllNoShrink(genCase) { case (c0, expect, kind) =>
      val c = target(c0)
      val before = stored(c)
      val (status, body, jobsRun) = send(c)
      seen(s"$kind ${status / 100}xx") += 1
      val where = s"[$kind] ${c.method} ${c.path}?${c.query} ${new String(c.bytes, UTF_8)} -> $status $body"
      val errors =
        if (!expect.contains(s"${status / 100}xx")) Seq(s"expected $expect")
        else if (status == 200) echoErrors(c, mapper.readTree(body), before)
        else if (jobsRun > 0) Seq(s"$jobsRun Spark jobs before a $status")
        else Nil
      Prop(errors.isEmpty) :| (where + " " + errors.mkString("; "))
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(400)
      .withInitialSeed(Seed(14L)).withWorkers(1), prop)
    info(seen.toSeq.sorted.map { case (k, n) => s"$k: $n" }.mkString(", "))
    assert(result.passed, s"$result\n${seen.toSeq.sorted.mkString(", ")}")
    // every mutation kind ran; each but a huge number must be refused
    Seq("wrong type", "missing", "non-object", "bad utf-8", "bad percent").foreach { k =>
      assert(seen(s"$k 4xx") > 0, s"$k never refused: $seen")
    }
    assert(seen("huge 2xx") + seen("huge 4xx") > 0, seen.toString)
    assert(seen("valid 2xx") > 0, seen.toString)
  }
}
