package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row

import graft.{NodeFilters, NodePatch}
import graft.model.{Node, NodeCodec}

/** The reference's REST server re-expressed over the typed facade — a
  * thin `com.sun.net.httpserver` layer routing the 17 §2.7 endpoints to
  * `WhisperApi` with the reference's envelopes and status codes
  * (reference: src/server/wserver.cpp:69-294 routing loop,
  * include/server/endpoint.hpp:22-80 `:param` matching,
  * include/http/Request.hpp:42-74 response constructors, handler
  * envelopes src/main.cpp:60-740).
  *
  * Semantics preserved:
  *  - method parse failure and path-exists-with-other-method → 405
  *    (wserver.cpp:208-243); unknown path → 404 "Endpoint not found"
  *  - bodies over 10 MB → 413 "Payload too large" (wserver.cpp:185)
  *  - multipart/form-data without a boundary → 400; with one → parsed
  *    via `Multipart.parse`; any other non-empty body becomes a single
  *    part named "body" (wserver.cpp:250-270)
  *  - POST /api/nodes replays UploadHandler.handleUpload: validation
  *    failures return HTTP **201** with an error envelope — the
  *    reference wraps handleUpload's string in Response::created
  *    unconditionally (main.cpp:230, UploadHandler.cpp:20-26)
  *  - invalid ?limit/?offset are 400 on /api/nodes but silently ignored
  *    on /api/nodes/:id/similar (main.cpp:87-101 vs :533-537)
  *  - node JSON uses the reference's field spelling, including the
  *    "LinkedNodes" capitalization (GNode.cpp:118-137)
  *
  * This class is serving plumbing only — every data path delegates to
  * the facade, which is the Spark-native engine. One server instance
  * serves one facade; handlers run on a small pool over the facade's
  * one interpreted serving session (request parallelism adds no cluster
  * parallelism — queries themselves are distributed).
  */
class HttpApiServer(api: WhisperApi, bindPort: Int = 0) {

  private val MaxBodySize = 10L * 1024 * 1024
  private val mapper = new ObjectMapper()

  private case class Req(
      params: Map[String, String],
      query: Map[String, String],
      parts: Seq[MultipartPart],
      rawBody: Array[Byte])

  private case class Resp(status: Int, body: String,
                          contentType: String = "application/json")

  private def ok(body: String) = Resp(200, body)
  private def created(body: String) = Resp(201, body)
  private def badRequest(msg: String) =
    Resp(400, s"""{"status":"error","message":${Json.str(msg)}}""")
  private def notFound(msg: String) =
    Resp(404, s"""{"status":"error","message":${Json.str(msg)}}""")
  private def methodNotAllowed =
    Resp(405, """{"status":"error","message":"Method not allowed"}""")
  private def serverError(msg: String) =
    Resp(500, s"""{"status":"error","message":${Json.str(msg)}}""")

  private case class Route(method: String, pattern: String,
                           handler: Req => Resp) {
    private val segs = pattern.split("/", -1)
    def matchPath(path: String): Option[Map[String, String]] = {
      val ps = path.split("/", -1)
      if (ps.length != segs.length) return None
      val params = scala.collection.mutable.Map.empty[String, String]
      var i = 0
      while (i < segs.length) {
        if (segs(i).startsWith(":")) {
          if (ps(i).isEmpty) return None
          params(segs(i).drop(1)) = ps(i)
        } else if (segs(i) != ps(i)) return None
        i += 1
      }
      Some(params.toMap)
    }
  }

  // ---------------------------- handlers ----------------------------

  private def stoi(s: String): Option[Int] = NodeCodec.coerceCourse(s)
  private def stof(s: String): Option[Double] = {
    val m = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)".r.findFirstIn(s.trim)
    m.flatMap(x => scala.util.Try(x.toDouble).toOption)
  }

  private def filtersFrom(q: Map[String, String]): NodeFilters =
    NodeFilters(subject = q.get("subject"), author = q.get("author"),
      course = q.get("course"), title = q.get("title"), tag = q.get("tag"))

  private def listNodes(req: Req): Resp = {
    val limitOpt = req.query.get("limit") match {
      case Some(s) => stoi(s) match {
        case None => return badRequest("Invalid limit parameter")
        case some => some
      }
      case None => None
    }
    val offsetOpt = req.query.get("offset") match {
      case Some(s) => stoi(s) match {
        case None => return badRequest("Invalid offset parameter")
        case some => some
      }
      case None => None
    }
    val limit = limitOpt.getOrElse(0)
    val offset = offsetOpt.getOrElse(0)
    val rows = api.listNodes(filtersFrom(req.query),
      req.query.getOrElse("sort", "id"), req.query.getOrElse("order", "asc"),
      limit, offset).collect()
    val meta =
      if (limit > 0) s""","limit":$limit,"offset":$offset""" else ""
    ok(s"""{"status":"success","count":${rows.length},"nodes":${
      Json.arr(rows.map(Json.nodeJson))}$meta}""")
  }

  private def countNodes(req: Req): Resp =
    ok(s"""{"status":"success","count":${api.countNodes(filtersFrom(req.query))}}""")

  /** The 404 of every `:id` route, echoing the id as sent. */
  private def nodeNotFound(req: Req): Resp =
    notFound(s"Node not found: ${req.params("id")}")

  /** Runs `f` on the node as read (existence check and row are one
    * collect from one snapshot); a missing or non-numeric id is the 404.
    */
  private def withNode(req: Req)(f: NodeRead => Resp): Resp =
    req.params("id").toLongOption.flatMap(api.readNode) match {
      case Some(n) => f(n)
      case None => nodeNotFound(req)
    }

  /** A write on a node that may be missing: its locked existence check
    * decides the 404; any other facade error is a 500.
    */
  private def writeResult[A](req: Req, r: ApiResult[A])(f: A => Resp): Resp =
    r match {
      case ApiOk(a) => f(a)
      case ApiError(404, _) => nodeNotFound(req)
      case ApiError(_, m) => serverError(m)
    }

  private def getNode(req: Req): Resp = withNode(req) { n =>
    val files = Json.arr(n.db.getNodeFiles(n.id).collect().map(r => Json.str(r.getString(0))))
    ok(s"""{"status":"success","node":${Json.nodeJson(n.row)},"files":$files}""")
  }

  /** POST /api/nodes — UploadHandler.handleUpload replay: metadata from
    * the part named "metadata"/"body" (fallback: first part), strict
    * create validation, course string→int coercion, default date, file
    * parts attached after the insert. 201 in every non-exception path.
    */
  private def createNode(req: Req): Resp = {
    if (req.parts.isEmpty) return badRequest("No data received")
    val metaPart = req.parts.find(p => p.name == "metadata" || p.name == "body")
      .getOrElse(req.parts.head)
    val raw = metaPart.dataAsString
    val jsonStart = raw.indexOf('{')
    if (jsonStart < 0) return badRequest("No metadata found in request")
    val meta = try mapper.readTree(raw.substring(jsonStart)) catch {
      case e: Exception => return badRequest(s"Invalid JSON: ${e.getMessage}")
    }
    def strField(k: String): Option[String] =
      Option(meta.get(k)).filter(_.isTextual).map(_.asText)
    val tagsField: Option[Either[String, Seq[String]]] = Option(meta.get("tags")).map { t =>
      if (t.isArray) Right((0 until t.size).map(i => t.get(i) match {
        case x if x.isTextual => x.asText
        case _ => ""
      }))
      else Left(t.asText)
    }
    val courseField: Option[String] = Option(meta.get("course")).map { c =>
      if (c.isNumber) c.asInt.toString else c.asText
    }
    Validation.validateCreate(strField("title"), strField("author"),
      strField("subject"), courseField, tagsField) match {
      case Left(err) =>
        // reference quirk: handleUpload's validation error still ships
        // inside Response::created (main.cpp:230)
        created(s"""{"status":"error","message":${
          Json.str(s"Invalid metadata: $err")}}""")
      case Right(_) =>
        // absent id → INT_MAX sentinel → generated (GNode.cpp:62,
        // GraphDB.cpp:485-491); an explicit numeric id is honored
        val node = Node(
          id = Option(meta.get("id")).filter(_.isNumber).map(_.asLong)
            .getOrElse(Int.MaxValue.toLong),
          title = strField("title").getOrElse(""),
          course = courseField.flatMap(NodeCodec.coerceCourse).getOrElse(0),
          subject = strField("subject").getOrElse(""),
          description = strField("description").getOrElse(""),
          author = strField("author").getOrElse(""),
          date = strField("date").getOrElse(""),
          tags = tagsField.map(_.fold(NodeCodec.coerceTags, identity))
            .getOrElse(Seq.empty))
        api.createNode(node) match {
          case ApiOk(id) =>
            val files = req.parts.filter(_.isFile)
            val stored = files.map { f =>
              api.attachFile(id, f.filename, f.data) match {
                case ApiOk(path) => f.filename -> path
                case ApiError(_, m) => f.filename -> s"<error: $m>"
              }
            }
            val fileJson = Json.arr(stored.map { case (orig, path) =>
              s"""{"originalName":${Json.str(orig)},"storedPath":${Json.str(path)}}"""
            })
            created(s"""{"status":"success","nodeId":${
              Json.str(id.toString)},"files":$fileJson}""")
          case ApiError(_, m) =>
            created(s"""{"status":"error","message":${
              Json.str(s"Invalid metadata: $m")}}""")
        }
    }
  }

  /** PUT: the facade's locked check decides the 404, and the response
    * row is read from the snapshot this write produced. A bad body is a
    * 400 only for a node that exists; for a missing one the 404 wins.
    */
  private def updateNode(req: Req): Resp = req.params("id").toLongOption match {
    case None => nodeNotFound(req)
    case Some(id) => patchBody(req) match {
      case Left(bad) => if (api.db.exists(id)) bad else nodeNotFound(req)
      case Right(patch) => writeResult(req, api.patchNode(id, patch)) { db =>
        val node = Json.nodeJson(db.row(id).get)
        ok(s"""{"status":"success","message":"Node updated","node":$node}""")
      }
    }
  }

  private def patchBody(req: Req): Either[Resp, NodePatch] = {
    if (req.parts.isEmpty) return Left(badRequest("No data received"))
    val raw = req.parts.head.dataAsString
    val jsonStart = raw.indexOf('{')
    if (jsonStart < 0) return Left(badRequest("Invalid JSON body"))
    try Right(patchFrom(mapper.readTree(raw.substring(jsonStart))))
    catch { case e: Exception => Left(badRequest(s"Invalid JSON: ${e.getMessage}")) }
  }

  /** PUT-lenient patch decode (SURVEY §1.2 asymmetry): comma-string
    * tags ARE coerced here, course accepts int or string, unknown keys
    * are dropped.
    */
  private def patchFrom(j: JsonNode): NodePatch = {
    def str(k: String): Option[String] = Option(j.get(k)).map(_.asText)
    val tags = Option(j.get("tags")).map { t =>
      if (t.isArray) (0 until t.size).map(t.get(_).asText)
      else NodeCodec.coerceTags(t.asText)
    }
    val linked = Option(j.get("LinkedNodes")).orElse(Option(j.get("linkedNodes")))
      .filter(_.isArray)
      .map(a => (0 until a.size).map(a.get(_).asLong))
    val emb = Option(j.get("embedding")).filter(_.isArray)
      .map(a => (0 until a.size).map(a.get(_).floatValue))
    NodePatch(title = str("title"), course = str("course"),
      subject = str("subject"), description = str("description"),
      author = str("author"), date = str("date"), tags = tags,
      storagePath = str("storage_path"), linkedNodes = linked,
      embedding = emb)
  }

  private def deleteNode(req: Req): Resp = req.params("id").toLongOption match {
    case None => nodeNotFound(req)
    case Some(id) => writeResult(req, api.deleteNode(id)) { _ =>
      ok(s"""{"status":"success","message":"Node deleted","deletedId":${
        Json.str(req.params("id"))}}""")
    }
  }

  private def getNodeFiles(req: Req): Resp = withNode(req) { n =>
    val files = Json.arr(n.db.getNodeFiles(n.id).collect().map(r => Json.str(r.getString(0))))
    ok(s"""{"status":"success","nodeId":${Json.str(req.params("id"))},"files":$files}""")
  }

  private def addFileToNode(req: Req): Resp = withNode(req) { n =>
    val files = req.parts.filter(_.isFile)
    if (files.isEmpty) badRequest("No files provided")
    else {
      val results = files.map(f => api.attachFile(n.id, f.filename, f.data))
      results.collectFirst { case ApiError(code, m) => (code, m) } match {
        case Some((500, m)) => serverError(m)
        case Some((_, m)) => badRequest(m)
        case None =>
          val added = results.collect { case ApiOk(path) => path }
          created(s"""{"status":"success","nodeId":${Json.str(req.params("id"))},"addedFiles":${
            Json.arr(added.map(Json.str))}}""")
      }
    }
  }

  private def health(req: Req): Resp =
    ok(s"""{"status":"ok","service":"TheWhisperDB","nodes_count":${api.health}}""")

  /** POST /test — the multipart diagnostic (main.cpp:410-432), and the
    * serving surface of Q4 (`Multipart.countParts` feeds the same parse).
    */
  private def testEndpoint(req: Req): Resp = {
    val sb = new StringBuilder(s"Test endpoint. Got ${req.parts.size} parts.\n")
    req.parts.zipWithIndex.foreach { case (p, i) =>
      sb.append(s"""Part $i: name="${p.name}"""")
      if (p.filename.nonEmpty) sb.append(s""", filename="${p.filename}"""")
      sb.append(s", size=${p.data.length} bytes\n")
    }
    if (req.query.nonEmpty) {
      sb.append("Query params:\n")
      req.query.toSeq.sortBy(_._1).foreach { case (k, v) =>
        sb.append(s"  $k=$v\n")
      }
    }
    Resp(200, sb.toString, "text/plain")
  }

  private def runClustering(req: Req): Resp = {
    val threshold = req.query.get("threshold") match {
      case Some(s) => stof(s) match {
        case None => return badRequest("Invalid threshold parameter")
        case Some(t) => t
      }
      case None => 0.75
    }
    api.cluster(threshold) match {
      case ApiOk(r) =>
        val clusters = Json.arr(r.clusters.map(c => Json.arr(c.map(_.toString))))
        ok(s"""{"status":"success","nodesProcessed":${r.nodesProcessed},"embeddingsGenerated":${
          r.embeddingsGenerated},"linksCreated":${r.linksCreated},"clustersFound":${
          r.clustersFound},"clusters":$clusters}""")
      case ApiError(code, m) =>
        if (code == 400) badRequest(m) else serverError(m)
    }
  }

  private def generateEmbedding(req: Req): Resp = withNode(req) { n =>
    api.generateEmbedding(n.id) match {
      case ApiOk(_) =>
        ok(s"""{"status":"success","message":"Embedding generated","nodeId":${n.id}}""")
      case ApiError(_, m) => serverError(m)
    }
  }

  private def similarNodes(req: Req): Resp = withNode(req) { n =>
    // reference hasEmbedding() is false for absent AND empty vectors
    if (!n.embedding.exists(_.nonEmpty))
      return badRequest("Node has no embedding. Generate embedding first.")
    // invalid ?limit is IGNORED here (reference catches and keeps the
    // default, main.cpp:533-537) — unlike /api/nodes where it is a 400
    val limit = req.query.get("limit").flatMap(stoi).getOrElse(10)
    val sims = Json.arr(api.similarTo(n, limit).collect().map { r =>
      val node = Json.nodeJson(r)
      val sim = r.getDouble(r.fieldIndex("sim"))
      node.dropRight(1) + s""", "similarity": $sim}"""
    })
    ok(s"""{"status":"success","nodeId":${Json.str(req.params("id"))},"similarNodes":$sims}""")
  }

  private def generateTags(req: Req): Resp = withNode(req) { n =>
    api.generateTags(n.id) match {
      case ApiOk(r) =>
        ok(s"""{"status":"success","nodeId":${n.id},"tags":${
          Json.arr(r.tags.map(Json.str))},"newTagsAdded":${
          Json.arr(r.newTagsAdded.map(Json.str))},"linkedNodes":${
          Json.arr(r.linkedNodes.map(_.toString))}}""")
      case ApiError(_, m) => serverError(m)
    }
  }

  private def getTagBank(req: Req): Resp = {
    val bank = api.getTags
    ok(s"""{"status":"success","tagBank":${
      Json.arr(bank.map(Json.str))},"count":${bank.size}}""")
  }

  private def nodesByTag(req: Req): Resp = {
    val tag = req.params("tag")
    val rows = api.nodesByTag(tag).collect()
    ok(s"""{"status":"success","tag":${Json.str(tag)},"nodes":${
      Json.arr(rows.map(Json.nodeJson))},"count":${rows.length}}""")
  }

  private def linkAll(req: Req): Resp = {
    val threshold = req.query.get("threshold") match {
      case Some(s) => stof(s) match {
        case None => return badRequest("Invalid threshold parameter")
        case Some(t) =>
          if (t < 0 || t > 1) return badRequest("Threshold must be between 0 and 1")
          t
      }
      case None => 0.3
    }
    api.linkAllByTags(threshold) match {
      case ApiOk(n) =>
        ok(s"""{"status":"success","linksCreated":$n,"threshold":$threshold}""")
      case ApiError(code, m) =>
        if (code == 400) badRequest(m) else serverError(m)
    }
  }

  private def getClusters(req: Req): Resp = {
    val rows = api.clusters().collect()
    val clusters = Json.arr(rows.map { r =>
      val ids = r.getSeq[Long](r.fieldIndex("member_ids")).map(_.toString)
      val sharedTags = r.getSeq[String](r.fieldIndex("shared_tags")).map(Json.str)
      s"""{"id":${r.getInt(r.fieldIndex("cluster_id"))},"nodes":${Json.arr(ids)},"size":${
        r.getLong(r.fieldIndex("cluster_size"))},"sharedTags":${Json.arr(sharedTags)}}"""
    })
    ok(s"""{"status":"success","count":${rows.length},"clusters":$clusters}""")
  }

  // -------------------------- route table ---------------------------

  private val routes: Seq[Route] = Seq(
    Route("GET", "/api/nodes", listNodes),
    Route("GET", "/api/nodes/count", countNodes),
    Route("GET", "/api/nodes/:id", getNode),
    Route("POST", "/api/nodes", createNode),
    Route("PUT", "/api/nodes/:id", updateNode),
    Route("DELETE", "/api/nodes/:id", deleteNode),
    Route("GET", "/api/nodes/:id/files", getNodeFiles),
    Route("POST", "/api/nodes/:id/files", addFileToNode),
    Route("GET", "/health", health),
    Route("POST", "/test", testEndpoint),
    Route("POST", "/api/cluster", runClustering),
    Route("POST", "/api/nodes/:id/embedding", generateEmbedding),
    Route("GET", "/api/nodes/:id/similar", similarNodes),
    Route("POST", "/api/nodes/:id/tags", generateTags),
    Route("GET", "/api/tags", getTagBank),
    Route("GET", "/api/tags/:tag/nodes", nodesByTag),
    Route("POST", "/api/tags/link-all", linkAll),
    Route("GET", "/api/clusters", getClusters),
  )

  /** The (method, pattern) surface, in registration order — exposed so
    * the spec can assert the table covers every reference entry point
    * (main.cpp:125-726 registers 18; r5 shipped 17 because the
    * finished getClusters handler was never wired in, and no test
    * could see the omission).
    */
  def routeTable: Seq[(String, String)] = routes.map(r => (r.method, r.pattern))

  // Registration order matters for GET /api/nodes/count vs :id — count
  // must be tried first, exactly like the reference's insertion order
  // (main.cpp registers count_nodes before get_node_by_id).

  // ------------------------- serving loop ---------------------------

  private val knownMethods = Set("GET", "POST", "PUT", "DELETE")

  private def dispatch(method: String, path: String,
                       query: Map[String, String], contentType: String,
                       body: Array[Byte]): Resp = {
    if (!knownMethods.contains(method)) return methodNotAllowed
    if (body.length > MaxBodySize)
      return Resp(413, """{"status":"error","message":"Payload too large"}""")
    val matched = routes.view
      .map(r => (r, r.matchPath(path)))
      .collectFirst { case (r, Some(p)) if r.method == method => (r, p) }
    matched match {
      case None =>
        val pathExists = routes.exists(_.matchPath(path).isDefined)
        if (pathExists) methodNotAllowed else notFound("Endpoint not found")
      case Some((route, params)) =>
        val mediaType = contentType.split(";")(0).trim.toLowerCase
        try {
          val parts: Either[Resp, Seq[MultipartPart]] =
            if (mediaType == "multipart/form-data") {
              val boundary = Multipart.extractBoundary(contentType)
              if (boundary.isEmpty) Left(badRequest("Missing multipart boundary"))
              else Right(Multipart.parse(body, boundary))
            } else if (body.nonEmpty) {
              Right(Seq(MultipartPart(name = "body", contentType = mediaType,
                data = body)))
            } else Right(Seq.empty)
          parts match {
            case Left(err) => err
            case Right(ps) => route.handler(Req(params, query, ps, body))
          }
        } catch {
          case e: Exception =>
            serverError(Option(e.getMessage).getOrElse("Unknown error"))
        }
    }
  }

  private def parseQuery(q: String): Map[String, String] = {
    if (q == null || q.isEmpty) return Map.empty
    q.split("&").iterator.flatMap { kv =>
      val eq = kv.indexOf('=')
      if (eq < 0) None
      else Some(urlDecode(kv.substring(0, eq)) -> urlDecode(kv.substring(eq + 1)))
    }.toMap
  }

  /** %XX + '+' decoding, tolerant of malformed escapes like the
    * reference (wserver.cpp:23-44: a bad hex pair passes through).
    */
  private def urlDecode(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { b.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => b.append(c); i += 1 }
      } else if (c == '+') { b.append(' '); i += 1 }
      else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** The handler pool; `stop` shuts it down, since `HttpServer.stop`
    * leaves an executor it was given running (and its non-daemon threads
    * would keep the JVM alive).
    */
  private val pool: ExecutorService = {
    val n = new AtomicInteger(0)
    Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"${HttpApiServer.HandlerThreadPrefix}${n.incrementAndGet()}"))
  }

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
    s.createContext("/", (exchange: HttpExchange) => handle(exchange))
    s.setExecutor(pool)
    s
  }

  private def handle(exchange: HttpExchange): Unit = {
    val resp =
      try {
        val method = exchange.getRequestMethod.toUpperCase
        val uri = exchange.getRequestURI
        val path = uri.getRawPath
        val query = parseQuery(uri.getRawQuery)
        val contentType = Option(
          exchange.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
        val body = exchange.getRequestBody.readAllBytes()
        // the reference matches routes on the RAW path (wserver.cpp
        // decodes only query keys/values), so path params arrive encoded
        dispatch(method, path, query, contentType, body)
      } catch {
        case e: Exception =>
          serverError(Option(e.getMessage).getOrElse("Unknown error"))
      }
    val bytes = resp.body.getBytes(UTF_8)
    exchange.getResponseHeaders.set("Content-Type", resp.contentType)
    exchange.sendResponseHeaders(resp.status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
    exchange.close()
  }

  /** Start listening; returns the bound port (useful with bindPort=0). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  /** Stop listening and release the handler threads; a request still
    * running completes first.
    */
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object HttpApiServer {
  /** Name prefix of the handler threads. */
  val HandlerThreadPrefix = "http-api-handler-"
}

/** Minimal JSON writers shared by the HTTP layer and `Verify`'s
  * `oracle_sql.json` — same escaping and
  * node field order as the `.wdb` serializer (reference
  * GNode.cpp:118-137: "LinkedNodes" capitalization, embedding omitted
  * when absent/empty).
  */
private[graft] object Json {

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append("\"").toString
  }

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def arr(xs: Array[String]): String = xs.mkString("[", ",", "]")

  /** Render a node row (Node.schema column order; extra trailing
    * columns like `sim` are ignored).
    */
  def nodeJson(r: Row): String = {
    val sb = new StringBuilder
    sb.append("{\"id\": ").append(r.getLong(0))
      .append(", \"title\": ").append(str(r.getString(1)))
      .append(", \"course\": ").append(r.getInt(2))
      .append(", \"subject\": ").append(str(r.getString(3)))
      .append(", \"description\": ").append(str(r.getString(4)))
      .append(", \"author\": ").append(str(r.getString(5)))
      .append(", \"date\": ").append(str(r.getString(6)))
      .append(", \"tags\": ").append(arr(r.getSeq[String](7).map(str)))
      .append(", \"storage_path\": ").append(str(r.getString(8)))
      .append(", \"LinkedNodes\": ").append(arr(r.getSeq[Long](9).map(_.toString)))
    val emb = if (r.isNullAt(10)) null else r.getSeq[Float](10)
    if (emb != null && emb.nonEmpty)
      sb.append(", \"embedding\": ").append(arr(emb.map(fmtFloat)))
    sb.append("}").toString
  }

  private def fmtFloat(f: Float): String =
    if (f == f.toLong.toFloat) f.toLong.toString else f.toString
}
