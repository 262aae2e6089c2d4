package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col

import graft.api.{HttpApiServer, Multipart, WhisperApi}
import graft.enrich.{EnrichService, MockEmbedder, MockTagger}
import graft.io.{WdbIO, WhisperState}
import graft.model.Node
import graft.similarity.SimilarityOps

/** Real-socket end-to-end test of the HTTP layer: replays the
  * reference's CRUD autotest script (CURL_TESTS.md:390-445) against a
  * live `HttpApiServer`, plus the routing/envelope quirks a curl user
  * would hit first (405 on wrong method, 404 "Endpoint not found",
  * the 201-with-error-body create quirk, multipart upload, POST /test
  * part counting = Q4).
  */
class HttpApiSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def withServer(store: Option[graft.io.FileStore] = None)
                        (f: (String, WhisperApi) => Unit): Unit = {
    val api = new WhisperApi(WhisperDB.empty(spark),
      new EnrichService(new MockEmbedder(8), new MockTagger), store)
    serve(api)(f(_, api))
  }

  private def serve(api: WhisperApi)(f: String => Unit): Unit = {
    val server = new HttpApiServer(api)
    val port = server.start()
    try f(s"http://127.0.0.1:$port")
    finally server.stop()
  }

  /** A native snapshot on disk, as a deployment loads it: 40 nodes in
    * four `course=` directories, every third without an embedding, and
    * files attached to nodes 1 and 2.
    */
  private def nativeSnapshot(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-native").toString
    val nodes = (1 to 40).map { i =>
      Node(id = i, title = s"Doc $i", course = 100 + i % 4, subject = "S",
        author = s"A${i % 5}", date = f"2024-01-${1 + i % 28}%02d 00:00:00",
        tags = Seq(s"t${i % 3}"),
        embedding = if (i % 3 == 0) None else Some(Seq(1f + i % 7, (i % 5).toFloat, 1f)))
    }.toDS().toDF()
    val files = Seq((1L, "2024/01/01/a.txt"), (2L, "2024/01/01/b.txt")).toDF("node_id", "path")
    WdbIO.writeNative(WhisperState(nodes, files, Seq("t0", "t1", "t2"), 40L), dir)
    dir
  }

  private def nativeApi(dir: String): WhisperApi =
    new WhisperApi(WhisperDB.loadNative(spark, dir),
      new EnrichService(new MockEmbedder(8), new MockTagger))

  private def send(method: String, url: String, body: Array[Byte] = Array.empty,
                   contentType: String = "application/json"): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(url))
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofByteArray(body))
        .header("Content-Type", contentType)
    }).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def jsonField(body: String, field: String): String =
    mapper.readTree(body).get(field).asText

  test("CURL_TESTS.md CRUD script over real sockets") {
    withServer() { (base, _) =>
      // [1] health
      val (hs, hb) = send("GET", s"$base/health")
      assert(hs == 200 && jsonField(hb, "status") == "ok")
      assert(mapper.readTree(hb).get("nodes_count").asLong == 0)

      // [2] create node
      val (cs, cb) = send("POST", s"$base/api/nodes",
        """{"title":"Test Node","author":"Tester","subject":"Testing"}""".getBytes)
      assert(cs == 201, s"create is 201 Created, got $cs: $cb")
      assert(jsonField(cb, "status") == "success")
      val nodeId = jsonField(cb, "nodeId")
      assert(nodeId == "1")

      // [3] get node
      val (gs, gb) = send("GET", s"$base/api/nodes/$nodeId")
      assert(gs == 200)
      assert(mapper.readTree(gb).get("node").get("title").asText == "Test Node")
      assert(mapper.readTree(gb).get("node").get("date").asText.nonEmpty,
        "date defaulted at upload (UploadHandler.cpp:44-49)")

      // [4] update node
      val (us, ub) = send("PUT", s"$base/api/nodes/$nodeId",
        """{"title":"Updated Title","description":"Added description"}""".getBytes)
      assert(us == 200 && jsonField(ub, "message") == "Node updated")

      // [5] verify update
      val (vs, vb) = send("GET", s"$base/api/nodes/$nodeId")
      assert(vs == 200)
      assert(mapper.readTree(vb).get("node").get("title").asText == "Updated Title")
      assert(mapper.readTree(vb).get("node").get("description").asText == "Added description")

      // [6] list nodes
      val (ls, lb) = send("GET", s"$base/api/nodes")
      assert(ls == 200 && mapper.readTree(lb).get("count").asLong == 1)

      // [7] delete
      val (ds, db) = send("DELETE", s"$base/api/nodes/$nodeId")
      assert(ds == 200 && jsonField(db, "message") == "Node deleted")
      assert(jsonField(db, "deletedId") == nodeId)

      // [8] verify deletion — status=error per the script's check
      val (xs, xb) = send("GET", s"$base/api/nodes/$nodeId")
      assert(xs == 404 && jsonField(xb, "status") == "error")
    }
  }

  test("routing: 404 Endpoint not found vs 405 wrong-method vs unknown method") {
    withServer() { (base, _) =>
      val (s404, b404) = send("GET", s"$base/api/unknown")
      assert(s404 == 404 && jsonField(b404, "message") == "Endpoint not found")

      // path exists under another method → 405 (wserver.cpp:227-243)
      val (s405, b405) = send("DELETE", s"$base/api/tags")
      assert(s405 == 405 && jsonField(b405, "message") == "Method not allowed")

      // unparseable HTTP method → 405 (wserver.cpp:208-210)
      val (sm, _) = send("PATCH", s"$base/api/nodes", "{}".getBytes)
      assert(sm == 405)
    }
  }

  test("query-param envelopes: filters, pagination metadata, 400 on bad limit") {
    withServer() { (base, _) =>
      for (i <- 1 to 5)
        send("POST", s"$base/api/nodes",
          s"""{"title":"N$i","author":"A${i % 2}","subject":"S"}""".getBytes)

      val (_, all) = send("GET", s"$base/api/nodes?sort=id&order=desc")
      val tree = mapper.readTree(all)
      assert(tree.get("count").asLong == 5)
      assert(tree.get("nodes").get(0).get("title").asText == "N5")
      assert(tree.get("limit") == null, "no pagination metadata without limit")

      val (_, page) = send("GET", s"$base/api/nodes?limit=2&offset=1&sort=id&order=asc")
      val pt = mapper.readTree(page)
      assert(pt.get("count").asLong == 2)
      assert(pt.get("limit").asInt == 2 && pt.get("offset").asInt == 1,
        "limit>0 adds pagination metadata (main.cpp:116-121)")
      assert(pt.get("nodes").get(0).get("id").asLong == 2)

      val (_, filtered) = send("GET", s"$base/api/nodes/count?author=A1")
      assert(mapper.readTree(filtered).get("count").asLong == 3)

      val (bs, bb) = send("GET", s"$base/api/nodes?limit=abc")
      assert(bs == 400 && jsonField(bb, "message") == "Invalid limit parameter")
    }
  }

  test("create quirks: 201-with-error envelope on invalid metadata, " +
       "400 No data received on empty body") {
    withServer() { (base, _) =>
      // validation failure STILL ships 201 Created — the reference wraps
      // handleUpload's error string in Response::created (main.cpp:230)
      val (vs, vb) = send("POST", s"$base/api/nodes",
        """{"title":"T"}""".getBytes)
      assert(vs == 201 && jsonField(vb, "status") == "error")
      assert(jsonField(vb, "message").startsWith("Invalid metadata:"))

      val (es, eb) = send("POST", s"$base/api/nodes")
      assert(es == 400 && jsonField(eb, "message") == "No data received")

      val (js, jb) = send("POST", s"$base/api/nodes", "not json {".getBytes)
      assert(js == 400 && jsonField(jb, "message").startsWith("Invalid JSON"))
    }
  }

  private def multipartBody(boundary: String,
                            fields: Seq[(String, String)],
                            files: Seq[(String, String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("UTF-8"))
    fields.foreach { case (name, value) =>
      w(s"--$boundary\r\n")
      w(s"""Content-Disposition: form-data; name="$name"\r\n\r\n""")
      w(value); w("\r\n")
    }
    files.foreach { case (name, filename, data) =>
      w(s"--$boundary\r\n")
      w(s"""Content-Disposition: form-data; name="$name"; filename="$filename"\r\n""")
      w("Content-Type: application/octet-stream\r\n\r\n")
      out.write(data); w("\r\n")
    }
    w(s"--$boundary--\r\n")
    out.toByteArray
  }

  test("Q4 + POST /test: multipart part counting over the wire") {
    withServer() { (base, _) =>
      val boundary = "XGRAFTBOUNDARY"
      val body = multipartBody(boundary,
        Seq("alpha" -> "1", "beta" -> "2"),
        Seq(("file", "data.bin", Array[Byte](0, 1, 2, 3))))
      val (s, b) = send("POST", s"$base/test?verbose=1", body,
        s"multipart/form-data; boundary=$boundary")
      assert(s == 200)
      assert(b.startsWith("Test endpoint. Got 3 parts."), s"got: $b")
      assert(b.contains("""name="file", filename="data.bin", size=4 bytes"""))
      assert(b.contains("verbose=1"))
      // countParts (the Q4 scalar) agrees with the parse the route used
      assert(Multipart.countParts(body, boundary) == 3)
      assert(Multipart.countParts(body, "wrong") == 0)

      val (ms, mb) = send("POST", s"$base/test", body, "multipart/form-data")
      assert(ms == 400 && jsonField(mb, "message") == "Missing multipart boundary")
    }
  }

  test("multipart create-with-file and POST /api/nodes/:id/files " +
       "store blobs through the FileStore") {
    val root = java.nio.file.Files.createTempDirectory("graft-http-files").toString
    val store = new graft.io.FileStore(root,
      clock = () => 1717200000000L, rand = () => 42)
    withServer(Some(store)) { (base, _) =>
      val boundary = "XGRAFTBOUNDARY2"
      val body = multipartBody(boundary,
        Seq("metadata" ->
          """{"title":"With File","author":"A","subject":"S"}"""),
        Seq(("file", "doc.txt", "hello blob".getBytes("UTF-8"))))
      val (cs, cb) = send("POST", s"$base/api/nodes", body,
        s"multipart/form-data; boundary=$boundary")
      assert(cs == 201 && jsonField(cb, "status") == "success", cb)
      val nodeId = jsonField(cb, "nodeId")
      val stored = mapper.readTree(cb).get("files").get(0).get("storedPath").asText
      assert(stored == "2024/06/01/doc_1717200000000_0042.txt")
      assert(new String(store.readFile(stored), "UTF-8") == "hello blob")

      // attach a second file via the files route
      val fbody = multipartBody("B2", Seq.empty,
        Seq(("file", "extra.md", "# extra".getBytes("UTF-8"))))
      val (as, ab) = send("POST", s"$base/api/nodes/$nodeId/files", fbody,
        "multipart/form-data; boundary=B2")
      assert(as == 201, ab)
      val addedPath = mapper.readTree(ab).get("addedFiles").get(0).asText
      assert(store.exists(addedPath))

      val (ls, lb) = send("GET", s"$base/api/nodes/$nodeId/files")
      assert(ls == 200 && mapper.readTree(lb).get("files").size == 2)

      // no file parts → 400 (main.cpp:371-373)
      val nofiles = multipartBody("B3", Seq("x" -> "y"), Seq.empty)
      val (ns, nb) = send("POST", s"$base/api/nodes/$nodeId/files", nofiles,
        "multipart/form-data; boundary=B3")
      assert(ns == 400 && jsonField(nb, "message") == "No files provided")

      // delete cascades blob removal over HTTP
      val (ds, _) = send("DELETE", s"$base/api/nodes/$nodeId")
      assert(ds == 200)
      assert(!store.exists(stored) && !store.exists(addedPath))
    }
  }

  test("tag routes: bank envelope and by-tag node payloads") {
    withServer() { (base, api) =>
      send("POST", s"$base/api/nodes",
        """{"title":"T1","author":"A","subject":"S","tags":["scala","spark"]}""".getBytes)
      send("POST", s"$base/api/nodes",
        """{"title":"T2","author":"A","subject":"S","tags":["spark"]}""".getBytes)

      val (_, byTag) = send("GET", s"$base/api/tags/spark/nodes")
      val bt = mapper.readTree(byTag)
      assert(bt.get("tag").asText == "spark" && bt.get("count").asLong == 2)
      assert(bt.get("nodes").get(0).get("tags").isArray)

      val (_, bank) = send("GET", s"$base/api/tags")
      // tag bank is the controlled vocabulary (filled by tagging runs),
      // not the union of node tags — empty here
      assert(mapper.readTree(bank).get("count").asLong == 0)

      val (lks, lkb) = send("POST", s"$base/api/tags/link-all?threshold=0.3")
      assert(lks == 200 && mapper.readTree(lkb).get("linksCreated").asLong >= 1,
        "shared 'spark' tag links the two nodes")

      val (bts, btb) = send("POST", s"$base/api/tags/link-all?threshold=7")
      assert(bts == 400 &&
        jsonField(btb, "message") == "Threshold must be between 0 and 1")
    }
  }

  test("GET /api/clusters: V8 summary over a live socket (main.cpp:699-726)") {
    withServer() { (base, _) =>
      val (es, eb) = send("GET", s"$base/api/clusters")
      assert(es == 200 && jsonField(eb, "status") == "success")
      assert(mapper.readTree(eb).get("count").asLong == 0, "empty DB: no clusters")

      // two shared-tag pairs + one isolated node -> 3 components
      send("POST", s"$base/api/nodes",
        """{"title":"N1","author":"A","subject":"S","tags":["alpha","x1"]}""".getBytes)
      send("POST", s"$base/api/nodes",
        """{"title":"N2","author":"A","subject":"S","tags":["alpha","x2"]}""".getBytes)
      send("POST", s"$base/api/nodes",
        """{"title":"N3","author":"A","subject":"S","tags":["beta","y1"]}""".getBytes)
      send("POST", s"$base/api/nodes",
        """{"title":"N4","author":"A","subject":"S","tags":["beta","y2"]}""".getBytes)
      send("POST", s"$base/api/nodes",
        """{"title":"N5","author":"A","subject":"S","tags":["solo"]}""".getBytes)
      val (ls, lb) = send("POST", s"$base/api/tags/link-all?threshold=0.3")
      assert(ls == 200 && mapper.readTree(lb).get("linksCreated").asLong >= 2)

      val (cs, cb) = send("GET", s"$base/api/clusters")
      assert(cs == 200, cb)
      val root = mapper.readTree(cb)
      assert(root.get("status").asText == "success")
      assert(root.get("count").asLong == 3, s"2 pairs + 1 singleton: $cb")
      val clusters = root.get("clusters")
      assert(clusters.size == 3)
      // reference envelope per cluster: id, nodes, size, sharedTags
      val first = clusters.get(0)
      assert(first.has("id") && first.has("nodes") && first.has("size")
        && first.has("sharedTags"))
      assert(first.get("size").asLong == 2, "cluster_id assigned size-desc")
      val byMember = (0 until clusters.size).map(clusters.get)
        .map(c => ((0 until c.get("nodes").size).map(i =>
          c.get("nodes").get(i).asLong).sorted, c))
      val alphaCluster = byMember.find(_._1 == Seq(1L, 2L)).map(_._2)
      assert(alphaCluster.isDefined, s"nodes 1,2 share 'alpha': $cb")
      val sharedTags = alphaCluster.get.get("sharedTags")
      assert((0 until sharedTags.size).map(sharedTags.get(_).asText)
        .contains("alpha"))
      assert(byMember.exists(_._1 == Seq(5L)), "isolated node is a singleton cluster")
    }
  }

  test("route table covers all 18 reference entry points (main.cpp:125-726)") {
    // the full §2.7 surface in the reference's registration order; a
    // route dropped from the table (the r5 /api/clusters miss) fails here
    val expected = Seq(
      "GET" -> "/api/nodes", "GET" -> "/api/nodes/count",
      "GET" -> "/api/nodes/:id", "POST" -> "/api/nodes",
      "PUT" -> "/api/nodes/:id", "DELETE" -> "/api/nodes/:id",
      "GET" -> "/api/nodes/:id/files", "POST" -> "/api/nodes/:id/files",
      "GET" -> "/health", "POST" -> "/test",
      "POST" -> "/api/cluster", "POST" -> "/api/nodes/:id/embedding",
      "GET" -> "/api/nodes/:id/similar", "POST" -> "/api/nodes/:id/tags",
      "GET" -> "/api/tags", "GET" -> "/api/tags/:tag/nodes",
      "POST" -> "/api/tags/link-all", "GET" -> "/api/clusters")
    val api = new WhisperApi(WhisperDB.empty(spark),
      new EnrichService(new MockEmbedder(8), new MockTagger), None)
    val table = new HttpApiServer(api).routeTable
    assert(table.size == 18, s"18 reference endpoints, got ${table.size}")
    assert(table.toSet == expected.toSet,
      s"missing: ${expected.toSet -- table.toSet}; extra: ${table.toSet -- expected.toSet}")
    // count-before-:id insertion-order quirk must survive any re-order
    assert(table.indexOf("GET" -> "/api/nodes/count")
      < table.indexOf("GET" -> "/api/nodes/:id"))
  }

  test("similar/embedding routes: no-embedding 400, then end-to-end " +
       "similarity with generated embeddings") {
    withServer() { (base, _) =>
      for (i <- 1 to 3)
        send("POST", s"$base/api/nodes",
          s"""{"title":"Doc $i","author":"A","subject":"S","description":"text $i"}""".getBytes)

      val (ns, nb) = send("GET", s"$base/api/nodes/1/similar")
      assert(ns == 400 &&
        jsonField(nb, "message") == "Node has no embedding. Generate embedding first.")

      // generateEmbedding embeds all missing (E3 batch underneath)
      val (es, _) = send("POST", s"$base/api/nodes/1/embedding")
      assert(es == 200)
      val (ss, sb) = send("GET", s"$base/api/nodes/1/similar?limit=2")
      assert(ss == 200, sb)
      val sims = mapper.readTree(sb).get("similarNodes")
      assert(sims.size == 2)
      assert(sims.get(0).get("similarity") != null)
      assert(sims.get(0).get("embedding") != null,
        "similar nodes carry their full payload incl. embedding (main.cpp:556-563)")

      // invalid limit is IGNORED here (reference catch{}), not a 400
      val (is, ib) = send("GET", s"$base/api/nodes/1/similar?limit=zzz")
      assert(is == 200 && mapper.readTree(ib).get("similarNodes").size == 2)

      val (cs, cb) = send("POST", s"$base/api/cluster?threshold=0.5")
      assert(cs == 200, cb)
      assert(mapper.readTree(cb).get("nodesProcessed").asLong == 3)
    }
  }

  test("8 concurrent mutating clients: distinct id allocation, no lost " +
       "updates across nodes, consistent final count") {
    // the reference server is sequential; ours shares one SparkSession
    // across a handler pool — this pins that parallel create/update/
    // delete interleavings cannot lose writes or double-allocate ids
    withServer() { (base, _) =>
      val nClients = 8
      val perClient = 4
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nClients)
      try {
        val futures = (0 until nClients).map { c =>
          pool.submit(new java.util.concurrent.Callable[Seq[(String, Boolean)]] {
            def call(): Seq[(String, Boolean)] =
              (0 until perClient).map { i =>
                val (cs, cb) = send("POST", s"$base/api/nodes",
                  s"""{"title":"c$c-n$i","author":"client$c","subject":"load"}""".getBytes)
                assert(cs == 201 && jsonField(cb, "status") == "success",
                  s"concurrent create failed: $cs $cb")
                val id = jsonField(cb, "nodeId")
                val (us, _) = send("PUT", s"$base/api/nodes/$id",
                  s"""{"description":"updated by client $c"}""".getBytes)
                assert(us == 200, s"concurrent update failed on node $id")
                // every client deletes its even-numbered nodes
                val deleted = i % 2 == 0
                if (deleted) {
                  val (ds, db) = send("DELETE", s"$base/api/nodes/$id")
                  assert(ds == 200, s"concurrent delete failed on $id: $db")
                }
                (id, deleted)
              }
          })
        }
        val results = futures.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        val allIds = results.map(_._1)
        assert(allIds.distinct.size == nClients * perClient,
          s"id allocation raced: ${allIds.size} creates, ${allIds.distinct.size} distinct ids")
        val survivors = results.filter(!_._2).map(_._1).toSet
        val (ls, lb) = send("GET", s"$base/api/nodes?limit=1000")
        assert(ls == 200)
        val listed = mapper.readTree(lb).get("nodes")
        val listedIds = (0 until listed.size)
          .map(listed.get(_).get("id").asLong.toString).toSet
        assert(listedIds == survivors,
          s"final node set inconsistent: expected ${survivors.size} survivors, server has ${listedIds.size}")
        // no lost updates: every survivor carries its client's PUT
        (0 until listed.size).foreach { j =>
          val n = listed.get(j)
          val author = n.get("author").asText // "client<c>"
          assert(n.get("description").asText == s"updated by ${author.replace("client", "client ")}",
            s"lost update on node ${n.get("id")}: ${n.get("description").asText}")
        }
      } finally pool.shutdownNow()
    }
  }

  test("the served snapshot is memory-resident: get, list and similar " +
       "answer the same after its files are deleted") {
    val dir = nativeSnapshot()
    serve(nativeApi(dir)) { base =>
      val urls = Seq(s"$base/api/nodes/5", s"$base/api/nodes?sort=title&order=desc&limit=7",
        s"$base/api/nodes/5/similar?limit=4")
      val before = urls.map(send("GET", _))
      assert(before.forall(_._1 == 200), before)
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      assert(!java.nio.file.Files.exists(root))
      assert(urls.map(send("GET", _)) == before)
    }
  }

  test(":id routes on a loaded snapshot: similar ranks as topKSimilar; " +
       "404 for a missing or non-numeric id wins over a bad body; 400 " +
       "without an embedding") {
    val api = nativeApi(nativeSnapshot())
    serve(api) { base =>
      val (ss, sb) = send("GET", s"$base/api/nodes/1/similar?limit=5")
      assert(ss == 200, sb)
      val sims = mapper.readTree(sb).get("similarNodes")
      val got = (0 until sims.size).map(i =>
        (sims.get(i).get("id").asLong, sims.get(i).get("similarity").asDouble))
      val expected = SimilarityOps.topKSimilar(
        api.db.nodes.filter(col("embedding").isNotNull), "id", "embedding", 1L, 5)
        .select("id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == expected)

      val (ns, nb) = send("GET", s"$base/api/nodes/3/similar")
      assert(ns == 400 &&
        jsonField(nb, "message") == "Node has no embedding. Generate embedding first.")
      for (id <- Seq("999", "abc")) {
        val notFound = s"Node not found: $id"
        for ((method, path) <- Seq("GET" -> s"/api/nodes/$id", "GET" -> s"/api/nodes/$id/similar",
                                   "PUT" -> s"/api/nodes/$id", "DELETE" -> s"/api/nodes/$id")) {
          val (st, b) = send(method, base + path, "not json".getBytes)
          assert(st == 404 && jsonField(b, "message") == notFound, s"$method $path: $st $b")
        }
      }
      val (bs, bb) = send("PUT", s"$base/api/nodes/2", "not json".getBytes)
      assert(bs == 400 && jsonField(bb, "message") == "Invalid JSON body")
    }
  }

  test("Spark jobs per request on a loaded snapshot: GET 2, similar 2, " +
       "PUT 2, DELETE 1") {
    // (and tag 1: GET /api/tags/:tag/nodes is one filtered scan).
    // One client, so every job between two sentinels is that request's
    // (handler threads carry no job group); a re-added existence probe
    // or a second read of the node changes a count here
    val api = nativeApi(nativeSnapshot())
    val work = new SparkWork(spark.sparkContext)
    /** Jobs started since the last call, once the listener bus has
      * delivered them (handler threads carry no job group).
      */
    def jobsSinceLast(): Int = work.take("").jobs
    try serve(api) { base =>
      jobsSinceLast()
      def jobs(method: String, path: String, body: String = ""): Int = {
        val (st, b) = send(method, base + path, body.getBytes)
        assert(st == 200, s"$method $path: $st $b")
        jobsSinceLast()
      }
      val counts = Seq(
        "GET" -> jobs("GET", "/api/nodes/1"),
        "similar" -> jobs("GET", "/api/nodes/1/similar?limit=5"),
        "tag" -> jobs("GET", "/api/tags/t1/nodes"),
        "PUT" -> jobs("PUT", "/api/nodes/2", """{"title":"Patched"}"""),
        "DELETE" -> jobs("DELETE", "/api/nodes/4"),
        "GET after writes" -> jobs("GET", "/api/nodes/2"),
        "similar after writes" -> jobs("GET", "/api/nodes/2/similar?limit=5"))
      assert(counts == Seq("GET" -> 2, "similar" -> 2, "tag" -> 1, "PUT" -> 2, "DELETE" -> 1,
        "GET after writes" -> 2, "similar after writes" -> 2))
    } finally work.close()
  }

  test("no code is generated per request") {
    // a request's plan inlines its own id, filter value or patch, so
    // generated code would be new for every request: the facade's
    // session interprets instead. Round one, every write kind and then
    // every read kind, warms what is compiled once per column-type list
    // (the in-memory scan's column accessors, which have no interpreted
    // form); round two, on fresh ids, filters, courses and writes, must
    // compile nothing.
    val api = nativeApi(nativeSnapshot())
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    serve(api) { base =>
      def ok(method: String, path: String, body: String = ""): String = {
        val (st, b) = send(method, base + path, body.getBytes)
        assert(st == 200 || st == 201, s"$method $path: $st $b")
        b
      }
      def round(id: Int, author: String, course: Int, title: String, tag: String): Unit = {
        val created = jsonField(ok("POST", "/api/nodes",
          s"""{"title":"New $id","author":"$author","subject":"S","course":$course,"tags":["$tag"]}"""), "nodeId")
        ok("PUT", s"/api/nodes/$created", s"""{"title":"Patched $id","course":"${course + 1}"}""")
        ok("PUT", s"/api/nodes/$id", s"""{"description":"patched by round $id"}""")
        ok("GET", s"/api/nodes/$created")
        ok("DELETE", s"/api/nodes/$created")
        ok("DELETE", s"/api/nodes/${id + 1}")
        ok("GET", s"/api/nodes/$id")
        ok("GET", s"/api/nodes/$id/files")
        ok("GET", s"/api/nodes/$id/similar?limit=3")
        ok("GET", s"/api/nodes?author=$author&sort=title&order=desc&limit=5")
        ok("GET", s"/api/nodes?course=$course&title=$title&sort=date&limit=3&offset=1")
        ok("GET", s"/api/nodes/count?author=$author&course=$course")
        ok("GET", s"/api/tags/$tag/nodes")
        ok("GET", "/api/tags")
        ok("GET", "/health")
      }
      round(1, "A1", 101, "Doc", "t0")
      val before = compiles()
      round(7, "A3", 103, "Doc+1", "t2")
      assert(compiles() == before, s"${compiles() - before} classes compiled in round two")
    }
    // the caller's session keeps whole-stage codegen
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    val plan = spark.range(10).selectExpr("id * 2 AS x").filter("x > 3").queryExecution.executedPlan
    assert(plan.collectFirst { case w: WholeStageCodegenExec => w }.isDefined, plan.treeString)
  }

  test("stop() ends every handler thread of the server") {
    def handlers(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(HttpApiServer.HandlerThreadPrefix)).toSet
    val before = handlers()
    var ours = Set.empty[Thread]
    withServer() { (base, _) =>
      assert(send("GET", s"$base/health")._1 == 200)
      ours = handlers() -- before
    }
    assert(ours.nonEmpty, "the request ran on no handler thread of this server")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (ours.exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(10)
    assert(!ours.exists(_.isAlive),
      s"handler threads alive after stop(): ${ours.filter(_.isAlive).map(_.getName)}")
  }
}
