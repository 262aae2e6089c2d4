package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{NodeFilters, NodePatch, WhisperDB}
import graft.api.{ApiError, ApiOk, HttpApiServer, WhisperApi}
import graft.enrich.{EnrichService, MockEmbedder, MockTagger}
import graft.io.{WdbIO, WhisperState}
import graft.model.Node

/** One generated node; the fields the workload reads back. */
final case class N(id: Long, title: String, course: Int, subject: String,
                   author: String, date: String, tags: Seq[String],
                   emb: Option[Array[Float]])

/** A seeded, reference-shaped snapshot: 10,000 nodes with title, course,
  * subject, author, date and 1-4 tags; 90% carry a unit 64-dim embedding.
  * The in-memory copy is the ground truth every response is checked
  * against.
  */
final class Snapshot(seed: Long, val size: Int = 10000) {
  val subjects: Vector[String] = Vector("Mathematics", "Physics", "Chemistry",
    "Biology", "History", "Literature", "Economics", "Philosophy",
    "Computer Science", "Psychology", "Art", "Music")
  val authors: Vector[String] = Vector.tabulate(200)(i => f"Author $i%03d")
  val courses: Vector[Int] = Vector.range(101, 141)
  val tagPool: Vector[String] = Vector.tabulate(80)(i => s"topic$i")

  val nodes: Vector[N] = {
    val r = new Random(seed)
    Vector.tabulate(size) { i =>
      val id = i + 1L
      val subject = subjects(r.nextInt(subjects.size))
      val tags = r.shuffle(tagPool).take(1 + r.nextInt(4))
      val date = f"2023-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d " +
        f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
      val emb =
        if (r.nextDouble() < 0.9) {
          val v = Array.fill(64)(r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Some(v.map(x => (x / norm).toFloat))
        } else None
      N(id, s"$subject notes ${r.nextInt(100000)}", courses(r.nextInt(courses.size)),
        subject, authors(r.nextInt(authors.size)), date, tags, emb)
    }
  }
  private val byId = nodes.map(n => n.id -> n).toMap
  def apply(id: Long): N = byId(id)
  val withEmbedding: Vector[N] = nodes.filter(_.emb.isDefined)

  /** The snapshot as a DataFrame whose schema is exactly `Node.schema`
    * (WdbIO.writeNative writes whatever it is given, and a mismatched
    * type only fails later, on read).
    */
  def toDF(spark: SparkSession): DataFrame = {
    val rows = nodes.map(n => Row(n.id, n.title, n.course, n.subject,
      s"Generated note ${n.id}", n.author, n.date, n.tags, "", Seq.empty[Long],
      n.emb.map(_.toSeq).orNull))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Node.schema)
    require(df.schema == Node.schema,
      s"generated snapshot schema ${df.schema.simpleString} != ${Node.schema.simpleString}")
    df
  }

  /** Expected ids of GET /api/nodes for one filter, sort, order and limit. */
  def list(f: Filter, sort: String, asc: Boolean, limit: Int): Seq[Long] = {
    val ord: Ordering[N] = sort match {
      case "title" => Ordering.by(n => (n.title, n.id))
      case "author" => Ordering.by(n => (n.author, n.id))
      case "course" => Ordering.by(n => (n.course, n.id))
      case "date" => Ordering.by(n => (n.date, n.id))
    }
    val sorted = nodes.filter(f.matches).sorted(ord)
    (if (asc) sorted else sorted.reverse).take(limit).map(_.id)
  }

  def count(f: Filter): Int = nodes.count(f.matches)

  /** Highest cosine similarity between `id`'s embedding and any other. */
  def bestSimilarity(id: Long): Double = {
    val q = apply(id).emb.get
    withEmbedding.iterator.filter(_.id != id).map { n =>
      var s = 0.0; var i = 0
      while (i < 64) { s += q(i).toDouble * n.emb.get(i); i += 1 }
      s
    }.max
  }
}

/** One conjunctive filter of the API (a single field here). */
final case class Filter(field: String, value: String) {
  def matches(n: N): Boolean = field match {
    case "subject" => n.subject == value
    case "author" => n.author == value
    case "course" => n.course.toString == value
    case "tag" => n.tags.contains(value)
  }
  def query: String = s"$field=${URLEncoder.encode(value, UTF_8)}"
  def toFilters: NodeFilters = field match {
    case "subject" => NodeFilters(subject = Some(value))
    case "author" => NodeFilters(author = Some(value))
    case "course" => NodeFilters(course = Some(value))
    case "tag" => NodeFilters(tag = Some(value))
  }
}

/** One timed HTTP request. */
final case class Sample(kind: String, write: Boolean, ms: Double, ok: Boolean)

/** One request of the mix. Reads target seeded ids only; writes target
  * only nodes this run created, whose field values no read filter
  * matches, so every read has an exact expected answer.
  */
sealed trait Op { def kind: String; def write: Boolean = false }
final case class ListOp(f: Filter, sort: String, asc: Boolean, limit: Int) extends Op { val kind = "list" }
final case class CountOp(f: Filter) extends Op { val kind = "count" }
final case class GetOp(id: Long) extends Op { val kind = "get" }
final case class SimilarOp(id: Long, k: Int) extends Op { val kind = "similar" }
final case class TagOp(tag: String) extends Op { val kind = "tag" }
final case class CreateOp(client: Int, n: Int) extends Op {
  val kind = "create"; override val write = true
  def title = s"perfbench created $client-$n"
  def json: String =
    s"""{"title":"$title","author":"perfbench writer $client","subject":"perfbench",""" +
      s""""course":${9000 + client},"tags":["perfbench-created"]}"""
}
final case class UpdateOp(id: Long, title: String) extends Op {
  val kind = "update"; override val write = true
}
final case class DeleteOp(id: Long) extends Op { val kind = "delete"; override val write = true }

/** The `api_mixed` workload: an HTTP closed loop against `HttpApiServer`
  * serving the snapshot through `WhisperDB.loadNative`. About 80% reads
  * (list with filter + sort + limit, count, get by id, similar, nodes by
  * tag) and 20% writes (create, update and delete of nodes the run made).
  */
final class ApiWorkload(spark: SparkSession, seed: Long, outDir: Path, seconds: Int,
                        trace: Boolean) {
  private val Clients = 4
  private val snap = new Snapshot(seed)
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private var base = ""
  private val failures = ArrayBuffer.empty[String]

  /** Client-side request stream; `created` holds ids this client made.
    * The kinds follow one fixed cycle ([[ApiWorkload.Cycle]]), each client
    * starting at its own offset, so the four clients together keep the
    * mix however few requests a run completes; the seed picks each
    * request's ids, filters and sort order.
    */
  final class Client(val idx: Int) {
    val rng = new Random(seed * 1000003L + idx)
    val created = ArrayBuffer.empty[Long]
    private var made = 0
    private var pos = idx * ApiWorkload.Cycle.size / Clients
    private def filter(field: String): Filter = Filter(field, field match {
      case "subject" => snap.subjects(rng.nextInt(snap.subjects.size))
      case "author" => snap.authors(rng.nextInt(snap.authors.size))
      case "course" => snap.courses(rng.nextInt(snap.courses.size)).toString
      case "tag" => snap.tagPool(rng.nextInt(snap.tagPool.size))
    })
    /** The request for one cycle entry, e.g. "list subject title" or "get". */
    def op(entry: String): Op = entry.split(" ").toList match {
      case List("list", field, sort) => ListOp(filter(field), sort, rng.nextBoolean(), 10)
      case List("count", field) => CountOp(filter(field))
      case List("get") => GetOp(1L + rng.nextInt(snap.size))
      case List("similar") => SimilarOp(snap.withEmbedding(rng.nextInt(snap.withEmbedding.size)).id, 5)
      case List("tag") => TagOp(snap.tagPool(rng.nextInt(snap.tagPool.size)))
      case List("update") if created.nonEmpty =>
        UpdateOp(created(rng.nextInt(created.size)), s"perfbench updated ${rng.nextInt(1000000)}")
      case List("delete") if created.nonEmpty => DeleteOp(created.remove(rng.nextInt(created.size)))
      case _ => made += 1; CreateOp(idx, made)
    }
    def next(): Op = {
      pos += 1
      op(ApiWorkload.Cycle((pos - 1) % ApiWorkload.Cycle.size))
    }
  }

  private def send(op: Op): HttpResponse[String] = {
    val b = HttpRequest.newBuilder()
    val req = op match {
      case ListOp(f, sort, asc, limit) =>
        b.uri(URI.create(s"$base/api/nodes?${f.query}&sort=$sort&order=${if (asc) "asc" else "desc"}&limit=$limit")).GET()
      case CountOp(f) => b.uri(URI.create(s"$base/api/nodes/count?${f.query}")).GET()
      case GetOp(id) => b.uri(URI.create(s"$base/api/nodes/$id")).GET()
      case SimilarOp(id, k) => b.uri(URI.create(s"$base/api/nodes/$id/similar?limit=$k")).GET()
      case TagOp(tag) => b.uri(URI.create(s"$base/api/tags/$tag/nodes")).GET()
      case c: CreateOp => b.uri(URI.create(s"$base/api/nodes"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(c.json))
      case UpdateOp(id, title) => b.uri(URI.create(s"$base/api/nodes/$id"))
        .header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofString(s"""{"title":"$title"}"""))
      case DeleteOp(id) => b.uri(URI.create(s"$base/api/nodes/$id")).DELETE()
    }
    http.send(req.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def ids(arr: JsonNode): Seq[Long] =
    (0 until arr.size).map(i => arr.get(i).get("id").asLong)

  /** None when the response is right; otherwise what was wrong. */
  private def check(op: Op, client: Client, resp: HttpResponse[String]): Option[String] = {
    val j = mapper.readTree(resp.body)
    def expect(status: Int)(ok: => Boolean): Option[String] =
      if (resp.statusCode != status) Some(s"status ${resp.statusCode}")
      else if (j.path("status").asText != "success") Some("status field not success")
      else if (!ok) Some("wrong content")
      else None
    op match {
      case ListOp(f, sort, asc, limit) =>
        expect(200)(ids(j.get("nodes")) == snap.list(f, sort, asc, limit))
      case CountOp(f) => expect(200)(j.get("count").asLong == snap.count(f))
      case GetOp(id) => expect(200) {
        val n = j.get("node")
        n.get("id").asLong == id && n.get("title").asText == snap(id).title
      }
      case SimilarOp(id, k) => expect(200) {
        val sims = (0 until j.get("similarNodes").size)
          .map(i => j.get("similarNodes").get(i).get("similarity").asDouble)
        sims.size == k && sims.zip(sims.drop(1)).forall { case (a, b) => a >= b } &&
          math.abs(sims.head - snap.bestSimilarity(id)) < 1e-4
      }
      case TagOp(tag) => expect(200) {
        val got = ids(j.get("nodes"))
        got.size == snap.count(Filter("tag", tag)) &&
          got.forall(i => i <= snap.size && snap(i).tags.contains(tag))
      }
      case _: CreateOp => expect(201) {
        val id = j.get("nodeId").asText.toLong
        client.created += id
        id > snap.size
      }
      case UpdateOp(_, title) => expect(200)(j.get("node").get("title").asText == title)
      case DeleteOp(id) => expect(200)(j.get("deletedId").asText == id.toString)
    }
  }

  /** Sends, times and checks one request. */
  private def request(op: Op, client: Client): Sample = {
    val t0 = System.nanoTime()
    val resp = try Right(send(op)) catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = resp.fold(Some(_), r =>
      try check(op, client, r)
      catch { case e: Exception => Some(s"unreadable response: ${e.getMessage}") })
    err.foreach(e => failures.synchronized(failures += s"${op.kind} $op: $e"))
    Sample(op.kind, op.write, ms, err.isEmpty)
  }

  /** Runs the clients until the deadline; returns every sample and the
    * throughput, summed over clients of each one's correct requests over
    * its own busy time (so a request still running at the deadline neither
    * counts nor stretches the window, and a failed one never speeds it up).
    */
  private def closedLoop(clients: Seq[Client], deadlineNs: Long): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val runs = ApiWorkload.concurrently(clients.map(c => () => {
      val buf = ArrayBuffer.empty[Sample]
      while (System.nanoTime() < deadlineNs) buf += request(c.next(), c)
      (buf.toSeq, (System.nanoTime() - t0) / 1e9)
    }))
    (runs.flatMap(_._1), runs.map { case (b, busyS) => b.count(_.ok) / busyS }.sum)
  }

  /** The operation called directly on the facade, as `request.facade`
    * then `request.collect`; returns (rows collected, DataFrame built).
    */
  private def facade(api: WhisperApi, op: Op, client: Client,
                     collect: (=> Long) => Long): (Long, DataFrame) = op match {
    case ListOp(f, sort, asc, limit) =>
      val df = api.listNodes(f.toFilters, sort, if (asc) "asc" else "desc", limit)
      (collect(df.collect().length.toLong), df)
    case CountOp(f) => api.countNodes(f.toFilters); (collect(1L), api.db.nodes)
    case GetOp(id) => api.getNode(id) match {
      case ApiOk((n, files)) => (collect(n.collect().length.toLong + files.collect().length), n)
      case ApiError(_, m) => throw new IllegalStateException(m)
    }
    case SimilarOp(id, k) => api.similarNodes(id, k) match {
      case ApiOk(df) => (collect(df.collect().length.toLong), df)
      case ApiError(_, m) => throw new IllegalStateException(m)
    }
    case TagOp(tag) =>
      val df = api.nodesByTag(tag)
      (collect(df.collect().length.toLong), df)
    case c: CreateOp =>
      api.createNode(Node(id = Int.MaxValue.toLong, title = c.title + " direct",
        author = s"perfbench writer ${c.client}", subject = "perfbench",
        course = 9000 + c.client, tags = Seq("perfbench-created"))) match {
        case ApiOk(id) => client.created += id
        case ApiError(_, m) => throw new IllegalStateException(m)
      }
      (collect(0L), api.db.nodes)
    case UpdateOp(id, title) =>
      api.updateNode(id, NodePatch(title = Some(title)))
      (collect(api.db.find(id).get.collect().length.toLong), api.db.nodes)
    case DeleteOp(_) =>
      if (client.created.nonEmpty) api.deleteNode(client.created.remove(0))
      (collect(0L), api.db.nodes)
  }

  /** One client; each request is sent over HTTP, then replayed on the
    * facade, each part under its own listener attribution. A read is also
    * sent once more with the listener detached, before the traced send on
    * even requests and after it on odd ones, as the untraced baseline of
    * the overhead; a write is sent once (a second create or delete would
    * change what the next requests see). Returns the traced requests and
    * the (traced, untraced) pairs of the reads.
    */
  private def tracedLoop(api: WhisperApi, client: Client, counters: Counters, tracer: Tracer,
                         deadlineNs: Long): (Seq[(Sample, OpSample)], Seq[(Sample, Sample)]) = {
    val sc = spark.sparkContext
    val out = ArrayBuffer.empty[(Sample, OpSample)]
    val pairs = ArrayBuffer.empty[(Sample, Sample)]
    var i = 0
    while (System.nanoTime() < deadlineNs) {
      val op = client.next()
      val g = s"req$i"
      val untracedFirst = i % 2 == 0
      def untraced(): Option[Sample] =
        if (op.write) None
        else {
          counters.detach()
          try Some(request(op, client)) finally counters.reattach()
        }
      val before = if (untracedFirst) untraced() else None
      val sample = request(op, client)
      val h1 = System.nanoTime()
      val h0 = h1 - (sample.ms * 1e6).toLong
      counters.barrier()
      val httpWork = counters.take("")
      sc.setJobGroup(s"$g/facade", s"perfbench facade ${op.kind}")
      val f0 = System.nanoTime()
      var c0, c1 = 0L
      val (rows, df) = facade(api, op, client, { n =>
        c0 = System.nanoTime()
        sc.setJobGroup(s"$g/collect", s"perfbench collect ${op.kind}")
        val r = n
        c1 = System.nanoTime()
        r
      })
      val blocks = Layers.storedBlocks(sc)
      counters.barrier()
      sc.clearJobGroup()
      val facadeWork = counters.take(s"$g/facade")
      val collectWork = counters.take(s"$g/collect")
      val facadeMs = (c0 - f0) / 1e6
      val collectMs = (c1 - c0) / 1e6
      val root = tracer.add(-1, g, "request", h0, c1, ListMap("kind" -> op.kind, "ok" -> sample.ok))
      tracer.add(root, g, "request.http", h0, h1, httpWork.json)
      val fs = tracer.add(root, g, "request.facade", f0, c1, facadeWork.json)
      tracer.add(fs, g, "request.collect", c0, c1, collectWork.json)
      out += (sample -> OpSample(op.kind, facadeMs, facadeWork.jobs, collectMs, httpWork,
        blocks, (facadeWork + collectWork).recordsRead, rows, Layers.planNodes(df),
        sample.ms - facadeMs - collectMs))
      (if (untracedFirst) before else untraced()).foreach(u => pairs += (sample -> u))
      i += 1
    }
    (out.toSeq, pairs.toSeq)
  }

  def run(jvmStartMs: Long): ListMap[String, Any] = {
    val dir = outDir.resolve("snapshot").toString
    val g0 = System.nanoTime()
    WdbIO.writeNative(WhisperState(snap.toDF(spark), WdbIO.empty(spark).nodeFiles,
      snap.tagPool, snap.size.toLong), dir)
    Main.log(f"snapshot generated and written in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    val l0 = System.nanoTime()
    val db = WhisperDB.loadNative(spark, dir)
    val ioLoadS = (System.nanoTime() - l0) / 1e9
    Main.log(f"snapshot loaded in $ioLoadS%.2f s")
    val api = new WhisperApi(db, new EnrichService(new MockEmbedder(64), new MockTagger))
    val server = new HttpApiServer(api)
    base = s"http://127.0.0.1:${server.start()}"
    try {
      // warm-up, each kind of request at least once: a client of its own
      // creates, updates and deletes a node while, on threads of their
      // own, the measuring clients each create one node (so their updates
      // and deletes always have a target of their own) and share the reads
      val warm = new Client(Clients)
      val clients = (0 until Clients).map(new Client(_))
      val reads = Seq("get", "list subject title", "count tag", "similar", "tag")
      val warmSamples = ApiWorkload.concurrently[Seq[Sample]](
        (() => Seq("create", "update", "delete").map(k => request(warm.op(k), warm))) +:
          clients.map(c => () => ("create" +: reads.indices.filter(_ % Clients == c.idx)
            .map(reads)).map(k => request(c.op(k), c)))).flatten
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      Main.log(f"warm-up done; set-up took $setupS%.2f s")
      val t0 = System.nanoTime()
      val deadline = t0 + seconds * 1000000000L
      val result = if (!trace) {
        val (samples, rps) = closedLoop(clients, deadline)
        val heapMb = Main.liveHeapMb()
        // latencies of correct responses only: a failed request is counted
        // in `failed`, never as a fast one
        val done = samples.filter(_.ok)
        val reads = done.filter(!_.write).map(_.ms)
        val writes = done.filter(_.write).map(_.ms)
        val readKindMs = done.filter(!_.write).groupBy(_.kind).values.map(xs => Stats.median(xs.map(_.ms))).toSeq
        ListMap(
          "attempted" -> (warmSamples.size + samples.size),
          "e2e" -> ListMap(
            "setup_s" -> Main.metric(setupS, "s", 1),
            "ops_per_s" -> Main.metric(rps, "1/s", done.size),
            "op_gm_ms" -> Main.metric(Stats.gmean(readKindMs), "ms", reads.size),
            "live_heap_mb" -> Main.metric(heapMb, "MB", 1)),
          "named" -> (ListMap(
            "api_rps" -> Main.metric(rps, "1/s", done.size),
            "api_read_p50_ms" -> Main.metric(Stats.median(reads), "ms", reads.size),
            "api_read_p90_ms" -> Main.metric(Stats.quantile(reads, 0.9), "ms", reads.size),
            "api_write_p50_ms" -> Main.metric(Stats.median(writes), "ms", writes.size)) ++
            done.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
              s"api_${k}_p50_ms" -> Main.metric(Stats.median(xs.map(_.ms)), "ms", xs.size)
            }))
      } else {
        // one client, so the jobs of a request's handler threads (which
        // carry no job group) are exactly that request's; it starts from
        // the state warm-up left, so two runs with one seed send the same
        // requests to the same snapshot
        val client = clients.head
        val counters = Counters.attach(spark.sparkContext)
        val tracer = new Tracer
        val (traced, pairs) = tracedLoop(api, client, counters, tracer, deadline)
        counters.detach()
        val plan = Layers.planNodes(api.db.nodes)
        val both = pairs.filter { case (t, u) => t.ok && u.ok }
        val tracedMs = both.map(_._1.ms).sum
        val untracedMs = both.map(_._2.ms).sum
        Json.writeFile(outDir.resolve("trace.json"), tracer.toJson)
        ListMap(
          "attempted" -> (warmSamples.size + traced.size + pairs.size),
          "layer" -> Layers.report(traced.map(_._2), ioLoadS,
            (tracedMs / untracedMs - 1) * 100),
          "by_op" -> Layers.byOp(traced.map(_._2)),
          "named" -> ListMap(
            "facade.plan_nodes" -> Main.metric(plan.toDouble, "count", 1),
            "untraced_read_ms" -> Main.metric(untracedMs / both.size, "ms", both.size),
            "traced_read_ms" -> Main.metric(tracedMs / both.size, "ms", both.size)),
          "counters" -> ListMap(traced.zipWithIndex.map { case ((s, o), i) =>
            f"$i%04d-${s.kind}" -> (o.work.loadIndependent + ("build_jobs" -> o.buildJobs))
          }: _*))
      }
      result ++ ListMap("failed" -> failures.size, "failures" -> failures.toSeq)
    } finally server.stop()
  }
}

object ApiWorkload {
  /** Runs each task on a thread of its own; returns their results in order. */
  def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    val out = new Array[Any](tasks.size)
    val threads = tasks.zipWithIndex.map { case (t, i) => new Thread(() => out(i) = t()) }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toSeq.map(_.asInstanceOf[A])
  }

  /** The request mix in the order sent: five rounds of the five read
    * kinds (get, list, count, similar, nodes by tag) and two of each write
    * kind (create, update, delete), 25 reads and 6 writes, about 80% and
    * 20%. Every read kind is equally frequent, and so is every write kind:
    * the split between kinds is a neutral choice, not taken from measured
    * traffic. Filter and sort fields are fixed per entry and only their
    * values come from the seed, so seeds do not change the work mix.
    * Creates, updates and deletes take turns, so with the node each client
    * creates during warm-up an update or delete always has a target.
    */
  val Cycle: Vector[String] = Vector(
    "get", "list subject title", "count author", "similar", "tag", "create",
    "get", "list course date", "count tag", "similar", "tag", "update",
    "get", "list author course", "count subject", "similar", "tag", "delete",
    "get", "list tag title", "count course", "similar", "tag", "create",
    "get", "list subject date", "count author", "similar", "tag", "update", "delete")
}
