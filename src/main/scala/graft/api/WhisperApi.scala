package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Sessions
import graft.{NodeFilters, NodePatch, WhisperDB}
import graft.enrich.{ClusteringReport, EnrichService, TaggingReport}
import graft.model.{Node, NodeCodec}
import graft.similarity.SimilarityOps
import graft.tags.TagOps

/** API-level result envelope (reference: {"status": ..., ...} with
  * error mapping in include/http/Request.hpp:42-74).
  */
sealed trait ApiResult[+A] { def status: String }
case class ApiOk[A](value: A) extends ApiResult[A] { val status = "success" }
case class ApiError(code: Int, message: String) extends ApiResult[Nothing] {
  val status = "error"
}

/** C10: metadata validation at the create entry point — stricter than
  * load/PUT coercion (reference: src/server/UploadHandler.cpp:83-155):
  * non-empty string title/author/subject; course int or numeric string;
  * tags must be an ARRAY of non-empty strings (the comma-string
  * coercion is NOT reachable from POST create — intentional asymmetry,
  * SURVEY §1.2).
  */
object Validation {
  def validateCreate(title: Option[String], author: Option[String],
                     subject: Option[String], course: Option[String],
                     tags: Option[Either[String, Seq[String]]]): Either[String, Unit] = {
    if (title.forall(_.isEmpty)) Left("Missing or empty required field: title")
    else if (author.forall(_.isEmpty)) Left("Missing or empty required field: author")
    else if (subject.forall(_.isEmpty)) Left("Missing or empty required field: subject")
    else if (course.exists(c => NodeCodec.coerceCourse(c).isEmpty))
      Left("Field 'course' must be an integer or numeric string")
    else tags match {
      case Some(Left(_)) =>
        Left("Field 'tags' must be an array of strings") // comma-string rejected at POST
      case Some(Right(ts)) if ts.exists(_.isEmpty) =>
        Left("Field 'tags' must contain non-empty strings")
      case _ => Right(())
    }
  }
}

/** A node as one request reads it: the snapshot current when the
  * request began, and the node's row in that snapshot.
  */
final case class NodeRead(db: WhisperDB, row: Row) {
  def id: Long = row.getLong(0)
  /** The node's vector; None when the column is null. */
  lazy val embedding: Option[Seq[Float]] = {
    val e = row.fieldIndex("embedding")
    Option.unless(row.isNullAt(e))(row.getSeq[Float](e).toSeq)
  }
}

/** The reference's REST surface as a typed Scala facade — one method per
  * route (reference: src/main.cpp, route table in SURVEY §2.7). Holds a
  * mutable current-snapshot reference (the functional WhisperDB
  * underneath); `checkpoint*` persists on demand.
  *
  * The served snapshot is memory-resident, as the reference's GraphDB
  * holds its nodes in one in-process map: construction pins the initial
  * tables in Spark's in-memory columnar cache and materializes them, and
  * every later snapshot (a write's union, patch or filter over them)
  * scans that cache instead of re-opening the source files. The pin uses
  * `cache()`'s MEMORY_AND_DISK level: an evicted block spills to local
  * disk rather than being recomputed from a source that may have changed
  * or gone since.
  *
  * Every write installs its snapshot compacted ([[Sessions.compact]]):
  * each table is a frame over the optimized plan of the one the write
  * built, so later snapshots hold the pinned `InMemoryRelation` directly
  * and the operators writes stack on it are folded once, at the write,
  * instead of by every later request. Creates' rows stay one local
  * relation, PUTs one projection and DELETEs one filter, so a request
  * plans about the same handful of nodes after a thousand writes as
  * after one.
  *
  * Every served snapshot runs on a session the facade owns: a clone of
  * the caller's session that compiles no code ([[Sessions.interpreted]]).
  * A request's plan inlines its own id, filter value or patch, so code
  * generated for it is compiled once and never reused; interpreted, a
  * short request skips the compile. The snapshot is bound to that
  * session once, here; every write builds its snapshot from the one it
  * replaces, so it stays there. The caller's session keeps whole-stage
  * codegen.
  */
class WhisperApi(initial: WhisperDB,
                 enrich: EnrichService,
                 store: Option[graft.io.FileStore] = None) {

  Seq(initial.nodes, initial.nodeFiles).foreach(_.cache().count())

  @volatile private var current: WhisperDB = {
    val serving = Sessions.interpreted(initial.spark)
    new WhisperDB(serving, initial.state.copy(
      nodes = Sessions.rebind(initial.nodes, serving),
      nodeFiles = Sessions.rebind(initial.nodeFiles, serving)))
  }
  def db: WhisperDB = current

  /** Serializes read-modify-write transitions of `current`. The
    * reference server is strictly sequential (one request at a time);
    * ours runs handlers on a pool, so without this a concurrent
    * create/create interleaving double-allocates ids and an
    * update/delete pair loses one of the writes (check-then-act on the
    * snapshot var). Reads stay lock-free on the volatile snapshot —
    * only transitions queue, which is exactly the reference's
    * serialization point, minus blocking the readers.
    */
  private val transition = new Object

  /** Runs write `f` on the current snapshot and installs the snapshot it
    * built, compacted; returns the installed snapshot with `f`'s value.
    */
  private def install[A](f: WhisperDB => Either[ApiError, (WhisperDB, A)])
      : Either[ApiError, (WhisperDB, A)] =
    transition.synchronized {
      f(current).map { case (db, a) =>
        val next = db.withState(db.state.copy(
          nodes = Sessions.compact(db.nodes), nodeFiles = Sessions.compact(db.nodeFiles)))
        current = next
        (next, a)
      }
    }

  private def mutate[A](f: WhisperDB => Either[ApiError, (WhisperDB, A)]): ApiResult[A] =
    install(f).fold(identity, r => ApiOk(r._2))

  /** GET /api/nodes (Q1/Q2 with filters + sort + pagination). */
  def listNodes(filters: NodeFilters = NodeFilters(), sort: String = "id",
                order: String = "asc", limit: Int = 0, offset: Int = 0): DataFrame =
    current.findNodes(filters, sort, order, limit, offset)

  /** GET /api/nodes/count (Q3). */
  def countNodes(filters: NodeFilters = NodeFilters()): Long =
    current.countNodes(filters)

  /** Reads node `id` once: captures the snapshot ONCE and collects the
    * node's row from it (one Spark job). A second `current` read racing
    * a delete would answer from two different states (node from one,
    * files from another), a response no single state ever had. None when
    * the node is missing.
    */
  def readNode(id: Long): Option[NodeRead] = {
    val db = current
    db.row(id).map(NodeRead(db, _))
  }

  /** GET /api/nodes/:id (C1 + C8: node + files); the node frame holds
    * the row `readNode` already collected.
    */
  def getNode(id: Long): ApiResult[(DataFrame, DataFrame)] =
    readNode(id) match {
      case Some(n) =>
        ApiOk((n.db.spark.createDataFrame(java.util.List.of(n.row), n.db.nodes.schema),
          n.db.getNodeFiles(id)))
      case None => notFound(id)
    }

  private def notFound(id: Long) = ApiError(404, s"Node $id not found")

  /** POST /api/nodes (C9/C10: validate + default date + insert).
    * `now` is injectable for determinism (the reference stamps wall
    * clock, UploadHandler.cpp:44-49).
    */
  def createNode(n: Node, now: () => String = WhisperApi.defaultNow): ApiResult[Long] =
    Validation.validateCreate(
      Option(n.title).filter(_.nonEmpty), Option(n.author), Option(n.subject),
      Some(n.course.toString), Some(Right(n.tags))) match {
      case Left(msg) => ApiError(400, msg)
      case Right(_) =>
        val stamped = if (n.date.isEmpty) n.copy(date = now()) else n
        mutate(db => Right(db.addNode(stamped)))
    }

  /** PUT /api/nodes/:id (C4; id in the patch is ignored — stripped at
    * the reference API, main.cpp:275).
    */
  def updateNode(id: Long, patch: NodePatch): ApiResult[Long] =
    patchNode(id, patch) match {
      case ApiOk(_) => ApiOk(id)
      case e: ApiError => e
    }

  /** `updateNode` returning the snapshot the write installed, so the
    * HTTP route answers with the node as this write left it even when a
    * later write has already replaced `current`.
    */
  private[api] def patchNode(id: Long, patch: NodePatch): ApiResult[WhisperDB] =
    install { db =>
      if (!db.exists(id)) Left(notFound(id))
      else Right((db.updateNode(id, patch), ()))
    }.fold(identity, r => ApiOk(r._1))

  /** DELETE /api/nodes/:id (C5); cascades blob deletes through the
    * configured FileStore (reference GraphDB.cpp:398-407).
    */
  def deleteNode(id: Long): ApiResult[Long] =
    mutate { db =>
      if (!db.exists(id)) Left(notFound(id))
      else Right((store match {
        case Some(st) => db.deleteNode(id, st)
        case None => db.deleteNode(id)
      }, id))
    }

  /** GET /api/nodes/:id/files (C8). */
  def listFiles(id: Long): DataFrame = current.getNodeFiles(id)

  /** POST /api/nodes/:id/files (C6), path-only variant: records a
    * pre-stored path without writing a blob.
    */
  def attachFile(id: Long, path: String): ApiResult[String] =
    mutate { db =>
      if (!db.exists(id)) Left(notFound(id))
      else Right((db.addFileToNode(id, path), path))
    }

  /** POST /api/nodes/:id/files (C6 + S5) with CONTENT — the reference's
    * multipart upload path (main.cpp routes → GraphDB.cpp:416-448):
    * saves the blob via FileStore, records the stored path, sets
    * storage_path on first attach. Returns the stored relative path.
    */
  def attachFile(id: Long, filename: String,
                 content: Array[Byte]): ApiResult[String] =
    store match {
      case None => ApiError(500, "No file store configured")
      case Some(st) =>
        mutate { db =>
          if (!db.exists(id)) Left(notFound(id))
          else Right(db.addFileToNode(id, filename, content, st))
        }
    }

  /** DELETE /api/nodes/:id/files (C7 + S7): detaches and deletes the
    * blob when a store is configured (GraphDB.cpp:450-475).
    */
  def detachFile(id: Long, path: String): ApiResult[String] =
    mutate { db =>
      if (!db.exists(id)) Left(notFound(id))
      else Right((store match {
        case Some(st) => db.removeFileFromNode(id, path, st)
        case None => db.removeFileFromNode(id, path)
      }, path))
    }

  /** GET /api/nodes/:id/similar?limit (V5, default k=10). Snapshot
    * captured once — see readNode.
    */
  def similarNodes(id: Long, limit: Int = 10): ApiResult[DataFrame] =
    readNode(id) match {
      case Some(n) => ApiOk(similarTo(n, limit))
      case None => notFound(id)
    }

  /** V5 for a node already read: ranks the other embedded nodes of the
    * same snapshot against the row's own vector. A node without an
    * embedding has no neighbours (an empty frame).
    */
  def similarTo(n: NodeRead, limit: Int): DataFrame =
    SimilarityOps.topKSimilarTo(
      n.db.nodes.filter(col("embedding").isNotNull && lit(n.embedding.isDefined)),
      "id", "embedding", n.id, n.embedding.getOrElse(Seq.empty), limit)

  /** POST /api/nodes/:id/embedding (E5). */
  def generateEmbedding(id: Long): ApiResult[Long] =
    mutate { db =>
      if (!db.exists(id)) Left(notFound(id))
      else {
        val (nodes2, _) = enrich.generateMissingEmbeddings(db.nodes)
        Right((db.withState(db.state.copy(nodes = nodes2)), id))
      }
    }

  /** POST /api/nodes/:id/tags (E7). */
  def generateTags(id: Long): ApiResult[TaggingReport] =
    mutate { db =>
      if (!db.exists(id)) Left(notFound(id))
      else Right(enrich.generateTagsForNode(db, id))
    }

  /** POST /api/cluster?threshold (V7, default 0.75; threshold must be
    * in [0,1] like POST /api/tags/link-all, main.cpp:675-677).
    */
  def cluster(threshold: Double = 0.75): ApiResult[ClusteringReport] =
    if (threshold < 0 || threshold > 1) ApiError(400, "threshold must be in [0,1]")
    else mutate(db => Right(enrich.runClustering(db, threshold)))

  /** GET /api/tags (T1). */
  def getTags: Seq[String] = current.tagBank

  /** GET /api/tags/:tag/nodes (T3 with the node payload): one filtered
    * scan, in Node.schema column order.
    */
  def nodesByTag(tag: String): DataFrame =
    current.nodes.filter(TagOps.hasTag(tag)).select(Node.schema.fieldNames.map(col): _*)

  /** POST /api/tags/link-all?threshold (E9 batch). */
  def linkAllByTags(threshold: Double = 0.3): ApiResult[Long] =
    if (threshold < 0 || threshold > 1) ApiError(400, "threshold must be in [0,1]")
    else mutate(db => Right(enrich.updateAllTagBasedLinks(db, threshold)))

  /** GET /api/clusters (V8). */
  def clusters(): DataFrame = enrich.getClusters(current)

  /** GET /health. */
  def health: Long = current.size
}

object WhisperApi {
  def defaultNow(): String =
    java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
}
