package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{FileStore, WdbIO, WhisperState}
import graft.model.{Node, NodeCodec}
import graft.tags.TagOps

/** Conjunctive filter set for Q2/Q3 (reference accepts exactly these
  * five params, src/main.cpp:72-77). Semantics
  * (reference: src/core/GraphDB.cpp:100-178):
  *  - subject/author: exact equality
  *  - course: equality after stoi; unparseable input matches nothing
  *  - title: substring contains
  *  - tag: exact array membership
  */
case class NodeFilters(
    subject: Option[String] = None,
    author: Option[String] = None,
    course: Option[String] = None,
    title: Option[String] = None,
    tag: Option[String] = None)

/** The whisper engine: an immutable, Spark-native re-expression of the
  * reference's GraphDB (reference: src/core/GraphDB.cpp). Mutations
  * return a new WhisperDB (functional snapshots); `checkpointWdb` /
  * `checkpointNative` persist on demand, replacing the reference's
  * rewrite-per-mutation (write amplification noted in SURVEY §4).
  *
  * Scale design: queries are plain Catalyst plans (filters push to the
  * parquet scan in native format; sort+limit compiles to
  * TakeOrderedAndProject); CRUD is union/anti-join/MERGE-style column
  * coalesce — all shuffle-free or single-shuffle.
  */
class WhisperDB(val spark: SparkSession, val state: WhisperState) {
  import WhisperDB._

  def nodes: DataFrame = state.nodes
  def nodeFiles: DataFrame = state.nodeFiles
  def tagBank: Seq[String] = state.tagBank
  def size: Long = state.declaredSize

  // =================== Q1/Q2: scan + filter + sort + paginate ===========

  /** Q1: full scan with sort + pagination (reference: GraphDB.cpp:45-98). */
  def getAllNodes(sortBy: String = "id", order: String = "asc",
                  limit: Int = 0, offset: Int = 0): DataFrame =
    sortAndPage(nodes, sortBy, order, limit, offset)

  /** Q2: conjunctive filter + sort + pagination (GraphDB.cpp:100-178). */
  def findNodes(filters: NodeFilters, sortBy: String = "id",
                order: String = "asc", limit: Int = 0, offset: Int = 0): DataFrame =
    sortAndPage(nodes.filter(filterPredicate(filters)), sortBy, order, limit, offset)

  /** Q3: filtered count (GraphDB.cpp:192-230). */
  def countNodes(filters: NodeFilters = NodeFilters()): Long =
    nodes.filter(filterPredicate(filters)).count()

  // ============================ C1/C2: lookups ==========================

  /** C1: point lookup (GraphDB.cpp:30-38); None when missing. */
  def find(id: Long): Option[DataFrame] =
    if (exists(id)) Some(nodes.filter(col("id") === id)) else None

  /** C1 as a row: the node's row, None when missing. One
    * collect, so one Spark job; a `limit(1)` probe would instead scan
    * the partitions in growing batches, a job per batch, until a match.
    */
  def row(id: Long): Option[Row] = nodes.filter(col("id") === id).collect().headOption

  /** C2: existence (GraphDB.cpp:40-43); one Spark job, as `row`. */
  def exists(id: Long): Boolean =
    nodes.filter(col("id") === id).select("id").collect().nonEmpty

  // ============================ C3-C7: mutations ========================

  /** C3: insert with generated id from the reference's collision-
    * scanning process counter (GraphDB.cpp:485-491). Explicit ids
    * (load path) bypass the counter without advancing it, exactly like
    * the reference's direct map inserts. Returns (newDb, assignedId).
    */
  def addNode(n: Node): (WhisperDB, Long) = {
    val explicit = n.id >= 0 && n.id != Int.MaxValue.toLong
    val newId = if (explicit) n.id else nextId()
    import spark.implicits._
    val row = Seq(n.copy(id = newId)).toDS().toDF()
      .select(Node.schema.fieldNames.map(col): _*)
    val db = withState(state.copy(
      nodes = nodes.unionByName(row),
      declaredSize = state.declaredSize + 1,
      idCounter = if (explicit) state.idCounter else newId + 1L))
    (db, newId)
  }

  /** Smallest free id >= the process counter (reference semantics:
    * `static int nextId` scans past existing ids and post-increments —
    * it fills gaps below the max on a fresh process but NEVER rewinds,
    * so an id freed by deleting the current max is not reallocated; a
    * plain max(id)+1 would hand it out again and a concurrent
    * create/delete/create interleaving would observe id reuse). One
    * anti-join + min, no driver-side id scan.
    */
  def nextId(): Long = {
    import spark.implicits._
    val taken = nodes.select(col("id"))
    val cands = nodes.select((col("id") + lit(1L)).as("cand"))
      .filter(col("cand") >= state.idCounter)
      .unionByName(Seq(state.idCounter).toDF("cand"))
    cands.join(taken, cands("cand") === taken("id"), "left_anti")
      .agg(min(col("cand"))).collect()(0).getLong(0)
  }

  /** C4: partial update — patch only the provided fields (field-wise
    * coalesce, reference: GNode.cpp:148-205); `id` is never updatable
    * (stripped at the API, main.cpp:275). Course/tags accept the same
    * lenient coercions as load (PUT path, SURVEY §1.2).
    */
  def updateNode(id: Long, patch: NodePatch): WhisperDB = {
    val upd = nodes.withColumns(Map(
      "title" -> patched(patch.title.map(lit), col("title"), id),
      "course" -> patched(
        patch.course.map(c => lit(NodeCodec.coerceCourse(c).getOrElse(0))),
        col("course"), id),
      "subject" -> patched(patch.subject.map(lit), col("subject"), id),
      "description" -> patched(patch.description.map(lit), col("description"), id),
      "author" -> patched(patch.author.map(lit), col("author"), id),
      "date" -> patched(patch.date.map(lit), col("date"), id),
      "tags" -> patched(
        patch.tags.map(ts => array(ts.map(lit): _*).cast("array<string>")),
        col("tags"), id),
      "storage_path" -> patched(patch.storagePath.map(lit), col("storage_path"), id),
      "linkedNodes" -> patched(
        patch.linkedNodes.map(ls =>
          if (ls.isEmpty) array().cast("array<long>")
          else array(ls.map(l => lit(l)): _*).cast("array<long>")),
        col("linkedNodes"), id),
      "embedding" -> patched(
        patch.embedding.map(es =>
          if (es.isEmpty) lit(null).cast("array<float>")
          else array(es.map(e => lit(e)): _*).cast("array<float>")),
        col("embedding"), id)))
    withState(state.copy(nodes = upd))
  }

  private def patched(v: Option[Column], old: Column, id: Long): Column =
    v.map(nv => when(col("id") === id, nv).otherwise(old)).getOrElse(old)

  /** C5: delete cascade — node + its file rows (GraphDB.cpp:392-414). */
  def deleteNode(id: Long): WhisperDB =
    withState(state.copy(
      nodes = nodes.filter(col("id") =!= id),
      nodeFiles = nodeFiles.filter(col("node_id") =!= id),
      declaredSize = math.max(0, state.declaredSize - 1)))

  /** C5 + S7: delete cascade incl. stored blobs (GraphDB.cpp:398-407
    * loops the node's paths through FileStorage::deleteFile). The
    * per-node roster collect is bounded by one node's attachment count —
    * same shape as the reference's in-memory loop, not a table scan.
    */
  def deleteNode(id: Long, store: FileStore): WhisperDB = {
    nodeFiles.filter(col("node_id") === id).select("path").collect()
      .foreach(r => store.deleteFile(r.getString(0)))
    deleteNode(id)
  }

  /** C6: attach a file path; first attachment also sets storage_path
    * (GraphDB.cpp:416-448).
    */
  def addFileToNode(id: Long, path: String): WhisperDB = {
    import spark.implicits._
    val hadFiles = !nodeFiles.filter(col("node_id") === id).limit(1).isEmpty
    val files = nodeFiles.unionByName(Seq((id, path)).toDF("node_id", "path"))
    val ns =
      if (hadFiles) nodes
      else nodes.withColumn("storage_path",
        when(col("id") === id, lit(path)).otherwise(col("storage_path")))
    withState(state.copy(nodes = ns, nodeFiles = files))
  }

  /** C6 + S5: attach file CONTENT — the reference's real entry point
    * (GraphDB.cpp:416-448): FileStorage::saveFile writes the blob under
    * the date-partitioned tree, then the stored path is recorded and
    * storage_path set on the first attachment. Returns (newDb, storedPath).
    */
  def addFileToNode(id: Long, filename: String, content: Array[Byte],
                    store: FileStore): (WhisperDB, String) = {
    val rel = store.saveFile(filename, content)
    (addFileToNode(id, rel), rel)
  }

  /** C7: detach a file path; clears storage_path when it was the last
    * (GraphDB.cpp:450-475).
    */
  def removeFileFromNode(id: Long, path: String): WhisperDB = {
    val files = nodeFiles.filter(!(col("node_id") === id && col("path") === path))
    val stillHas = !files.filter(col("node_id") === id).limit(1).isEmpty
    val ns =
      if (stillHas) nodes
      else nodes.withColumn("storage_path",
        when(col("id") === id, lit("")).otherwise(col("storage_path")))
    withState(state.copy(nodes = ns, nodeFiles = files))
  }

  /** C7 + S7: detach AND delete the blob (GraphDB.cpp:463 calls
    * FileStorage::deleteFile before erasing the list entry).
    */
  def removeFileFromNode(id: Long, path: String, store: FileStore): WhisperDB = {
    val attached = !nodeFiles
      .filter(col("node_id") === id && col("path") === path).limit(1).isEmpty
    if (attached) store.deleteFile(path)
    removeFileFromNode(id, path)
  }

  /** C8: list file paths for a node (GraphDB.cpp:477-483). */
  def getNodeFiles(id: Long): DataFrame =
    nodeFiles.filter(col("node_id") === id).select("path")

  // ============================ T1/T2: tag bank =========================

  def setTagBank(bank: Seq[String]): WhisperDB =
    withState(state.copy(tagBank = bank))

  /** T2: order-preserving dedup append (GraphDB.cpp:499-506). */
  def addToTagBank(newTags: Seq[String]): WhisperDB = {
    val seen = state.tagBank.toSet
    withState(state.copy(
      tagBank = state.tagBank ++ newTags.filter(t => !seen.contains(t)).distinct))
  }

  // ============================ persistence =============================

  def checkpointWdb(path: String): Unit = WdbIO.writeWdb(state, path)
  def checkpointNative(dir: String): Unit = WdbIO.writeNative(state, dir)

  def withState(s: WhisperState): WhisperDB = new WhisperDB(spark, s)
}

object WhisperDB {

  def load(spark: SparkSession, wdbPath: String): WhisperDB =
    new WhisperDB(spark, WdbIO.readWdb(spark, wdbPath))

  def loadNative(spark: SparkSession, dir: String): WhisperDB =
    new WhisperDB(spark, WdbIO.readNative(spark, dir))

  def empty(spark: SparkSession): WhisperDB =
    new WhisperDB(spark, WdbIO.empty(spark))

  /** Build the Q2/Q3 conjunctive predicate. Quirk parity:
    * unparseable course filter matches nothing (GraphDB.cpp:119-122).
    */
  def filterPredicate(f: NodeFilters): Column = {
    val preds = Seq(
      f.subject.map(v => col("subject") === v),
      f.author.map(v => col("author") === v),
      f.course.map(v => NodeCodec.coerceCourse(v) match {
        case Some(c) => col("course") === c
        case None => lit(false)
      }),
      f.title.map(v => col("title").contains(v)),
      f.tag.map(TagOps.hasTag)).flatten
    preds.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Shared Q1/Q2 sort + slice. Quirk parity
    * (reference: GraphDB.cpp:45-98):
    *  - any order string != "asc" sorts descending (:63)
    *  - unknown sort field falls back to id (:77-79)
    *  - limit <= 0 means unlimited (:88)
    *  - `date` sorts lexicographically (format makes it correct, :75-76)
    * id is always the final tiebreak so pagination is total-ordered.
    */
  def sortAndPage(df: DataFrame, sortBy: String, order: String,
                  limit: Int, offset: Int): DataFrame = {
    val field = if (Node.sortableFields.contains(sortBy)) sortBy else "id"
    val asc = order == "asc"
    val keys =
      if (field == "id") Seq(sortKey(col("id"), asc))
      else Seq(sortKey(col(field), asc), sortKey(col("id"), asc))
    val sorted = df.orderBy(keys: _*)
    val off = if (offset > 0) sorted.offset(offset) else sorted
    if (limit > 0) off.limit(limit) else off
  }

  private def sortKey(c: Column, asc: Boolean): Column = if (asc) c.asc else c.desc
}

/** Partial-update document for C4: None = leave unchanged. Mirrors the
  * reference's "only fields present in the patch" semantics
  * (GNode.cpp:148-205).
  */
case class NodePatch(
    title: Option[String] = None,
    course: Option[String] = None,
    subject: Option[String] = None,
    description: Option[String] = None,
    author: Option[String] = None,
    date: Option[String] = None,
    tags: Option[Seq[String]] = None,
    storagePath: Option[String] = None,
    linkedNodes: Option[Seq[Long]] = None,
    embedding: Option[Seq[Float]] = None)
