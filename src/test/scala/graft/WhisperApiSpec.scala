package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Sessions
import scala.jdk.CollectionConverters._
import graft.api.{ApiError, ApiOk, ApiResult, NodeRead, Validation, WhisperApi}
import graft.enrich.{EnrichService, MockEmbedder, MockTagger}
import graft.io.WhisperState
import graft.model.Node
import graft.similarity.SimilarityOps
import graft.tags.TagOps

/** End-to-end facade test replaying the reference's CRUD e2e script
  * (CURL_TESTS.md:390-445): create → get → update → verify → count →
  * delete → verify-404.
  */
class WhisperApiSpec extends SparkSpec {

  private def freshApi: WhisperApi = {
    import spark.implicits._
    val empty = WhisperDB.empty(spark)
    new WhisperApi(empty, new EnrichService(new MockEmbedder(8), new MockTagger))
  }

  test("CRUD round-trip with envelope semantics") {
    val api = freshApi
    val created = api.createNode(
      Node(id = Int.MaxValue, title = "Test Node", course = 101,
        subject = "CS", author = "Tester"),
      now = () => "2024-06-01 12:00:00")
    val id = created match {
      case ApiOk(v) => v
      case e => fail(s"create failed: $e")
    }
    assert(id == 1)
    api.getNode(id) match {
      case ApiOk((df, files)) =>
        val r = df.collect()(0)
        assert(r.getString(1) == "Test Node")
        assert(r.getString(6) == "2024-06-01 12:00:00", "date defaulted via injected clock")
        assert(files.count() == 0)
      case e => fail(s"get failed: $e")
    }
    // [4]-[5] update then VERIFY the update reads back (CURL_TESTS.md:415-423)
    assert(api.updateNode(id, NodePatch(title = Some("Updated Title"),
      description = Some("Added description"))) == ApiOk(id))
    api.getNode(id) match {
      case ApiOk((df, _)) =>
        val r = df.collect()(0)
        assert(r.getString(1) == "Updated Title")
        assert(r.getString(4) == "Added description")
      case e => fail(s"verify-update failed: $e")
    }
    assert(api.countNodes() == 1)
    assert(api.deleteNode(id) == ApiOk(id))
    assert(api.getNode(id) == ApiError(404, s"Node $id not found"))
    assert(api.deleteNode(id) == ApiError(404, s"Node $id not found"))
    assert(api.health == 0)
  }

  test("C10 validation asymmetry: POST rejects what PUT accepts") {
    val api = freshApi
    // missing author -> 400 (UploadHandler.cpp:83-155)
    api.createNode(Node(id = Int.MaxValue, title = "T")) match {
      case ApiError(400, msg) => assert(msg.contains("author"))
      case other => fail(s"expected 400, got $other")
    }
    assert(Validation.validateCreate(Some("t"), Some("a"), Some("s"),
      Some("abc"), None).isLeft, "junk course rejected at POST")
    assert(Validation.validateCreate(Some("t"), Some("a"), Some("s"),
      Some("101"), Some(Left("a,b"))).isLeft,
      "comma-string tags rejected at POST (array required)")
    assert(Validation.validateCreate(Some("t"), Some("a"), Some("s"),
      Some("101"), Some(Right(Seq("a", "b")))).isRight)
  }

  test("threshold validation on cluster/link-all") {
    val api = freshApi
    assert(api.cluster(1.5).isInstanceOf[ApiError])
    assert(api.linkAllByTags(-0.1).isInstanceOf[ApiError])
  }

  test("S5-S7 file e2e (CURL_TESTS.md files script): content attach, blob " +
       "lifecycle, cascade delete") {
    val root = java.nio.file.Files.createTempDirectory("graft-files").toString
    // deterministic seams; 1717200000000 ms = 2024-06-01T00:00:00Z
    val store = new graft.io.FileStore(root,
      clock = () => 1717200000000L, rand = () => 42)
    val api = new WhisperApi(WhisperDB.empty(spark),
      new EnrichService(new MockEmbedder(8), new MockTagger), Some(store))
    val ApiOk(id) = api.createNode(
      Node(id = Int.MaxValue, title = "File Test", course = 1,
        subject = "Testing", author = "Bot"),
      now = () => "2024-06-01 00:00:00"): @unchecked

    val ApiOk(p1) = api.attachFile(id, "test_file.txt",
      "Test content".getBytes("UTF-8")): @unchecked
    assert(p1 == "2024/06/01/test_file_1717200000000_0042.txt",
      "date-partitioned unique stored name (FileStorage.cpp:96-143)")
    assert(store.exists(p1))
    assert(new String(store.readFile(p1), "UTF-8") == "Test content")
    api.getNode(id) match {
      case ApiOk((df, files)) =>
        assert(df.collect()(0).getString(8) == p1,
          "first attach sets storage_path to the STORED path (GraphDB.cpp:427-429)")
        assert(files.count() == 1)
      case e => fail(e.toString)
    }

    val ApiOk(p2) = api.attachFile(id, "test_file2.txt",
      "Additional content".getBytes("UTF-8")): @unchecked
    assert(p2 != p1 && store.exists(p2))
    assert(api.listFiles(id).count() == 2)

    // delete cascades blob removal (GraphDB.cpp:398-407)
    assert(api.deleteNode(id) == ApiOk(id))
    assert(!store.exists(p1) && !store.exists(p2), "blobs deleted from disk")
    assert(api.attachFile(99L, "x.txt", "y".getBytes) ==
      ApiError(404, "Node 99 not found"))
  }

  test("C7+S7 detach deletes the blob; last detach clears storage_path") {
    val root = java.nio.file.Files.createTempDirectory("graft-files2").toString
    var t = 0L
    val store = new graft.io.FileStore(root,
      clock = () => { t += 1; 1717200000000L + t }, rand = () => 7)
    val api = new WhisperApi(WhisperDB.empty(spark),
      new EnrichService(new MockEmbedder(8), new MockTagger), Some(store))
    val ApiOk(id) = api.createNode(
      Node(id = Int.MaxValue, title = "D", course = 1, subject = "s", author = "a"),
      now = () => "2024-06-01 00:00:00"): @unchecked
    val ApiOk(p1) = api.attachFile(id, "a.txt", "one".getBytes): @unchecked
    val ApiOk(p2) = api.attachFile(id, "b.txt", "two".getBytes): @unchecked

    assert(api.detachFile(id, p1) == ApiOk(p1))
    assert(!store.exists(p1), "detached blob removed (GraphDB.cpp:463)")
    assert(store.exists(p2), "other blob untouched")
    assert(api.listFiles(id).count() == 1)

    assert(api.detachFile(id, p2) == ApiOk(p2))
    api.getNode(id) match {
      case ApiOk((df, files)) =>
        assert(df.collect()(0).getString(8) == "",
          "last detach clears storage_path (GraphDB.cpp:468-471)")
        assert(files.count() == 0)
      case e => fail(e.toString)
    }
  }

  test("file attach reflects in storage_path and file list") {
    val api = freshApi
    val ApiOk(id) = api.createNode(
      Node(id = Int.MaxValue, title = "F", subject = "s", author = "a"),
      now = () => "2024-01-01 00:00:00"): @unchecked
    assert(api.attachFile(id, "2024/01/01/f_1_0001.pdf") == ApiOk("2024/01/01/f_1_0001.pdf"))
    assert(api.listFiles(id).count() == 1)
    api.getNode(id) match {
      case ApiOk((df, _)) =>
        assert(df.collect()(0).getString(8) == "2024/01/01/f_1_0001.pdf")
      case e => fail(e.toString)
    }
  }

  test("literal-vector top-k returns exactly topKSimilar's (id, sim) " +
       "sequence, ties and null embeddings included") {
    import spark.implicits._
    val vecs: Seq[Option[Seq[Float]]] = Seq(
      // 1-4: one direction, so sim 1.0 ties for each of them
      Some(Seq(1f, 0f, 0f)), Some(Seq(1f, 0f, 0f)), Some(Seq(1f, 0f, 0f)), Some(Seq(2f, 0f, 0f)),
      // 5, 7-9 score 0.0 against 1-4: orthogonal, zero norm, shorter, empty
      Some(Seq(0f, 1f, 0f)), None, Some(Seq(0f, 0f, 0f)), Some(Seq(1f, 1f)), Some(Seq.empty),
      Some(Seq(0.3f, 0.5f, 0.1f)), Some(Seq(-1f, 0f, 0f)), None)
    val nodes = vecs.zipWithIndex.map { case (v, i) =>
      Node(id = i + 1L, title = s"N${i + 1}", subject = "s", author = "a", embedding = v)
    }.toDS().toDF()
    val emb = nodes.filter(col("embedding").isNotNull)
    def idSim(df: DataFrame): Seq[(Long, Double)] =
      df.select("id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Graft.install(spark)
    for ((v, i) <- vecs.zipWithIndex; k <- Seq(1, 3, 20) if v.isDefined) {
      val id = i + 1L
      val expected = idSim(SimilarityOps.topKSimilar(emb, "id", "embedding", id, k))
      assert(idSim(SimilarityOps.topKSimilarTo(emb, "id", "embedding", id, v.get, k)) == expected,
        s"query $id, k $k")
    }

    // the facade: same ranking, a node without an embedding has no
    // neighbours, a missing node is a 404
    val api = new WhisperApi(WhisperDB.empty(spark).withState(
      WhisperDB.empty(spark).state.copy(nodes = nodes, declaredSize = vecs.size)),
      new EnrichService(new MockEmbedder(8), new MockTagger))
    for (id <- 1L to vecs.size) api.similarNodes(id, 3) match {
      case ApiOk(df) =>
        assert(idSim(df) == idSim(SimilarityOps.topKSimilar(emb, "id", "embedding", id, 3)),
          s"facade, query $id")
      case e => fail(s"similarNodes($id): $e")
    }
    assert(api.similarNodes(99L) == ApiError(404, "Node 99 not found"))
  }

  /** Ties on every sortable field but id, duplicate tags, a zero vector,
    * a vector tied with another, nodes without one; `n` nodes, ids 1 to
    * `n`, nodes 1 and 3 with files.
    */
  private def loadedDb(n: Int): WhisperDB = {
    import spark.implicits._
    val vecs: Seq[Option[Seq[Float]]] = Seq(Some(Seq(1f, 0f, 0f)), Some(Seq(1f, 0f, 0f)),
      Some(Seq(0f, 0f, 0f)), None, Some(Seq(0.3f, 0.5f, 0.1f)), Some(Seq(-1f, 2f, 0f)),
      Some(Seq(2f, 0f, 0f)), None, Some(Seq(0f, 1f, 0f)), Some(Seq(0.5f, 0.5f, 0.5f)))
    val nodes = (0 until n).map { i =>
      Node(id = i + 1L, title = s"T${i % 3}", course = 100 + i % 2, subject = s"S${i % 4}",
        description = s"d$i", author = s"A${i % 3}", date = f"2024-01-0${1 + i % 4} 00:00:00",
        tags = if (i % 5 == 0) Seq("x", "x") else Seq(s"t${i % 3}", "x"),
        embedding = vecs(i % vecs.size))
    }.toDS().toDF()
    val files = Seq((1L, "a.txt"), (1L, "b.txt"), (3L, "c.txt")).toDF("node_id", "path")
    new WhisperDB(spark, WhisperState(nodes, files, Seq("x"), n.toLong, n + 1L))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Every read kind of `api` equals the same read of `ref`: count and
    * list per filter (every sortable field, both orders, each page), get
    * with files and similar at each k for every id, nodes by tag.
    */
  private def assertSameReads(api: WhisperApi, ref: WhisperDB, when: String, ids: Seq[Long],
                              pages: Seq[(Int, Int)], ks: Seq[Int]): Unit = {
    val filters = Seq(NodeFilters(), NodeFilters(author = Some("A1")),
      NodeFilters(course = Some("101"), tag = Some("x")), NodeFilters(title = Some("T2")))
    for (f <- filters) {
      assert(api.countNodes(f) == ref.countNodes(f), s"$when: count $f")
      for (field <- Node.sortableFields.toSeq :+ "unknown"; order <- Seq("asc", "desc");
           (limit, offset) <- pages)
        assert(rows(api.listNodes(f, field, order, limit, offset)) ==
          rows(ref.findNodes(f, field, order, limit, offset)),
          s"$when: list $f by $field $order limit $limit offset $offset")
    }
    for (id <- ids) {
      val read = api.readNode(id)
      assert(read.map(_.row) == ref.row(id), s"$when: get $id")
      api.getNode(id) match {
        case ApiOk((n, fs)) =>
          assert(rows(n) == ref.row(id).toSeq && rows(fs) == rows(ref.getNodeFiles(id)),
            s"$when: get $id")
        case e => assert(ref.row(id).isEmpty, s"$when: get $id: $e")
      }
      for (n <- read; k <- ks)
        assert(rows(api.similarTo(n, k)) == rows(api.similarTo(NodeRead(ref, n.row), k)),
          s"$when: similar $id k $k")
    }
    for (tag <- (Seq("x", "t1", "t2", "nope") ++ ref.tagBank).distinct)
      assert(rows(api.nodesByTag(tag)) ==
        rows(ref.nodes.filter(TagOps.hasTag(tag)).select(Node.schema.fieldNames.map(col): _*)),
        s"$when: tag $tag")
  }

  test("the served snapshot answers every read as the caller's session " +
       "does, before and after writes") {
    val api = new WhisperApi(loadedDb(10),
      new EnrichService(new MockEmbedder(8), new MockTagger))

    def sameReads(when: String): Unit = {
      val served = api.db
      val ref = new WhisperDB(spark, served.state.copy(
        nodes = Sessions.rebind(served.nodes, spark),
        nodeFiles = Sessions.rebind(served.nodeFiles, spark)))
      // the two sides really plan differently
      def codegen(db: WhisperDB): Boolean = db.nodes.filter(col("author") === "A1")
        .queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(served.nodes.sparkSession ne spark)
      assert(!codegen(served) && codegen(ref))
      assertSameReads(api, ref, when, 1L to 12L,
        pages = Seq((0, 0), (3, 0), (4, 2), (0, 5)), ks = Seq(1, 4, 20))
    }

    sameReads("as loaded")
    val ApiOk(created) = api.createNode(Node(id = Int.MaxValue, title = "T1", course = 101,
      subject = "S1", author = "A1", tags = Seq("t1"), embedding = Some(Seq(1f, 0f, 0f))),
      now = () => "2024-01-02 00:00:00"): @unchecked
    assert(api.updateNode(2L, NodePatch(title = Some("T0"), course = Some("100"),
      tags = Some(Seq("t2")), embedding = Some(Seq(0f, 0f, 1f)))) == ApiOk(2L))
    assert(api.deleteNode(5L) == ApiOk(5L))
    assert(api.db.row(created).isDefined && api.db.row(5L).isEmpty)
    sameReads("after a create, a PUT and a DELETE")
  }

  test("every write installs its snapshot compacted: the plans stop growing, " +
       "and every read equals the read of the lineage the writes built") {
    val enrich = new EnrichService(new MockEmbedder(8), new MockTagger)
    val api = new WhisperApi(loadedDb(12), enrich)
    // the same writes, stacked as WhisperDB builds them, on the same session
    var lineage = api.db
    val stamp = "2024-01-03 00:00:00"
    def write(name: String, served: => ApiResult[_], built: WhisperDB => WhisperDB): Unit = {
      assert(served.isInstanceOf[ApiOk[_]], name)
      lineage = built(lineage)
    }
    def create(c: Int, name: String): Long = {
      val n = Node(id = Int.MaxValue, title = s"T${c % 3}", course = 100 + c % 2,
        subject = s"S${c % 4}", author = s"A${c % 3}", tags = Seq(s"t${c % 3}", name),
        embedding = Option.when(c % 2 == 0)(Seq(c.toFloat, 1f, 0f)))
      val ApiOk(id) = api.createNode(n, now = () => stamp): @unchecked
      val (built, builtId) = lineage.addNode(n.copy(date = stamp))
      assert(builtId == id, s"create $name")
      lineage = built
      id
    }
    // ten writes: creates, PUTs and DELETEs of base and created nodes,
    // attaches and detaches; base nodes 8 to 12 go, one every other cycle
    var created = Seq.empty[Long]
    def cycle(c: Int): Unit = {
      val a = create(c, s"a$c")
      val b = create(c, s"b$c")
      val base = c % 6 + 1
      val pa = NodePatch(title = Some(s"P$c"), course = Some(s"${100 + c % 3}"))
      val pb = NodePatch(description = Some(s"p$c"), tags = Some(Seq("x", s"t$c")),
        embedding = Some(Seq(0f, c.toFloat, 1f)))
      write("PUT created", api.updateNode(a, pa), _.updateNode(a, pa))
      write("PUT base", api.updateNode(base, pb), _.updateNode(base, pb))
      write("DELETE created", api.deleteNode(b), _.deleteNode(b))
      if (c % 2 == 0) write("DELETE base", api.deleteNode(12L - c / 2), _.deleteNode(12L - c / 2))
      else write("PUT base", api.updateNode(7L, pa), _.updateNode(7L, pa))
      write("attach created", api.attachFile(a, s"a$c.txt"), _.addFileToNode(a, s"a$c.txt"))
      write("attach base", api.attachFile(base, s"b$c.txt"), _.addFileToNode(base, s"b$c.txt"))
      write("detach base", api.detachFile(base, s"b$c.txt"), _.removeFileFromNode(base, s"b$c.txt"))
      val (owner, path) = created.lastOption.map(p => (p, s"a${c - 1}.txt")).getOrElse((1L, "a.txt"))
      write("detach", api.detachFile(owner, path), _.removeFileFromNode(owner, path))
      created :+= a
    }
    def planNodes(df: DataFrame): Int = df.queryExecution.analyzed.collect { case p => p }.size
    def sizes(db: WhisperDB): (Int, Int) = (planNodes(db.nodes), planNodes(db.nodeFiles))

    cycle(0)
    val after10 = sizes(api.db)
    (1 until 10).foreach(cycle)
    assert(sizes(api.db) == after10,
      s"plan nodes after 10 writes $after10, after 100 ${sizes(api.db)}:\n" +
        api.db.nodes.queryExecution.analyzed.treeString)
    assert(planNodes(lineage.nodes) > 10 * after10._1, "the lineage stacks every write")

    write("embedding", api.generateEmbedding(created.head),
      l => l.withState(l.state.copy(nodes = enrich.generateMissingEmbeddings(l.nodes)._1)))
    write("tags", api.generateTags(2L), enrich.generateTagsForNode(_, 2L)._1)
    assert(api.getTags == lineage.tagBank && api.health == lineage.size)
    assertSameReads(api, lineage, "after 102 writes", 1L to created.last + 2,
      pages = Seq((0, 0), (4, 2)), ks = Seq(1, 4))
  }

  test("writers racing readers: every count and list a reader sees is one the " +
       "snapshot passed through, and the final state is exact") {
    val api = new WhisperApi(loadedDb(10), new EnrichService(new MockEmbedder(8), new MockTagger))
    val mine = NodeFilters(author = Some("W")) // no loaded node matches
    // writes take turns on `lock`, so the sets the snapshot passes through
    // are known; readers run unsynchronized against every write's install
    val lock = new Object
    var live = Seq.empty[Long]
    val passed = java.util.concurrent.ConcurrentHashMap.newKeySet[Set[Long]]()
    passed.add(Set.empty)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[Long, Set[Long]]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var writing = true
    def thread(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    def writer(w: Int): Thread = thread {
      var own = Seq.empty[Long]
      for (i <- 0 until 12) lock.synchronized {
        if (i % 3 == 2) {
          val id = own.head
          assert(api.deleteNode(id) == ApiOk(id))
          own = own.tail
          live = live.filterNot(_ == id)
        } else {
          val ApiOk(id) = api.createNode(Node(id = Int.MaxValue, title = s"W$w-$i",
            subject = "S", author = "W"), now = () => "2024-01-05 00:00:00"): @unchecked
          own :+= id
          live :+= id
        }
        passed.add(live.toSet)
      }
    }
    def reader(): Thread = thread {
      while (writing) {
        seen.add(Left(api.countNodes(mine)))
        seen.add(Right(api.listNodes(mine).collect().map(_.getLong(0)).toSet))
      }
    }
    val readers = Seq(reader(), reader())
    Seq(writer(0), writer(1)).foreach(_.join())
    writing = false
    readers.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("\n"))

    val sizes = passed.asScala.map(_.size.toLong)
    for (s <- seen.asScala) s match {
      case Left(count) => assert(sizes.contains(count), s"count $count never held")
      case Right(ids) => assert(passed.contains(ids), s"list $ids never held")
    }
    assert(seen.size > 4, "the readers raced the writers")
    assert(live.size == 8)
    assert(api.countNodes(mine) == 8 &&
      api.listNodes(mine).collect().map(_.getLong(0)).toSeq == live.sorted)
    assert(api.countNodes() == 18 && api.health == 18)
  }

  test("nodesByTag is one filtered scan: a duplicated id comes back once per row") {
    import spark.implicits._
    val nodes = Seq(
      Node(id = 1L, title = "a", subject = "s", author = "x", tags = Seq("k")),
      Node(id = 1L, title = "b", subject = "s", author = "x", tags = Seq("k")),
      Node(id = 2L, title = "c", subject = "s", author = "x", tags = Seq("j"))).toDS().toDF()
    val api = new WhisperApi(WhisperDB.empty(spark).withState(
      WhisperDB.empty(spark).state.copy(nodes = nodes, declaredSize = 3)),
      new EnrichService(new MockEmbedder(8), new MockTagger))
    val byTag = api.nodesByTag("k")
    assert(byTag.columns.toSeq == Node.schema.fieldNames.toSeq)
    assert(byTag.collect().map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
  }

  test("every write keeps the snapshot on the facade's own session") {
    // the snapshot is bound to the serving session once, at construction:
    // a write that built on another session would leave the serving path
    val api = freshApi
    val serving = api.db.spark
    def onServing(after: String): Unit = {
      val db = api.db
      assert((db.spark eq serving) && (db.nodes.sparkSession eq serving) &&
        (db.nodeFiles.sparkSession eq serving), s"after $after")
    }
    assert(serving ne spark)
    val ids = (1 to 3).map { i =>
      val ApiOk(id) = api.createNode(Node(id = Int.MaxValue, title = s"T$i",
        subject = "S", author = "A", tags = Seq("t", s"u$i")), now = () => "2024-01-01 00:00:00"): @unchecked
      id
    }
    onServing("create")
    val id = ids.head
    val writes: Seq[(String, () => Any)] = Seq(
      "PUT" -> (() => api.updateNode(id, NodePatch(title = Some("P")))),
      "attach" -> (() => api.attachFile(id, "a.txt")),
      "detach" -> (() => api.detachFile(id, "a.txt")),
      "embedding" -> (() => api.generateEmbedding(id)),
      "tags" -> (() => api.generateTags(id)),
      "cluster" -> (() => api.cluster(0.1)),
      "link-all" -> (() => api.linkAllByTags(0.1)),
      "DELETE" -> (() => api.deleteNode(ids.last)))
    for ((name, write) <- writes) {
      assert(write().isInstanceOf[ApiOk[_]], name)
      onServing(name)
    }
  }
}
