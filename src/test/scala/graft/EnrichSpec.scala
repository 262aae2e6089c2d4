package graft

import org.apache.spark.sql.functions._
import graft.api.{ApiOk, WhisperApi}
import graft.enrich.{EnrichService, MockEmbedder, MockTagger}
import graft.io.WhisperState
import graft.model.Node

class EnrichSpec extends SparkSpec {

  private val svc = new EnrichService(new MockEmbedder(dim = 16), new MockTagger)

  private def db: WhisperDB = {
    import spark.implicits._
    val nodes = Seq(
      Node(1, "Graphs and Algorithms", 1, "CS", "paths and trees", "A", "2024-01-01 00:00:00",
        Seq("graphs"), "", Seq()),
      Node(2, "Graphs and Algorithms", 1, "CS", "paths and trees", "A", "2024-01-01 00:00:00",
        Seq("graphs"), "", Seq()),
      Node(3, "Cooking", 2, "Life", "soups", "B", "2024-01-02 00:00:00",
        Seq(), "", Seq()),
      Node(4, "Already Embedded", 1, "CS", "", "C", "2024-01-03 00:00:00",
        Seq(), "", Seq(), embedding = Some(Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f,
          0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))))
      .toDS().toDF().select(Node.schema.fieldNames.map(col): _*)
    new WhisperDB(spark, WhisperState(nodes,
      Seq.empty[(Long, String)].toDF("node_id", "path"), Seq(), 4))
  }

  test("MockEmbedder: deterministic, normalized, empty -> None") {
    val e = new MockEmbedder(dim = 8)
    val Seq(a, b, n) = e.embed(Seq("hello", "hello", ""))
    assert(a.get.toSeq == b.get.toSeq, "same text -> same vector")
    assert(n.isEmpty, "empty text -> None (EmbeddingClient.cpp:52-54)")
    val norm = math.sqrt(a.get.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-3)
  }

  test("E3: generateMissingEmbeddings fills only missing, preserves existing") {
    val (out, n) = svc.generateMissingEmbeddings(db.nodes)
    assert(n == 3, "three nodes lacked embeddings")
    assert(out.filter(col("embedding").isNull).count() == 0)
    val kept = out.filter(col("id") === 4).select("embedding")
      .collect()(0).getSeq[Float](0)
    assert(kept.head == 1f, "existing embedding untouched")
    // identical doc text -> identical embedding (nodes 1,2 differ only by tags)
  }

  test("E3: generated vectors are made once: reads of the written snapshot " +
       "and the rest of clustering never call the embedder again") {
    val counting = new EnrichService(new CountingEmbedder(16), new MockTagger)
    val api = new WhisperApi(db, counting)
    CountingEmbedder.texts.set(0)
    assert(api.generateEmbedding(1L) == ApiOk(1L))
    assert(CountingEmbedder.texts.get == 3, "the three nodes lacking a vector")
    assert(api.countNodes() == 4)
    assert(api.listNodes().collect().forall(!_.isNullAt(10)))
    assert(api.getNode(2L).isInstanceOf[ApiOk[_]])
    val ApiOk(similar) = api.similarNodes(1L, 2): @unchecked
    assert(similar.count() == 2)
    assert(CountingEmbedder.texts.get == 3, "reads re-ran the embedder")

    CountingEmbedder.texts.set(0)
    val (_, report) = counting.runClustering(db, 0.75)
    assert(report.embeddingsGenerated == 3 && CountingEmbedder.texts.get == 3)
  }

  test("E6/E7: tag reply parsing + normalization + bank growth") {
    assert(svc.parseTagReply("""blah ["Machine Learning", "ok"] trailing""") ==
      Seq("machine-learning", "ok"))
    assert(svc.parseTagReply("no array here") == Seq())
    val (db2, report) = svc.generateTagsForNode(db, 3)
    assert(report.tags.nonEmpty && report.tags.forall(t => !t.exists(_.isUpper)))
    assert(db2.tagBank.nonEmpty, "new tags appended to bank (GraphDB.cpp:499-506)")
    val stored = db2.nodes.filter(col("id") === 3).select("tags")
      .collect()(0).getSeq[String](0)
    assert(stored == report.tags, "node tags overwritten with generated set")
  }

  test("V7 runClustering: replace semantics + report shape") {
    val (db2, rep) = svc.runClustering(db, threshold = 0.99)
    assert(rep.nodesProcessed == 4 && rep.embeddingsGenerated == 3)
    // nodes 1 and 2 share identical doc text -> identical mock vectors
    // -> cosine 1.0 >= 0.99: exactly one pair, one cluster
    assert(rep.linksCreated == 1 && rep.clustersFound == 1)
    assert(rep.clusters == Seq(Seq(1L, 2L)))
    def links(d: WhisperDB, id: Long) = d.nodes.filter(col("id") === id)
      .select("linkedNodes").collect()(0).getSeq[Long](0)
    assert(links(db2, 1) == Seq(2L) && links(db2, 2) == Seq(1L))
  }

  test("V6 updateLinks: merge semantics keeps pre-existing links") {
    val (withEmb, _) = svc.generateMissingEmbeddings(db.nodes)
    val dbe = db.withState(db.state.copy(nodes = withEmb))
      .updateNode(1, NodePatch(linkedNodes = Some(Seq(3L))))
    val (db2, n) = svc.updateLinks(dbe, threshold = 0.99)
    assert(n == 1, "identical doc texts of nodes 1,2 -> one pair")
    val l1 = db2.nodes.filter(col("id") === 1).select("linkedNodes")
      .collect()(0).getSeq[Long](0).sorted
    assert(l1 == Seq(2L, 3L), "merge keeps the manual link AND adds the similarity link")
  }

  test("V6/V7 candidate strategies: LshBlocked default == ExactAllPairs " +
       "on duplicate-heavy data") {
    import graft.similarity.ExactAllPairs
    val (_, repL) = svc.runClustering(db, threshold = 0.99)
    val (_, repE) = svc.runClustering(db, threshold = 0.99, ExactAllPairs)
    assert(repL.linksCreated == repE.linksCreated &&
      repL.clusters == repE.clusters,
      "identical vectors collide in every LSH band -> same graph")
    val (withEmb, _) = svc.generateMissingEmbeddings(db.nodes)
    val dbe = db.withState(db.state.copy(nodes = withEmb))
    val (db2L, nL) = svc.updateLinks(dbe, 0.99)
    val (db2E, nE) = svc.updateLinks(dbe, 0.99, ExactAllPairs)
    assert(nL == nE)
    assert(db2L.nodes.select("id", "linkedNodes").collect().map(_.toString).sorted
      .sameElements(db2E.nodes.select("id", "linkedNodes").collect().map(_.toString).sorted))
  }

  test("E4+S8: attachment content changes the embedding text and vector") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-enrich").toString
    val store = new graft.io.FileStore(root,
      clock = () => 1717200000000L, rand = () => 1)
    val rel = store.saveFile("notes.txt", "Deep dive into spectral graph theory"
      .getBytes("UTF-8"))
    val extractor = new graft.io.TextExtractor(store)
    val svcX = new EnrichService(new MockEmbedder(dim = 16), new MockTagger,
      extractor = Some(extractor))

    // two nodes identical except one carries the .txt attachment
    def mk(id: Long, sp: String) =
      Node(id, "Graphs", 1, "CS", "paths", "A", "2024-01-01 00:00:00",
        Seq("graphs"), sp, Seq())
    val nodes = Seq(mk(1, rel), mk(2, "")).toDS().toDF()
      .select(Node.schema.fieldNames.map(col): _*)

    val texts = svcX.embeddingText(nodes).select("id", "__text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(1).contains("\nContent:\nDeep dive into spectral graph theory"),
      "extracted tail appended (EmbeddingService.cpp:31-40)")
    assert(!texts(2).contains("Content:"), "no attachment, no tail")
    assert(texts(1).startsWith("Title: Graphs\nSubject: CS\nAuthor: A\n"))

    val (out, n) = svcX.generateMissingEmbeddings(nodes)
    assert(n == 2)
    val vecs = out.select("id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs(1) != vecs(2),
      "attachment-bearing node embeds DIFFERENTLY than its metadata twin")

    // tagging text: no Tags line, File content tail capped at 2000 + "..."
    val longRel = store.saveFile("long.txt", ("x" * 3000).getBytes("UTF-8"))
    val nodes2 = Seq(mk(3, longRel)).toDS().toDF()
      .select(Node.schema.fieldNames.map(col): _*)
    val tt = svcX.taggingText(nodes2).select("__text").collect()(0).getString(0)
    assert(tt.contains("\nFile content:\n"))
    assert(tt.endsWith("x" * 10 + "..."), "2000-char cap with ... (TagService.cpp:32-35)")
    assert(tt.contains("x" * 2000) && !tt.contains("x" * 2001))
    assert(!tt.contains("Tags:"), "tagging metadata has no Tags line (TagService.cpp:12-23)")

    // missing blob: exists-guard yields metadata-only text
    val nodes3 = Seq(mk(4, "2099/01/01/gone.txt")).toDS().toDF()
      .select(Node.schema.fieldNames.map(col): _*)
    val t3 = svcX.embeddingText(nodes3).select("__text").collect()(0).getString(0)
    assert(!t3.contains("Content:"), "missing file -> metadata only (exists guard)")
  }

  test("S9: PDF extraction — pdftotext when present, fallback seam when not") {
    val root = java.nio.file.Files.createTempDirectory("graft-pdf").toString
    val store = new graft.io.FileStore(root,
      clock = () => 1717200000000L, rand = () => 2)
    // a minimal single-page PDF with the text "Hello PDF" — enough for
    // pdftotext to extract when the binary exists on this host
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n" +
      "2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n" +
      "3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]" +
      "/Contents 4 0 R/Resources<</Font<</F1 5 0 R>>>>>>endobj\n" +
      "4 0 obj<</Length 44>>stream\nBT /F1 12 Tf 72 720 Td (Hello PDF) Tj ET\nendstream endobj\n" +
      "5 0 obj<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>endobj\n" +
      "trailer<</Root 1 0 R>>\n%%EOF").getBytes("UTF-8")
    val rel = store.saveFile("doc.pdf", pdf)

    if (graft.io.PdfText.available) {
      // real poppler on this host: the reference shell-out path runs
      val ext = new graft.io.TextExtractor(store)
      val got = ext.extractFromFile(rel)
      assert(got.exists(_.contains("Hello PDF")),
        s"pdftotext extraction (TextExtractor.cpp:39-64), got: $got")
    } else {
      // no poppler (this CI container): extraction falls back to the
      // injected seam; default seam yields None
      assert(graft.io.PdfText.extract(pdf).isEmpty)
      assert(new graft.io.TextExtractor(store).extractFromFile(rel).isEmpty)
      val stubbed = new graft.io.TextExtractor(store,
        pdfFallback = _ => Some("stub text"))
      assert(stubbed.extractFromFile(rel).contains("stub text"))
    }
    // the 8000-char cap applies to the fallback path too
    val capped = new graft.io.TextExtractor(store,
      pdfFallback = _ => Some("y" * 9000))
    if (!graft.io.PdfText.available)
      assert(capped.extractFromFile(rel).get.length == 8000)
  }

  test("V8 getClusters over stored links") {
    val linked = db.updateNode(1, NodePatch(linkedNodes = Some(Seq(2L))))
      .updateNode(2, NodePatch(linkedNodes = Some(Seq(1L))))
    val clusters = svc.getClusters(linked).collect()
    assert(clusters.length == 3)
    assert(clusters(0).getLong(1) == 2, "pair cluster first (size desc)")
  }
}

/** A MockEmbedder that counts the texts it embeds, across every task of
  * the JVM (a task embeds with its own deserialized copy).
  */
class CountingEmbedder(dim: Int) extends MockEmbedder(dim) {
  override def embed(texts: Seq[String]): Seq[Option[Array[Float]]] = {
    CountingEmbedder.texts.addAndGet(texts.size)
    super.embed(texts)
  }
}

object CountingEmbedder {
  val texts = new java.util.concurrent.atomic.AtomicLong
}
