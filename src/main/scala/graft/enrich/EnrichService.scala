package graft.enrich

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType, StructField, StructType}
import graft.WhisperDB
import graft.io.TextExtractor
import graft.similarity.{CandidateStrategy, ExactAllPairs, LshBlocked, SimilarityOps}
import graft.graph.Components
import graft.tags.TagOps

/** Result envelope of the clustering batch pipeline (reference V7,
  * src/embedding/EmbeddingService.cpp:140-193): linksCreated counts each
  * undirected link once (the reference divides its doubled count by 2,
  * :190).
  */
case class ClusteringReport(
    nodesProcessed: Long,
    embeddingsGenerated: Long,
    linksCreated: Long,
    clustersFound: Long,
    clusters: Seq[Seq[Long]])

case class TaggingReport(
    nodeId: Long,
    tags: Seq[String],
    newTagsAdded: Seq[String],
    linkedNodes: Seq[Long])

/** LLM-enrichment operators E1-E9 (SURVEY §2.6) as distributed map
  * operators: provider calls happen inside `mapPartitions` (one batch
  * per partition — the network boundary moves into executors), results
  * MERGE back by id. All behavior is pinned by the deterministic mocks.
  */
class EnrichService(embedder: Embedder, tagger: Tagger,
                    maxNewTags: Int = 3,
                    extractor: Option[TextExtractor] = None) extends Serializable {

  /** E4 metadata part (reference: EmbeddingService.cpp:10-29): labeled
    * lines each newline-terminated; description/tags only when present.
    */
  def buildTextColumn(maxChars: Int = 8000): org.apache.spark.sql.Column = {
    val base = concat(
      lit("Title: "), col("title"), lit("\n"),
      lit("Subject: "), col("subject"), lit("\n"),
      lit("Author: "), col("author"), lit("\n"))
    val withDesc = when(length(col("description")) > 0,
      concat(base, lit("Description: "), col("description"), lit("\n")))
      .otherwise(base)
    val withTags = when(size(col("tags")) > 0,
      concat(withDesc, lit("Tags: "), concat_ws(", ", col("tags")), lit("\n")))
      .otherwise(withDesc)
    substring(withTags, 1, maxChars)
  }

  /** Tagging metadata (reference: TagService.cpp:12-23): Title/Subject/
    * Author/Description only — no Tags line (the bank is supplied in
    * the prompt instead).
    */
  def buildTaggingTextColumn: org.apache.spark.sql.Column = {
    val base = concat(
      lit("Title: "), col("title"), lit("\n"),
      lit("Subject: "), col("subject"), lit("\n"),
      lit("Author: "), col("author"), lit("\n"))
    when(length(col("description")) > 0,
      concat(base, lit("Description: "), col("description"), lit("\n")))
      .otherwise(base)
  }

  /** S8 wiring: (storage_path → extracted text) side table. IO happens
    * executor-side in `mapPartitions` over DISTINCT paths only; joined
    * back by key so each blob is read once however many nodes share it.
    * No broadcast hint — AQE picks broadcast when the table is small,
    * shuffle join when every node has an attachment (100 TB case).
    */
  private def fileTextTable(nodes: DataFrame): DataFrame = {
    val ex = extractor.get
    val spark = nodes.sparkSession
    val paths = nodes
      .filter(col("storage_path").isNotNull && length(col("storage_path")) > 0)
      .select("storage_path").distinct()
    val schema = StructType(Seq(
      StructField("storage_path", StringType, nullable = false),
      StructField("__file_text", StringType, nullable = true)))
    spark.createDataFrame(
      paths.rdd.mapPartitions { it =>
        it.map { r =>
          val p = r.getString(0)
          Row(p, ex.extractFromFile(p).orNull)
        }
      }, schema)
  }

  /** E4 + S8: full embedding text — metadata plus `\nContent:\n` tail
    * when the node's storage_path extracts (EmbeddingService.cpp:31-40;
    * the 8000-char cap lives in the extractor, TextExtractor.cpp:14-24).
    * Adds a `__text` column; no extractor configured = metadata only.
    */
  def embeddingText(nodes: DataFrame): DataFrame = extractor match {
    case None => nodes.withColumn("__text", buildTextColumn())
    case Some(_) =>
      nodes.join(fileTextTable(nodes), Seq("storage_path"), "left")
        .withColumn("__text",
          when(col("__file_text").isNotNull,
            concat(buildTextColumn(), lit("\nContent:\n"), col("__file_text")))
          .otherwise(buildTextColumn()))
        .drop("__file_text")
  }

  /** E7 + S8: tagging content — metadata plus `\nFile content:\n` tail
    * capped at 2000 chars with a literal `...` marker
    * (TagService.cpp:25-40).
    */
  def taggingText(nodes: DataFrame): DataFrame = extractor match {
    case None => nodes.withColumn("__text", buildTaggingTextColumn)
    case Some(_) =>
      nodes.join(fileTextTable(nodes), Seq("storage_path"), "left")
        .withColumn("__text",
          when(col("__file_text").isNotNull,
            concat(buildTaggingTextColumn, lit("\nFile content:\n"),
              when(length(col("__file_text")) > 2000,
                concat(substring(col("__file_text"), 1, 2000), lit("...")))
              .otherwise(col("__file_text"))))
          .otherwise(buildTaggingTextColumn))
        .drop("__file_text")
  }

  /** E3: embed every node lacking an embedding and merge the vectors
    * back; returns the merged nodes and the number of vectors generated.
    * Provider batching is per-partition, in the one job that collects
    * the vectors; the merge joins them as local rows, so reading the
    * result never calls the provider again.
    */
  def generateMissingEmbeddings(nodes: DataFrame): (DataFrame, Long) = {
    val emb = embedder
    val missing = embeddingText(nodes.filter(col("embedding").isNull))
      .select(col("id"), col("__text"))
    val vecs = missing.rdd.mapPartitions { it =>
      val rows = it.toSeq
      val out = emb.embed(rows.map(_.getString(1)))
      rows.iterator.zip(out.iterator).collect { case (r, Some(v)) =>
        Row(r.getLong(0), v.toSeq)
      }
    }.collect()
    val vecSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("__new_emb", ArrayType(FloatType), nullable = true)))
    val merged = nodes
      .join(nodes.sparkSession.createDataFrame(java.util.Arrays.asList(vecs: _*), vecSchema),
        Seq("id"), "left")
      .withColumn("embedding", coalesce(col("embedding"), col("__new_emb")))
      .drop("__new_emb")
    (merged, vecs.length.toLong)
  }

  /** Candidate edges for V6/V7 under the chosen strategy. Default is
    * the LSH-blocked scale path (equi-join candidates + exact verify);
    * `ExactAllPairs` opts back into the reference's O(n²) parity
    * (Clustering.cpp:29-53). At the thresholds these pipelines use
    * (≥0.75) identical/near-identical vectors collide in every band, so
    * both strategies agree on duplicate-heavy data; they can differ on
    * borderline edges — that recall trade is the documented 100 TB deal.
    */
  private def similarityPairs(embedded: DataFrame, threshold: Double,
                              strategy: CandidateStrategy): DataFrame =
    strategy match {
      case ExactAllPairs =>
        SimilarityOps.allPairs(embedded, "id", "embedding", threshold)
      case LshBlocked(bands, bitsPerBand) =>
        SimilarityOps.lshCandidatePairs(embedded, "id", "embedding",
          threshold, bands, bitsPerBand)
    }

  /** V7: the clustering batch pipeline (reference:
    * EmbeddingService.cpp:140-193): embed-missing → similarity pairs
    * >= threshold → connected components → REPLACE the
    * linked nodes of every node that appears in the similarity
    * adjacency (replace, not merge — V6 merges; FIXTURES §4).
    */
  def runClustering(db: WhisperDB, threshold: Double = 0.75,
                    strategy: CandidateStrategy = LshBlocked()): (WhisperDB, ClusteringReport) = {
    val (withEmb, nGenerated) = generateMissingEmbeddings(db.nodes)
    val embedded = withEmb.filter(col("embedding").isNotNull).cache()
    val pairs = similarityPairs(embedded, threshold, strategy).cache()
    val verts = embedded.select("id")
    val comps = Components.connectedComponentsFast(verts, pairs)
    val nLinks = pairs.count()
    // clusters with >= 2 members, sorted by size desc then min id
    val clusters = comps.groupBy("component")
      .agg(sort_array(collect_list("id")).as("members"), count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
      .orderBy(col("sz").desc, col("component").asc)
      .select("members").collect().map(_.getSeq[Long](0)).toSeq
    val newNodes = TagOps.replaceLinks(withEmb, pairs)
    val db2 = db.withState(db.state.copy(nodes = newNodes))
    (db2, ClusteringReport(
      nodesProcessed = db.nodes.count(),
      embeddingsGenerated = nGenerated,
      linksCreated = nLinks,
      clustersFound = clusters.size,
      clusters = clusters))
  }

  /** V6: similarity link maintenance with MERGE semantics
    * (reference: EmbeddingService.cpp:86-138).
    */
  def updateLinks(db: WhisperDB, threshold: Double = 0.75,
                  strategy: CandidateStrategy = LshBlocked()): (WhisperDB, Long) = {
    val embedded = db.nodes.filter(col("embedding").isNotNull)
    val pairs = similarityPairs(embedded, threshold, strategy).cache()
    val n = pairs.count()
    (db.withState(db.state.copy(nodes = TagOps.mergeLinks(db.nodes, pairs))), n)
  }

  /** E6 post-processing: extract the first `[...]` JSON array from the
    * model reply and normalize each tag (reference:
    * TagClient.cpp:101-157).
    */
  def parseTagReply(reply: String): Seq[String] = {
    val start = reply.indexOf('[')
    val end = reply.lastIndexOf(']')
    if (start < 0 || end <= start) Seq.empty
    else {
      val body = reply.substring(start + 1, end)
      body.split(",").iterator
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .map(normalizeTagStr)
        .filter(_.nonEmpty)
        .toSeq.distinct
    }
  }

  /** Driver-side mirror of TagOps.normalizeTag (T7). */
  def normalizeTagStr(t: String): String =
    t.trim.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      .replaceAll("\\s+", "-").replaceAll("-+$", "")

  /** E7: tag-one-node pipeline (reference: TagService.cpp:44-95):
    * content (metadata + file tail capped at 2000) → tagger → parse +
    * normalize → append new tags to bank → overwrite node tags →
    * Jaccard-link at 0.3.
    */
  def generateTagsForNode(db: WhisperDB, nodeId: Long): (WhisperDB, TaggingReport) = {
    val row = taggingText(db.nodes.filter(col("id") === nodeId))
      .select("__text").collect()
    require(row.nonEmpty, s"node $nodeId not found")
    val reply = tagger.generateTagsRaw(row(0).getString(0), db.tagBank, maxNewTags)
    val tags = parseTagReply(reply)
    val newTags = tags.filterNot(db.tagBank.contains)
    val db2 = db.addToTagBank(newTags)
    val db3 = db2.updateNode(nodeId, graft.NodePatch(tags = Some(tags)))
    // Jaccard-link the freshly tagged node (threshold 0.3, inclusive)
    val peers = TagOps.findNodesWithJaccardSimilarity(db3.nodes, nodeId, 0.3)
      .select("id").collect().map(_.getLong(0)).toSeq
    val linked = peers.foldLeft(db3.nodes)((ns, pid) =>
      TagOps.addBidirectionalLink(ns, nodeId, pid))
    val db4 = db3.withState(db3.state.copy(nodes = linked))
    (db4, TaggingReport(nodeId, tags, newTags, peers))
  }

  /** E9 batch: Jaccard-link every tagged node
    * (reference: TagService.cpp:155-167) — one all-pairs job + one
    * merge, not N one-vs-all scans.
    */
  def updateAllTagBasedLinks(db: WhisperDB, threshold: Double = 0.3): (WhisperDB, Long) = {
    val pairs = TagOps.allPairsJaccard(db.nodes, threshold).cache()
    val n = pairs.count()
    (db.withState(db.state.copy(nodes = TagOps.mergeLinks(db.nodes, pairs))), n)
  }

  /** V8: clusters over *stored* links (independent of similarity;
    * reference TagService.cpp:169-255), with the tag summary and
    * size-desc id reassignment.
    */
  def getClusters(db: WhisperDB): DataFrame = {
    val edges = db.nodes
      .select(col("id").as("id_a"), explode(col("linkedNodes")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
    val comps = Components.connectedComponentsFast(db.nodes.select("id"), edges)
    Components.clusterSummary(db.nodes, comps)
  }
}
