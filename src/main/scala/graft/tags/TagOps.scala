package graft.tags

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Tag/array-set operators (SURVEY §2.4, reference T3-T9).
  *
  * Scale notes: membership (T3) is a codegen'd `array_contains` filter;
  * the shared-tag join (T4) and all-pairs Jaccard (T6) use
  * explode→equi-join candidate generation rather than a quadratic
  * arrays_overlap cross join — candidates shuffle on the tag key, which
  * partitions cleanly at 100 TB (hot tags are the skew risk → AQE skew
  * join handles it).
  */
object TagOps {

  /** T3 membership: the row's tags contain the exact tag
    * (reference: GraphDB.cpp:508-517).
    */
  def hasTag(tag: String): Column = array_contains(col("tags"), tag)

  /** T3: ids of nodes whose tags contain the exact tag. */
  def findNodesByTag(nodes: DataFrame, tag: String): DataFrame =
    nodes.filter(hasTag(tag)).select("id")

  /** T4: ids of *other* nodes sharing >= 1 tag with `nodeId`
    * (reference: GraphDB.cpp:519-546). The target's tag list is a
    * broadcast single row; candidates come from an exploded equi-join.
    */
  def findNodesWithSharedTags(nodes: DataFrame, nodeId: Long): DataFrame = {
    val target = nodes.filter(col("id") === nodeId)
      .select(explode(col("tags")).as("tag")).distinct()
    nodes.filter(col("id") =!= nodeId)
      .select(col("id"), explode(col("tags")).as("tag"))
      .join(broadcast(target), "tag")
      .select("id").distinct()
  }

  /** T5 as a column: Jaccard over two tag-array columns. */
  def jaccardTags(a: Column, b: Column): Column = TextFunctions.jaccard(a, b)

  /** T6: other nodes with tag-Jaccard >= threshold vs `nodeId`
    * (reference: GraphDB.cpp:576-603, default 0.3, inclusive).
    */
  def findNodesWithJaccardSimilarity(nodes: DataFrame, nodeId: Long,
                                     threshold: Double = 0.3): DataFrame = {
    val target = nodes.filter(col("id") === nodeId)
      .select(col("tags").as("__target_tags"))
    nodes.filter(col("id") =!= nodeId)
      .crossJoin(broadcast(target))
      // filter on the RAW value (reference compares raw doubles,
      // GraphDB.cpp:597 — rounding first would flip exact boundaries),
      // round only for presentation
      .withColumn("__jraw", jaccardTags(col("tags"), col("__target_tags")))
      .filter(col("__jraw") >= threshold)
      .select(col("id"), round(col("__jraw"), 6).as("jaccard"))
  }

  /** All-pairs tag-Jaccard >= threshold (the batch body of E9,
    * reference TagService.cpp:155-167): explode→equi-join candidate
    * pairs (share >= 1 tag — a Jaccard > 0 prerequisite), then exact
    * verification. Never materializes the n² cross product.
    */
  def allPairsJaccard(nodes: DataFrame, threshold: Double = 0.3): DataFrame = {
    val tagged = nodes.filter(size(col("tags")) > 0)
    val ex = tagged.select(col("id"), explode(col("tags")).as("tag"))
    val cand = ex.as("a").join(ex.as("b"), "tag")
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = tagged.select(col("id"), col("tags"))
    cand
      .join(sets.select(col("id").as("id_a"), col("tags").as("__ta")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("tags").as("__tb")), "id_b")
      .withColumn("__jraw", jaccardTags(col("__ta"), col("__tb")))
      .filter(col("__jraw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__jraw"), 6).as("jaccard"))
  }

  /** T7: tag normalization (reference: TagClient.cpp:101-124) —
    * ASCII-only lowercase (the reference's per-char ::tolower leaves
    * non-ASCII bytes untouched), whitespace runs collapse to a single
    * '-', trailing hyphens trimmed, space-derived leading hyphens never
    * produced (outer trim first).
    */
  def normalizeTag(t: Column): Column =
    regexp_replace(
      regexp_replace(
        translate(trim(t),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"),
        "\\s+", "-"),
      "-+$", "")

  /** T8: co-tag edges — the frontend's tag inverted index
    * (reference: web/static/js/app.js:517-575): explode tags, group to
    * tag → id list, emit all distinct co-tagged pairs (id_a < id_b).
    */
  def coTagEdges(nodes: DataFrame): DataFrame = {
    val ex = nodes.select(col("id"), explode(col("tags")).as("tag"))
    ex.as("a").join(ex.as("b"), "tag")
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** E8: bidirectional link upsert — add each id to the other's
    * linkedNodes when absent (reference: TagService.cpp:109-134).
    */
  def addBidirectionalLink(nodes: DataFrame, id1: Long, id2: Long): DataFrame =
    nodes.withColumn("linkedNodes",
      when(col("id") === id1,
        array_union(col("linkedNodes"), array(lit(id2))))
        .when(col("id") === id2,
          array_union(col("linkedNodes"), array(lit(id1))))
        .otherwise(col("linkedNodes")))

  /** Both directions of a canonical (id_a, id_b) edge list as (id, nbr)
    * rows, in ONE pass over the input — a 2-branch union would execute
    * the upstream edge pipeline (often an LSH candidate join) twice.
    */
  private def symmetrized(edges: DataFrame): DataFrame = edges
    .select(explode(array(
      struct(col("id_a").as("id"), col("id_b").as("nbr")),
      struct(col("id_b").as("id"), col("id_a").as("nbr")))).as("e"))
    .select(col("e.id").as("id"), col("e.nbr").as("nbr"))

  /** Merge a set of undirected edges into linkedNodes (V6 merge
    * semantics, reference EmbeddingService.cpp:86-138): per node, new
    * links = old ∪ neighbors-from-edges.
    */
  def mergeLinks(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val adj = symmetrized(edges)
      .groupBy("id").agg(sort_array(collect_set(col("nbr"))).as("__new_links"))
    nodes.join(adj, Seq("id"), "left")
      .withColumn("linkedNodes",
        when(col("__new_links").isNotNull,
          array_sort(array_union(col("linkedNodes"), col("__new_links"))))
          .otherwise(col("linkedNodes")))
      .drop("__new_links")
  }

  /** Replace linkedNodes with the adjacency derived from edges (V7
    * replace semantics, reference EmbeddingService.cpp:183); nodes
    * without edges keep their existing links (the reference only
    * touches nodes present in the adjacency map).
    */
  def replaceLinks(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val adj = symmetrized(edges)
      .groupBy("id").agg(sort_array(collect_set(col("nbr"))).as("__new_links"))
    nodes.join(adj, Seq("id"), "left")
      .withColumn("linkedNodes",
        when(col("__new_links").isNotNull, col("__new_links"))
          .otherwise(col("linkedNodes")))
      .drop("__new_links")
  }
}
