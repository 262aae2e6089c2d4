package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components — the Spark-native replacement for the
  * reference's two hand-rolled traversals (recursive DFS over
  * similarity edges, src/embedding/Clustering.cpp:68-107, and BFS over
  * stored links, src/tagging/TagService.cpp:169-255). Both produce the
  * same equivalence classes; component label = min member id.
  *
  * One implementation, `connectedComponentsFast`: min-label propagation
  * with pointer jumping on co-partitioned pair RDDs, run on the shared
  * `GraphLoop` round scaffold. Isolated vertices (no edges) form
  * singleton components.
  */
object Components {

  /** Connected components on raw RDDs with pointer jumping — the
    * engine's CC. vertices: single id column; edges: (id_a, id_b)
    * undirected. Returns (id, component) with component = min id
    * reachable. Iterative label propagation is the one place the
    * DataFrame API is the wrong substrate: every round pays Catalyst +
    * AQE planning and eager-checkpoint jobs (~0.4 s/round regardless of
    * data size), while an RDD round on co-partitioned pair RDDs is a few
    * milliseconds. Pointer jumping (follow the label's own label each
    * round) converges in O(log diameter) rounds, so a 100 TB-scale chain
    * still finishes in ~40 rounds where naive propagation needs
    * millions. Not converging within `maxIter` rounds is an error, never
    * a partial labeling.
    */
  def connectedComponentsFast(vertices: DataFrame, edges: DataFrame,
                              maxIter: Int = 100): DataFrame =
    connectedComponentsFastCounted(vertices, edges, maxIter)._1

  /** [[connectedComponentsFast]] plus the number of label-propagation
    * rounds it ran (including the final no-change round that proves
    * the fixed point). The scale smoke records this: total CC shuffle
    * is (rounds × linear-per-round label exchange) + the candidate
    * join, so the O(log diameter) round growth across decades must be
    * SEPARATED from per-round cost before calling a shuffle curve
    * super-linear.
    */
  def connectedComponentsFastCounted(vertices: DataFrame, edges: DataFrame,
                                     maxIter: Int = 100): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val vRdd = vertices.select(col(vertices.columns.head).cast("long")).as[Long].rdd
    GraphLoop.run { loop =>
      // persisted at the RDD level, not as a catalog cache entry: the
      // edge count materializes it, the symmetrized edges read it, and
      // the loop releases it, so a long-lived session never piles up
      // cache entries. Duplicate edges are harmless to min-propagation:
      // no distinct()
      val eRdd = loop.persist(edges.select(col(edges.columns.head).cast("long"),
        col(edges.columns(1)).cast("long")).as[(Long, Long)].rdd)
      val (sym, part) = loop.edges(eRdd)(
        _.flatMap { case (a, b) => Iterator((a, b), (b, a)) })
      // seed labels at min(own id, min neighbor id) — exactly what the
      // first propagate step over identity labels computes, for ONE
      // reduceByKey instead of a full propagate+jump round (the
      // fixpoint — min id per component — is unchanged, and seed labels
      // are still vertex ids so pointer jumping stays valid)
      var labels = loop.persist(sym.union(vRdd.map(id => (id, id)))
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)))
      var prevSum = -1L // first round always runs; sum only ever decreases
      var converged = false
      while (!converged) {
        if (loop.rounds == maxIter)
          throw new IllegalStateException(s"connected components did not " +
            s"converge in ${loop.rounds} rounds (maxIter = $maxIter)")
        // propagate: each vertex takes min(own label, neighbor labels)
        val merged = sym.join(labels)
          .map { case (_, (nbr, comp)) => (nbr, comp) }
          .union(labels)
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        // pointer jump: label(label(v)) — labels are always vertex ids,
        // so the lookup join always hits
        val jumped = merged.map { case (id, comp) => (comp, id) }
          .join(merged)
          .map { case (comp, (id, cc)) => (id, math.min(comp, cc)) }
          .partitionBy(part)
        // labels only ever decrease, so their sum is strictly monotone
        // while anything changes: the convergence test is one fold
        val s = loop.advance(jumped, labels)(_.map(_._2).fold(0L)(_ + _))
        labels = jumped
        converged = s == prevSum
        prevSum = s
      }
      loop.retain(labels) // backs the returned DataFrame
      (labels.toDF("id", "component"), loop.rounds)
    }
  }

  /** Global row number 1..n WITHOUT a single-partition window: a
    * partitionless `row_number().over(Window.orderBy(...))` funnels the
    * whole table through ONE task (Exchange SinglePartition), which at
    * 100 TB is the structural bottleneck — a near-dup corpus has ~n/2
    * clusters, so "one row per cluster" is not small. This instead does
    * a distributed range-partitioned sort and assigns indices with
    * `zipWithIndex` (one count pass for per-partition offsets, then a
    * map) — the classic scale-safe global rank. `order` must be a total
    * order for a deterministic result. Output column is IntegerType,
    * matching `row_number()`.
    */
  private[graft] def withGlobalRowNumber(df: DataFrame, rankCol: String,
                                         order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val spark = df.sparkSession
    // materialize the sort ONCE: zipWithIndex runs an extra counting job
    // for per-partition offsets, and `.rdd` re-plans from scratch — an
    // un-persisted input would re-execute its whole upstream (CC labels
    // → groupBy here) once per pass (the r4 q38 regression). Persist at
    // the RDD level, NOT DataFrame .cache(): the ZippedWithIndexRDD
    // holds the only reference, so when the caller drops the result
    // Spark's ContextCleaner auto-unpersists the blocks — a long-lived
    // API session calling clusterSummary repeatedly doesn't accumulate
    // orphaned cache entries (which catalog-level caches would, absent
    // an explicit clearCache). Lineage stays recomputable (total-order
    // sort ⇒ deterministic) if blocks are evicted early.
    val sortedRdd = df.orderBy(order: _*).rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        rankCol, org.apache.spark.sql.types.IntegerType, nullable = false))
    val rdd = sortedRdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1).toInt)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al., Phys. Rev. E 76, 2007): every vertex starts labeled with its
    * own id; each round it adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label, isolated vertices keep
    * theirs. The deterministic tie-break makes the synchronous update
    * exactly replayable (the classic formulation breaks ties randomly;
    * min-label is the standard reproducible variant), so a SQL oracle
    * can unroll the rounds.
    *
    * Unlike connected components, LPA splits weakly-joined regions —
    * the community structure a curation pipeline wants when near-dup
    * clusters chain through hub documents.
    *
    * `edges` must be SYMMETRIC (src, dst both directions). A round is
    * one co-partitioned edge join + one (vertex, label) count + the
    * packed-long argmin reduce — the q34 pattern: (count, label) packs
    * into ONE long, integer `min` replaces the row_number window,
    * map-side combiners absorb hub vertices before each shuffle.
    * Labels are ids and must stay < 2³¹ in the pack (ids beyond that:
    * widen the shift — counts share the long).
    *
    * RDD substrate (r13) — the CC/PageRank/HITS/BFS/SSSP/k-core
    * switch: each DataFrame round paid Catalyst+AQE planning and an
    * eager localCheckpoint job, fixed costs invariant to data size.
    * The packed encoding, the min tie-break and the keep-own-label
    * fallback for neighborless vertices are bit-identical to the DF
    * form (hand-traced synchronous-rounds pin holds unchanged).
    */
  def labelPropagation(vertices: DataFrame, edges: DataFrame,
                       iters: Int): DataFrame = {
    require(iters >= 1, "at least one propagation round")
    val Shift = 1L << 31
    val spark = vertices.sparkSession
    import spark.implicits._
    val eRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .na.drop() // a null endpoint matched nothing in the DF join
      .as[(Long, Long)].rdd
    val (e, part) = GraphLoop.edges(eRdd)(identity)
    var labels = vertices.select(col("id").cast("long")).as[Long].rdd
      .map(id => (id, id))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // shared edge step only: the rounds are one lazy chain with no
    // action of their own, run by the caller's action
    for (_ <- 1 to iters) {
      val best = e.join(labels) // narrow: both sides carry `part`
        .map { case (_, (dst, lab)) => ((dst, lab), 1L) }
        .reduceByKey(part, _ + _)
        .map { case ((dst, lab), c) => (dst, (Shift - c) * Shift + lab) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .mapValues(enc => enc & (Shift - 1))
      labels = labels.leftOuterJoin(best) // narrow: co-partitioned
        .mapValues { case (own, nw) => nw.getOrElse(own) }
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    labels.toDF("id", "label")
  }

  /** INCREMENTAL connected components: fold a new edge batch into
    * existing min-id labels without re-running CC on the full graph.
    * The delta edges are mapped through the current labels; CC runs on
    * the CONTRACTED label-level graph (one vertex per touched
    * component — delta-sized, never corpus-sized); the relabel
    * composes back through one equi-join. Because labels are
    * component-minimum ids, min-of-mins is the global minimum — the
    * result is IDENTICAL to a full recompute on the union graph (the
    * oracle checks exactly that).
    *
    * Cost ∝ delta edges + touched components. New vertices enter as
    * their own label rows in `labels` before the call.
    *
    * @param labels   (id, component) — current assignment, new ids as
    *                 self-labeled rows
    * @param newEdges (src, dst) — the arriving batch
    */
  def incrementalComponents(labels: DataFrame,
                            newEdges: DataFrame): DataFrame = {
    val l1 = labels.select(col("id").as("src"), col("component").as("__ca"))
    val l2 = labels.select(col("id").as("dst"), col("component").as("__cb"))
    val labelEdges = newEdges.join(l1, "src").join(l2, "dst")
      .filter(col("__ca") =!= col("__cb"))
      .select(least(col("__ca"), col("__cb")).as("id_a"),
        greatest(col("__ca"), col("__cb")).as("id_b"))
      .distinct()
      .localCheckpoint() // vertices and CC both read it
    val verts = labelEdges.select(col("id_a").as("id"))
      .union(labelEdges.select(col("id_b"))).distinct()
    val re = connectedComponentsFast(verts, labelEdges)
      .select(col("id").as("component"), col("component").as("__new"))
    labels.join(re, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("__new"), col("component")).as("component"))
  }

  /** Family-size histogram of a component labeling: how many families
    * of each size exist and how many members they hold — the near-dup
    * twin of `Corpus.duplicationProfile` (that one is exact-hash
    * families; this one takes any CC labeling, e.g. over the verified
    * LSH graph). Two hash aggregates; the histogram has at most
    * O(√n)-ish distinct sizes, so the output is always tiny. All
    * counts exact integers.
    */
  def componentSizeHistogram(labels: DataFrame): DataFrame =
    labels.groupBy(col("component"))
      .agg(count(lit(1)).as("family_size"))
      .groupBy(col("family_size"))
      .agg(count(lit(1)).as("n_families"))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_members"))

  /** V8-style cluster summary (reference: TagService.cpp:169-255):
    * group members per component, compute sharedTags (tags held by >= 2
    * members; singleton clusters keep all their tags), sort clusters by
    * size desc and reassign ids 1..n (size desc, then min-member-id asc
    * for determinism).
    */
  def clusterSummary(nodesWithTags: DataFrame, components: DataFrame): DataFrame = {
    val joined = nodesWithTags.select(col("id"), col("tags"))
      .join(components, "id")
    val sizes = joined.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"),
        sort_array(collect_list(col("id"))).as("member_ids"))
    val tagCounts = joined
      .select(col("component"), explode(col("tags")).as("tag"), col("id"))
      .groupBy("component", "tag")
      .agg(countDistinct(col("id")).as("n_members"))
    val shared = tagCounts.join(sizes.select("component", "cluster_size"), "component")
      .filter(col("n_members") >= 2 || col("cluster_size") === 1)
      .groupBy("component")
      .agg(sort_array(collect_set(col("tag"))).as("shared_tags"))
    val summary = sizes.join(shared, Seq("component"), "left")
      .withColumn("shared_tags", coalesce(col("shared_tags"), array()))
    withGlobalRowNumber(summary, "cluster_id",
        Seq(col("cluster_size").desc, col("component").asc))
      .select("cluster_id", "cluster_size", "member_ids", "shared_tags")
  }

  /** Cluster correspondence between two labelings of (partly) shared
    * vertices — the incremental-crawl stability audit: one row per
    * (old_component, new_component) pair that shares members, with the
    * shared count and both cluster sizes. `n_shared < old_size` on
    * every row of an old cluster ⇒ it SPLIT; two old components mapping
    * to one new ⇒ they MERGED; `old_size = new_size = n_shared` ⇒
    * stable. All-BIGINT output. Shape: one vertex-sized equi-join +
    * one keyed count + two size aggregates joined back — never
    * pairwise, cost two shuffles of the label tables at any scale.
    */
  def clusterEvolution(oldCc: DataFrame, newCc: DataFrame): DataFrame = {
    val o = oldCc.toDF("id", "component")
    val n = newCc.toDF("id", "component")
    val oldSz = o.groupBy(col("component").as("old_component"))
      .agg(count(lit(1)).as("old_size"))
    val newSz = n.groupBy(col("component").as("new_component"))
      .agg(count(lit(1)).as("new_size"))
    o.select(col("id"), col("component").as("old_component"))
      .join(n.select(col("id"), col("component").as("new_component")), "id")
      .groupBy(col("old_component"), col("new_component"))
      .agg(count(lit(1)).as("n_shared"))
      .join(oldSz, "old_component")
      .join(newSz, "new_component")
      .select(col("old_component"), col("new_component"), col("n_shared"),
        col("old_size"), col("new_size"))
  }

  /** Per-cluster partition-quality table for an undirected graph and a
    * vertex labeling (LPA or CC output): cluster size, intra-cluster
    * edge count, degree mass, and boundary (cut) edges. Newman
    * modularity is Σ_c (4·m·m_c − d_c²) / (4m²) — exactly
    * reconstructible from these columns — but the CONTRACT ships only
    * the engine-proof BIGINT counts (the r5 oracle lesson: no rounded
    * rationals in compared output). Conductance's numerator is
    * `boundary_edges` and its denominator min(d_c, 2m − d_c) likewise.
    *
    * labels: (id, label); pairs: canonical distinct edges (id_a, id_b).
    * Scale shape: the edge set is labeled once by two vertex-sized
    * equi-joins and localCheckpoint-ed (two aggregates read it — the
    * reuse-not-recompute rule), then one keyed count per metric and a
    * vertex-sized count for sizes. Never pairwise, no windows; at
    * 100 TB cost is two shuffles of the edge list on its endpoints.
    */
  def partitionQuality(labels: DataFrame, pairs: DataFrame): DataFrame = {
    val l = labels.toDF("id", "label")
    // a label table that misses an edge endpoint must fail LOUDLY: an
    // inner join would silently drop the edge and every derived count
    // (intra/degree/cut — and any modularity computed from them) would
    // be wrong while looking internally consistent
    def req(c: Column, side: String): Column =
      when(c.isNull, raise_error(lit(
        s"partitionQuality: edge endpoint ($side) has no label row")))
        .otherwise(c)
    val labeled = pairs.toDF("id_a", "id_b")
      .join(l.select(col("id").as("id_a"), col("label").as("__la")),
        Seq("id_a"), "left")
      .join(l.select(col("id").as("id_b"), col("label").as("__lb")),
        Seq("id_b"), "left")
      .select(req(col("__la"), "id_a").as("__la"),
        req(col("__lb"), "id_b").as("__lb"))
      .localCheckpoint()
    val intra = labeled.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val degreeMass = labeled
      .select(explode(array(col("__la"), col("__lb"))).as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("degree_sum"))
    val sizes = l.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
    sizes
      .join(degreeMass, Seq("label"), "left")
      .join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        (coalesce(col("degree_sum"), lit(0L)) -
          lit(2L) * coalesce(col("intra_edges"), lit(0L)))
          .as("boundary_edges"))
  }
}
