package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.{Components, PageRank, Traversals}
import graft.pipeline.Dedup
import graft.similarity.SimilarityOps

/** Graph operators (SURVEY §2.5 V2-V4/V8): similarity graph →
  * connected components → cluster summaries, plus near-dup clustering
  * (the production use of CC in a dedup pipeline: pick one keeper per
  * duplicate cluster).
  *
  * Oracle strategy: component labels are canonical (min reachable id),
  * which a DuckDB recursive CTE reproduces exactly — labels propagate
  * only downhill (comp < target id), which is lossless because the
  * component minimum is smaller than every member it must reach.
  */
object GraphPack extends QueryPack {

  import OracleSql.cosSql

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- V2+V4: components of the cosine>=0.4 similarity graph ----
    "q37_connected_components" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.allPairs(emb, "vec_id", "embedding", 0.4)
      Components.connectedComponentsFast(emb.select("vec_id"), pairs)
        .orderBy(col("id"))
    },

    // ---- V8 shape: cluster size summary, ids reassigned by size.
    //      The id reassignment is a distributed sort + zipWithIndex
    //      (Components.withGlobalRowNumber), NOT a partitionless
    //      row_number window — #clusters is ~n/2 on a near-dup corpus,
    //      so a single-partition exchange here would be the 100 TB
    //      bottleneck ----
    "q38_cluster_sizes" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.allPairs(emb, "vec_id", "embedding", 0.4)
      val comps = Components.connectedComponentsFast(emb.select("vec_id"), pairs)
      val sizes = comps.groupBy("component")
        .agg(count(lit(1)).as("cluster_size"))
      Components.withGlobalRowNumber(sizes, "cluster_id",
          Seq(col("cluster_size").desc, col("component").asc))
        .select("cluster_id", "component", "cluster_size")
        .orderBy("cluster_id")
    },

    // ---- V8 cluster membership: per non-singleton near-dup cluster,
    //      size + sorted member roster (joined string — portable) ----
    "q73_cluster_members" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Components.connectedComponentsFast(docs.select("doc_id"), pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"),
          array_join(sort_array(collect_list(col("id").cast("string"))), ",")
            .as("member_ids"))
        .filter(col("cluster_size") >= 2)
        .orderBy(col("component"))
    },

    // ---- V2→V4 SCALE path: components of the LSH-candidate similarity
    //      graph — edges from sign-LSH band blocking (equi-join, no
    //      cross join) with exact cosine verification. The q37 shape
    //      with the 100 TB candidate generation; recall semantics are
    //      deterministic and replayed exactly by the oracle. ----
    "q74_lsh_components" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
        threshold = 0.4, bands = 3, bitsPerBand = 4)
      Components.connectedComponentsFast(emb.select("vec_id"),
          pairs.select(col("id_a"), col("id_b")))
        .orderBy(col("id"))
    },

    // ---- INCREMENTAL connected components: docs >= 400 arrive as a
    //      batch; delta edges fold into the existing labels through
    //      the contracted label-level graph. The oracle is a FULL
    //      recompute over the union — the hash match proves
    //      incremental == batch ----
    "q202_incremental_cc" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val oldDocs = docs.filter(col("doc_id") < 400)
      // ONE shingle/Jaccard pass over the full corpus feeds both edge
      // sets (r13, guide §2.4): per-pair exact Jaccard is corpus-
      // independent, so pairs(oldDocs) == pairs(docs) restricted to
      // both endpoints < 400 — and with id_a < id_b, "both endpoints
      // old" is exactly id_b < 400. The old shape ran the whole
      // tokenize+shingle+verify pipeline twice (once on oldDocs, once
      // on docs).
      val allPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .select("id_a", "id_b").localCheckpoint()
      val base = Components.connectedComponentsFast(
        oldDocs.select("doc_id"),
        allPairs.filter(col("id_b") < 400))
      // id_a < id_b and new ids are all above old ids, so every edge
      // touching the batch has id_b >= 400
      val delta = allPairs.filter(col("id_b") >= 400)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val labels0 = base.unionAll(
        docs.filter(col("doc_id") >= 400)
          .select(col("doc_id").as("id"), col("doc_id").as("component")))
      Components.incrementalComponents(labels0, delta)
        .orderBy(col("id"))
    },

    // ---- near-dup clustering: CC over shingle-jaccard pairs with a
    //      canonical keeper per cluster (the dedup decision table) ----
    "q39_neardup_clusters" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Components.connectedComponentsFast(docs.select("doc_id"), pairs)
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).as("is_keeper"))
        .orderBy(col("doc_id"))
    },

    // ---- SCALE twin of q35: similarity degree over the LSH candidate
    //      graph (band equi-join + exact verify) — no cross join ----
    "q111_lsh_degree" -> { (s, d) =>
      SimilarityOps.similarityDegreeLsh(Tables.embeddings(s, d), "vec_id",
          "embedding", threshold = 0.3, bands = 3, bitsPerBand = 4)
        .orderBy(col("id"))
    },

    // ---- fixed-point PageRank over the LSH similarity graph: integer
    //      micro-unit arithmetic makes the iterative shuffle aggregate
    //      bit-deterministic (a float PR can't hash-match any oracle) ----
    "q98_pagerank" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // materialize the candidate pipeline ONCE before symmetrizing: the
      // union reads `pairs` twice, and the signature/band/verify join is
      // the dominant cost of the whole query (r4 verdict: uncached, it
      // ran twice when PageRank materialized its edge cache)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      PageRank.run(emb.select("vec_id"), sym.toDF("src", "dst"), iters = 3)
        .select(col("id").as("vec_id"), col("rank"))
        .orderBy(col("vec_id"))
    },

    // ---- synchronous label propagation (min-label tie-break) over
    //      the LSH similarity graph: community detection that splits
    //      the weak bridges CC merges ----
    "q122_label_propagation" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      Components.labelPropagation(emb.select(col("vec_id").as("id")),
          sym.toDF("src", "dst"), iters = 2)
        .orderBy(col("id"))
    },

    // ---- leakage-safe split: assign train/val/test by near-dup
    //      CLUSTER (md5 gate on the component id) so no duplicate
    //      family straddles a split — the eval-contamination guard ----
    "q180_group_split" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
      val comps = Components.connectedComponentsFast(
        emb.select("vec_id"), pairs)
      graft.pipeline.Sampling.groupSplit(
          comps.select(col("id").as("vec_id"), col("component")),
          "component", Seq(("train", 800), ("val", 100), ("test", 100)))
        .orderBy(col("vec_id"))
    },

    // ---- per-vertex graph FEATURE TABLE: degree, PageRank, component
    //      id + size, triangle count — four operators over ONE
    //      materialized LSH edge set (the GNN/feature-store export
    //      pattern: reuse, never recompute, the expensive candidate
    //      pipeline) ----
    "q194_graph_features" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val v = emb.select("vec_id")
      val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      val deg = sym.toDF("id", "__nb").groupBy("id")
        .agg(count(lit(1)).as("degree"))
      // PageRank and CC are independent iterative chains over the one
      // checkpointed edge set, each a serial loop of small plan-build
      // jobs — build them on concurrent threads so the loops overlap
      // (r13, guide §2.6); degree and triangles are lazy and already
      // overlap at action time
      val Seq(pr, cc) = SimilarityOps.concurrently(s, Seq(
        () => PageRank.run(v, sym.toDF("src", "dst"), iters = 3),
        () => Components.connectedComponentsFast(v, pairs)))
      val csize = cc.groupBy("component")
        .agg(count(lit(1)).as("component_size"))
      val tri = Traversals.triangleCounts(v, pairs)
        .select(col("id"), col("n_triangles"))
      v.select(col("vec_id").as("id"))
        .join(deg, Seq("id"), "left")
        .join(pr.select(col("id"), col("rank")), Seq("id"))
        .join(cc.select(col("id"), col("component")), Seq("id"))
        .join(csize, Seq("component"))
        .join(tri, Seq("id"))
        .select(col("id").as("vec_id"),
          coalesce(col("degree"), lit(0L)).as("degree"), col("rank"),
          col("component"), col("component_size"), col("n_triangles"))
        .orderBy(col("vec_id"))
    },

    // ---- partition QUALITY of the q122 LPA communities: per-cluster
    //      size, intra-edge count, degree mass, cut edges — modularity
    //      and conductance are one division away, but the contract
    //      ships only engine-proof BIGINT counts ----
    "q224_partition_quality" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint() // LPA and the quality table both read it
      val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      val labels = Components.labelPropagation(
        emb.select(col("vec_id").as("id")), sym.toDF("src", "dst"), iters = 2)
      Components.partitionQuality(labels, pairs).orderBy(col("label"))
    },

    // ---- cluster EVOLUTION between corpus snapshots: CC labels of
    //      the old half (vec_id % 2 = 0) vs the grown corpus, joined
    //      into a (old_cluster, new_cluster, shared, sizes)
    //      correspondence table — the incremental-crawl stability
    //      audit (did clusters survive, merge, or split?). ONE
    //      materialized candidate set feeds both snapshots: sign-LSH
    //      band keys are per-vector, so the old snapshot's candidate
    //      pairs are exactly the full set restricted to old
    //      endpoints — no second LSH pass ----
    // ---- near-dup family-size histogram: CC over the verified LSH
    //      graph -> family sizes -> (size, n_families, n_members);
    //      the near-dup twin of q209's exact-dup profile ----
    "q238_family_histogram" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
      val cc = Components.connectedComponentsFast(emb.select("vec_id"), pairs)
      Components.componentSizeHistogram(cc.toDF("id", "component"))
        .orderBy(col("family_size"))
    },

    "q227_cluster_evolution" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint() // both snapshots' CC read it
      val oldCc = Components.connectedComponentsFast(
        emb.select("vec_id").filter(col("vec_id") % 2 === 0),
        pairs.filter(col("id_a") % 2 === 0 && col("id_b") % 2 === 0))
      val newCc = Components.connectedComponentsFast(
        emb.select("vec_id"), pairs)
      Components.clusterEvolution(oldCc, newCc)
        .orderBy(col("old_component"), col("new_component"))
    },

    // ---- split-LEAKAGE audit: cross-split LSH edges under q180's
    //      cluster-respecting split (ZERO by construction — every
    //      candidate edge lies inside a component) vs a naive per-item
    //      hash split (positive) — the numeric proof that eval
    //      contamination comes from splitting near-dup families, and
    //      that the group split closes it ----
    "q230_split_leakage" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint() // CC and both leakage counts read it
      val cc = Components.connectedComponentsFast(emb.select("vec_id"), pairs)
      val splits = Seq(("train", 800), ("val", 100), ("test", 100))
      val grouped = graft.pipeline.Sampling.groupSplit(
        cc.toDF("vec_id", "component"), "component", splits)
      val naive = graft.pipeline.Sampling.groupSplit(
        emb.select("vec_id"), "vec_id", splits)
      def leakage(assign: DataFrame, scheme: String) = pairs
        .join(assign.select(col("vec_id").as("id_a"),
          col("split").as("__sa")), "id_a")
        .join(assign.select(col("vec_id").as("id_b"),
          col("split").as("__sb")), "id_b")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L))
            .as("n_cross_edges"))
        .select(lit(scheme).as("scheme"), col("n_edges"),
          col("n_cross_edges"))
      leakage(grouped, "group").unionAll(leakage(naive, "naive"))
        .orderBy(col("scheme"))
    },

    // ---- degree assortativity sufficient statistics (one exact-
    //      integer row): is the similarity graph hubby (r<0) or
    //      clique-like (r>0)? The shape audit before community
    //      detection ----
    "q226_assortativity" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
      Traversals.degreeMixing(pairs)
    },

    // ---- HITS hubs & authorities over the DIRECTED (low-id → high-id)
    //      LSH similarity graph: integer micro-unit scores with L∞
    //      normalization, two rounds; edges materialized once ----
    "q178_hits" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 3, bitsPerBand = 4)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .localCheckpoint()
      graft.graph.Hits.run(emb.select(col("vec_id").as("id")), pairs,
          iters = 2)
        .select(col("id").as("vec_id"), col("auth"), col("hub"))
        .orderBy(col("vec_id"))
    },

    // ---- weighted PageRank: edge weight = cosine sim in 1e6 units
    //      (6-dp sims quantize exactly), same fixed-point machinery ----
    "q103_pagerank_weighted" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // materialized once — see q98
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
        threshold = 0.4, bands = 3, bitsPerBand = 4).localCheckpoint()
      val w = round(col("sim") * 1e6).cast("long")
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"), w.as("w"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"), w.as("w")))
      PageRank.runWeighted(emb.select("vec_id"), sym, iters = 3)
        .select(col("id").as("vec_id"), col("rank"))
        .orderBy(col("vec_id"))
    },

    // ---- personalized PageRank: proximity-weighted importance. The
    //      0.2-threshold graph is dense enough (max degree ~20 at
    //      sf0.01) that rank genuinely propagates; source 150 is the
    //      highest-degree vertex, so the oracle exercises the weighted
    //      contribution, teleport-return, and dangling paths ----
    "q108_personalized_pagerank" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // materialized once — see q98
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
        threshold = 0.2, bands = 3, bitsPerBand = 4).localCheckpoint()
      val w = round(col("sim") * 1e6).cast("long")
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"), w.as("w"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"), w.as("w")))
      PageRank.runPersonalized(emb.select("vec_id"), sym, source = 150L,
          iters = 3)
        .select(col("id").as("vec_id"), col("rank"))
        .orderBy(col("vec_id"))
    },

    // ---- bounded BFS: 6-hop neighborhood from the densest vertex
    //      (the 0.2 graph actually propagates; 0.4 is near-empty) ----
    "q104_bfs_hops" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // materialized once — see q98
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.2, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      Traversals.bfsHops(emb.select("vec_id"), sym.toDF("src", "dst"),
          source = 150L, maxHops = 6)
        .select(col("id").as("vec_id"), col("dist"))
        .orderBy(col("vec_id"))
    },

    // ---- per-vertex triangle counts (local clustering signal) ----
    "q105_triangles" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.2, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
      Traversals.triangleCounts(emb.select("vec_id"), pairs)
        .select(col("id").as("vec_id"), col("n_triangles"))
        .orderBy(col("vec_id"))
    },

    // ---- local clustering coefficient: triangles vs degree — tight
    //      clusters vs hub-and-spoke neighborhoods ----
    "q134_clustering_coef" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // materialized once: both the triangle pass and the degree
      // aggregate read the pair list — see q98
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.2, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      Traversals.clusteringCoefficient(emb.select("vec_id"), pairs)
        .select(col("id").as("vec_id"), col("deg"), col("n_triangles"),
          col("coef"))
        .orderBy(col("vec_id"))
    },

    // ---- bounded 2-core peel: the dense template/boilerplate part of
    //      the near-dup graph (3 synchronous rounds, q122 pattern) ----
    "q135_kcore" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.2, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
      Traversals.kcorePeel(emb.select("vec_id"), pairs, k = 2, rounds = 3)
        .select(col("id").as("vec_id"), col("in_core"), col("deg"))
        .orderBy(col("vec_id"))
    },

    // ---- bounded weighted SSSP (4 Bellman-Ford rounds): distance =
    //      Σ (1e6 − sim_micro) along the cheapest ≤4-edge path — the
    //      "semantic distance from this document" retrieval signal;
    //      exact integer min-plus arithmetic ----
    "q147_sssp" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // materialized once — see q98
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
        threshold = 0.2, bands = 3, bitsPerBand = 4).localCheckpoint()
      val w = (lit(1000000L) - round(col("sim") * 1e6).cast("long")).as("w")
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"), w)
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"), w))
      Traversals.ssspBounded(emb.select("vec_id"), sym, source = 150L,
          rounds = 4)
        .select(col("id").as("vec_id"), col("dist"))
        .orderBy(col("vec_id"))
    },

    // ---- deterministic random walks (DeepWalk corpus, reproducible):
    //      3 steps from every vertex, md5-argmin neighbor choice ----
    "q150_walks" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // materialized once — see q98
      val pairs = SimilarityOps.lshCandidatePairs(emb, "vec_id", "embedding",
          threshold = 0.2, bands = 3, bitsPerBand = 4)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      Traversals.deterministicWalks(emb.select("vec_id"),
          sym.toDF("src", "dst"), steps = 3)
        .orderBy(col("walk_id"), col("step"))
    },
  )

  private def simEdgesSql: String =
    s"""SELECT a.vec_id AS ia, b.vec_id AS ib
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < b.vec_id
       |    AND ${cosSql("a.embedding", "b.embedding")} >= 0.4""".stripMargin

  private def ccSql(edges: String, vertTable: String, vertCol: String): String =
    s"""WITH RECURSIVE e AS MATERIALIZED ($edges),
       |sym AS (SELECT ia AS src, ib AS dst FROM e
       |        UNION ALL SELECT ib AS src, ia AS dst FROM e),
       |r(id, comp) AS (
       |  SELECT $vertCol, $vertCol FROM $vertTable
       |  UNION
       |  SELECT sym.dst, r.comp FROM r JOIN sym ON sym.src = r.id
       |  WHERE r.comp < sym.dst)
       |SELECT id, MIN(comp) AS component FROM r GROUP BY id""".stripMargin

  /** Sign-LSH band-blocked candidate edges, replaying
    * `SimilarityOps.lshCandidatePairs(threshold=0.4, bands=3,
    * bitsPerBand=4)` exactly: same hyperplane-signature arithmetic as
    * the q55 oracle (bits=12), band key b = (sig >> 4b) & 15 via
    * integer div/mod, OR over bands, exact 6-dp cosine verify, distinct.
    */
  private def lshEdgesSql: String = lshEdgesSqlAt(0.4)

  private def lshEdgesSqlAt(threshold: Double): String = {
    val bits = 12
    val terms = (0 until bits).map { j =>
      val sign = s"(CASE WHEN (i::BIGINT * ${j + 7} * 2654435761) // 1024 % 2 = 1 THEN 1.0 ELSE -1.0 END)"
      val proj = s"list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * $sign)), (a, b) -> a + b)"
      s"CASE WHEN $proj > 0.0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    val sigTable = s"SELECT vec_id, embedding, ($terms) AS sig FROM embeddings"
    val banded = (0 until 3).map { b =>
      s"SELECT vec_id, embedding, $b AS band, (sig // ${1L << (4 * b)}) % 16 AS key FROM ($sigTable) s$b"
    }.mkString(" UNION ALL ")
    s"""SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |  FROM ($banded) a JOIN ($banded) b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $threshold""".stripMargin
  }

  /** Two synchronous LPA rounds over the q122 LSH graph — the CTE
    * chain `p` (edges), `sym`, `l0`..`l2` (labels per round) shared by
    * the q122 and q224 oracles so the replay can never diverge between
    * them. Min-label tie-break via ROW_NUMBER(c DESC, label ASC),
    * matching `Components.labelPropagation`'s packed-argmax exactly.
    */
  private def lpa2Ctes: String =
    s"""p AS ($lshEdgesSql),
       |sym AS (SELECT ia AS src, ib AS dst FROM p
       |        UNION ALL SELECT ib, ia FROM p),
       |l0 AS (SELECT vec_id AS id, CAST(vec_id AS BIGINT) AS label
       |       FROM embeddings),
       |n1 AS (SELECT s.dst AS id, l.label, COUNT(*) AS c
       |       FROM sym s JOIN l0 l ON s.src = l.id GROUP BY s.dst, l.label),
       |b1 AS (SELECT id, label FROM (
       |         SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id
       |           ORDER BY c DESC, label ASC) AS rn FROM n1) t
       |       WHERE rn = 1),
       |l1 AS (SELECT l0.id, COALESCE(b1.label, l0.label) AS label
       |       FROM l0 LEFT JOIN b1 USING (id)),
       |n2 AS (SELECT s.dst AS id, l.label, COUNT(*) AS c
       |       FROM sym s JOIN l1 l ON s.src = l.id GROUP BY s.dst, l.label),
       |b2 AS (SELECT id, label FROM (
       |         SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id
       |           ORDER BY c DESC, label ASC) AS rn FROM n2) t
       |       WHERE rn = 1),
       |l2 AS (SELECT l1.id, COALESCE(b2.label, l1.label) AS label
       |       FROM l1 LEFT JOIN b2 USING (id))""".stripMargin

  /** Full 40-bit md5 fold (first 10 hex chars, no modulus) — the
    * DuckDB replay of `Traversals.deterministicWalks`' neighbor hash.
    */
  private def md5Fold40Sql(e: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5($e), 1, 10), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b)"

  def oracleSql: Map[String, String] = Map(
    "q147_sssp" -> {
      def iter(k: Int): String = {
        val prev = s"d${k - 1}"
        s"""d$k AS (SELECT d.id,
           |  CASE WHEN d.dist IS NULL THEN r.nd
           |       WHEN r.nd IS NULL THEN d.dist
           |       WHEN r.nd < d.dist THEN r.nd ELSE d.dist END AS dist
           |  FROM $prev d LEFT JOIN (
           |    SELECT sym.dst AS id, MIN(p.dist + sym.w) AS nd
           |    FROM $prev p JOIN sym ON p.id = sym.src
           |    WHERE p.dist IS NOT NULL GROUP BY sym.dst) r ON d.id = r.id)"""
          .stripMargin
      }
      s"""WITH e0 AS MATERIALIZED (${lshEdgesSqlAt(0.2)}),
         |ew AS (SELECT e0.ia, e0.ib,
         |  1000000 - ROUND(${cosSql("a.embedding", "b.embedding")} * 1000000.0)::BIGINT
         |    AS w
         |  FROM e0 JOIN embeddings a ON e0.ia = a.vec_id
         |  JOIN embeddings b ON e0.ib = b.vec_id),
         |sym AS (SELECT ia AS src, ib AS dst, w FROM ew
         |        UNION ALL SELECT ib AS src, ia AS dst, w FROM ew),
         |d0 AS (SELECT vec_id AS id,
         |  CAST(CASE WHEN vec_id = 150 THEN 0 END AS BIGINT) AS dist
         |  FROM embeddings),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |${iter(4)}
         |SELECT id AS vec_id, dist FROM d4 ORDER BY vec_id""".stripMargin
    },

    "q150_walks" -> {
      def step(k: Int): String = {
        val prev = if (k == 1) "s0" else s"s${k - 1}"
        val h = md5Fold40Sql(s"c.walk_id::VARCHAR || '|$k|' || sym.dst::VARCHAR")
        s"""s$k AS (SELECT walk_id, pack % 1048576 AS node FROM (
           |  SELECT c.walk_id, MIN($h * 1048576 + sym.dst) AS pack
           |  FROM $prev c JOIN sym ON c.node = sym.src
           |  GROUP BY c.walk_id) x)""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED (${lshEdgesSqlAt(0.2)}),
         |sym AS (SELECT ia AS src, ib AS dst FROM e0
         |        UNION ALL SELECT ib AS src, ia AS dst FROM e0),
         |s0 AS (SELECT vec_id AS walk_id, vec_id AS node FROM embeddings),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT walk_id, 0 AS step, node FROM s0
         |UNION ALL SELECT walk_id, 1 AS step, node FROM s1
         |UNION ALL SELECT walk_id, 2 AS step, node FROM s2
         |UNION ALL SELECT walk_id, 3 AS step, node FROM s3
         |ORDER BY walk_id, step""".stripMargin
    },

    "q37_connected_components" ->
      (ccSql(simEdgesSql, "embeddings", "vec_id") + "\nORDER BY id"),

    "q74_lsh_components" ->
      (ccSql(lshEdgesSql, "embeddings", "vec_id") + "\nORDER BY id"),

    "q122_label_propagation" ->
      s"""WITH $lpa2Ctes
         |SELECT id, label FROM l2 ORDER BY id""".stripMargin,

    // partition-quality replay: label q122's edge set with its LPA-2
    // labels, then the three keyed counts; ::BIGINT everywhere a SUM/
    // COUNT ships (the r5 HUGEINT lesson)
    "q224_partition_quality" ->
      s"""WITH $lpa2Ctes,
         |le AS (SELECT x.label AS la, y.label AS lb
         |       FROM p JOIN l2 x ON p.ia = x.id JOIN l2 y ON p.ib = y.id),
         |intra AS (SELECT la AS label, COUNT(*)::BIGINT AS intra_edges
         |          FROM le WHERE la = lb GROUP BY la),
         |degm AS (SELECT label, COUNT(*)::BIGINT AS degree_sum FROM (
         |           SELECT la AS label FROM le
         |           UNION ALL SELECT lb FROM le) u GROUP BY label),
         |sz AS (SELECT label, COUNT(*)::BIGINT AS n_nodes
         |       FROM l2 GROUP BY label)
         |SELECT sz.label, sz.n_nodes,
         |  COALESCE(i.intra_edges, 0)::BIGINT AS intra_edges,
         |  COALESCE(d.degree_sum, 0)::BIGINT AS degree_sum,
         |  (COALESCE(d.degree_sum, 0) - 2 * COALESCE(i.intra_edges, 0))::BIGINT
         |    AS boundary_edges
         |FROM sz LEFT JOIN degm d USING (label)
         |LEFT JOIN intra i USING (label)
         |ORDER BY label""".stripMargin,

    // snapshot CCs nest as CTE bodies (a CTE body may carry its own
    // WITH RECURSIVE); old edges = full candidate set restricted to
    // old endpoints, exactly like the Spark side's filter
    "q238_family_histogram" ->
      s"""WITH cc AS MATERIALIZED (
         |${ccSql(lshEdgesSql, "embeddings", "vec_id")}),
         |s AS (SELECT component, COUNT(*)::BIGINT AS family_size
         |      FROM cc GROUP BY 1)
         |SELECT family_size, COUNT(*)::BIGINT AS n_families,
         |  (family_size * COUNT(*))::BIGINT AS n_members
         |FROM s GROUP BY family_size ORDER BY family_size""".stripMargin,

    "q227_cluster_evolution" -> {
      val oldEdges =
        s"SELECT * FROM ($lshEdgesSql) le WHERE ia % 2 = 0 AND ib % 2 = 0"
      val oldVerts = "(SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0) vo"
      s"""WITH oldcc AS MATERIALIZED (
         |${ccSql(oldEdges, oldVerts, "vec_id")}),
         |newcc AS MATERIALIZED (
         |${ccSql(lshEdgesSql, "embeddings", "vec_id")}),
         |os AS (SELECT component AS old_component, COUNT(*)::BIGINT AS old_size
         |       FROM oldcc GROUP BY 1),
         |ns AS (SELECT component AS new_component, COUNT(*)::BIGINT AS new_size
         |       FROM newcc GROUP BY 1),
         |pr AS (SELECT o.component AS old_component,
         |         n.component AS new_component, COUNT(*)::BIGINT AS n_shared
         |       FROM oldcc o JOIN newcc n USING (id) GROUP BY 1, 2)
         |SELECT pr.old_component, pr.new_component, pr.n_shared,
         |  os.old_size, ns.new_size
         |FROM pr JOIN os USING (old_component) JOIN ns USING (new_component)
         |ORDER BY old_component, new_component""".stripMargin
    },

    // assortativity sufficient statistics: exact integer sums over the
    // symmetrized edge list (both orientations ride one directed scan)
    "q226_assortativity" ->
      s"""WITH p AS ($lshEdgesSql),
         |d AS (SELECT id, COUNT(*)::BIGINT AS deg FROM (
         |        SELECT ia AS id FROM p UNION ALL SELECT ib FROM p) u
         |      GROUP BY id)
         |SELECT (2 * COUNT(*))::BIGINT AS n_endpoints,
         |  SUM(da.deg + db.deg)::BIGINT AS sum_x,
         |  SUM(da.deg * da.deg + db.deg * db.deg)::BIGINT AS sum_xx,
         |  (2 * SUM(da.deg * db.deg))::BIGINT AS sum_xy
         |FROM p JOIN d da ON p.ia = da.id JOIN d db ON p.ib = db.id""".stripMargin,

    "q111_lsh_degree" ->
      s"""WITH p AS (${lshEdgesSqlAt(0.3)}),
         |d AS (SELECT id, COUNT(*) AS deg FROM
         |  (SELECT ia AS id FROM p UNION ALL SELECT ib AS id FROM p)
         |  GROUP BY id)
         |SELECT e.vec_id AS id, COALESCE(d.deg, 0) AS degree
         |FROM embeddings e LEFT JOIN d ON e.vec_id = d.id
         |ORDER BY id""".stripMargin,

    "q38_cluster_sizes" ->
      s"""WITH cc AS (${ccSql(simEdgesSql, "embeddings", "vec_id")})
         |SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, component ASC) AS cluster_id,
         |  component, COUNT(*) AS cluster_size
         |FROM cc GROUP BY component
         |ORDER BY cluster_id""".stripMargin,

    "q202_incremental_cc" -> {
      // FULL recompute over the union graph — hash-matching it proves
      // the incremental fold is exact
      val toksSql = """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
      val shingle =
        s"""CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
           | ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string((tk)[i:i+2], ' ')) END""".stripMargin
      val jac = (a: String, b: String) =>
        s"CASE WHEN len($a) = 0 OR len($b) = 0 THEN 0.0 ELSE len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))::DOUBLE END"
      val edges =
        s"""WITH sh AS (SELECT doc_id, list_distinct($shingle) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t)
           |SELECT a.doc_id AS ia, b.doc_id AS ib FROM sh a, sh b
           |WHERE a.doc_id < b.doc_id AND ROUND(${jac("a.ss", "b.ss")}, 6) >= 0.5"""
          .stripMargin.replace("\n", " ")
      s"""WITH RECURSIVE e AS MATERIALIZED ($edges),
         |sym AS (SELECT ia AS src, ib AS dst FROM e
         |        UNION ALL SELECT ib AS src, ia AS dst FROM e),
         |r(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT sym.dst, r.comp FROM r JOIN sym ON sym.src = r.id
         |  WHERE r.comp < sym.dst)
         |SELECT id, MIN(comp) AS component
         |FROM r GROUP BY id ORDER BY id""".stripMargin
    },

    "q39_neardup_clusters" -> {
      val toksSql = """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
      val shingle =
        s"""CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
           | ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string((tk)[i:i+2], ' ')) END""".stripMargin
      val jac = (a: String, b: String) =>
        s"CASE WHEN len($a) = 0 OR len($b) = 0 THEN 0.0 ELSE len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))::DOUBLE END"
      val edges =
        s"""WITH sh AS (SELECT doc_id, list_distinct($shingle) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t)
           |SELECT a.doc_id AS ia, b.doc_id AS ib FROM sh a, sh b
           |WHERE a.doc_id < b.doc_id AND ROUND(${jac("a.ss", "b.ss")}, 6) >= 0.5"""
          .stripMargin.replace("\n", " ")
      s"""WITH RECURSIVE e AS MATERIALIZED ($edges),
         |sym AS (SELECT ia AS src, ib AS dst FROM e
         |        UNION ALL SELECT ib AS src, ia AS dst FROM e),
         |r(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT sym.dst, r.comp FROM r JOIN sym ON sym.src = r.id
         |  WHERE r.comp < sym.dst)
         |SELECT id AS doc_id, MIN(comp) AS component,
         |  id = MIN(comp) AS is_keeper
         |FROM r GROUP BY id ORDER BY doc_id""".stripMargin
    },

    "q73_cluster_members" -> {
      val toksSql = """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
      val shingle =
        s"""CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
           | ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string((tk)[i:i+2], ' ')) END""".stripMargin
      val jac = (a: String, b: String) =>
        s"CASE WHEN len($a) = 0 OR len($b) = 0 THEN 0.0 ELSE len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))::DOUBLE END"
      val edges =
        s"""WITH sh AS (SELECT doc_id, list_distinct($shingle) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t)
           |SELECT a.doc_id AS ia, b.doc_id AS ib FROM sh a, sh b
           |WHERE a.doc_id < b.doc_id AND ROUND(${jac("a.ss", "b.ss")}, 6) >= 0.5"""
          .stripMargin.replace("\n", " ")
      s"""WITH RECURSIVE e AS MATERIALIZED ($edges),
         |sym AS (SELECT ia AS src, ib AS dst FROM e
         |        UNION ALL SELECT ib AS src, ia AS dst FROM e),
         |r(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT sym.dst, r.comp FROM r JOIN sym ON sym.src = r.id
         |  WHERE r.comp < sym.dst),
         |cc AS (SELECT id, MIN(comp) AS component FROM r GROUP BY id)
         |SELECT component, COUNT(*) AS cluster_size,
         |  array_to_string(list_sort(list(id::VARCHAR)), ',') AS member_ids
         |FROM cc GROUP BY component HAVING COUNT(*) >= 2
         |ORDER BY component""".stripMargin
    },

    "q194_graph_features" -> {
      // the q98 PageRank iteration fragment, verbatim
      def iter(idx: Int): String = {
        val prev = s"i${idx - 1}"
        s"""i$idx AS (SELECT d.id, d.deg,
           |  150000000000 + (85 * (COALESCE(inc.s, 0) + dang.dd)) // 100 AS rank
           |  FROM degv d
           |  LEFT JOIN (SELECT sym.dst AS id,
           |      CAST(SUM($prev.rank // $prev.deg) AS BIGINT) AS s
           |    FROM $prev JOIN sym ON $prev.id = sym.src
           |    WHERE $prev.deg > 0 GROUP BY sym.dst) inc ON d.id = inc.id
           |  CROSS JOIN (SELECT COALESCE(CAST(SUM(rank) AS BIGINT), 0)
           |      // (SELECT n FROM nn) AS dd
           |    FROM $prev WHERE deg = 0) dang)""".stripMargin
      }
      s"""WITH RECURSIVE e0 AS MATERIALIZED ($lshEdgesSql),
         |sym AS (SELECT ia AS src, ib AS dst FROM e0
         |        UNION ALL SELECT ib AS src, ia AS dst FROM e0),
         |degv AS (SELECT v.vec_id AS id, COALESCE(d.deg, 0) AS deg
         |  FROM embeddings v LEFT JOIN (SELECT src,
         |    CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src) d
         |    ON v.vec_id = d.src),
         |nn AS (SELECT COUNT(*) AS n FROM embeddings),
         |i0 AS (SELECT id, deg, 1000000000000 AS rank FROM degv),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |r(id, comp) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT sym.dst, r.comp FROM r JOIN sym ON sym.src = r.id
         |  WHERE r.comp < sym.dst),
         |cc AS (SELECT id, MIN(comp) AS component FROM r GROUP BY id),
         |cs AS (SELECT component, COUNT(*)::BIGINT AS component_size
         |  FROM cc GROUP BY component),
         |tri AS (SELECT ab.ia AS a, ab.ib AS b, bc.ib AS c
         |  FROM e0 ab JOIN e0 bc ON ab.ib = bc.ia
         |  JOIN e0 ac ON ac.ia = ab.ia AND ac.ib = bc.ib),
         |m AS (SELECT id, COUNT(*) AS n_triangles FROM (
         |  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri) x GROUP BY id)
         |SELECT v.vec_id, COALESCE(dg.deg, 0)::BIGINT AS degree, i3.rank,
         |  cc.component, cs.component_size,
         |  COALESCE(m.n_triangles, 0)::BIGINT AS n_triangles
         |FROM embeddings v
         |LEFT JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM sym GROUP BY src) dg ON v.vec_id = dg.src
         |JOIN i3 ON v.vec_id = i3.id
         |JOIN cc ON v.vec_id = cc.id
         |JOIN cs ON cc.component = cs.component
         |LEFT JOIN m ON v.vec_id = m.id
         |ORDER BY v.vec_id""".stripMargin
    },

    "q180_group_split" -> {
      val bucket = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5(component::VARCHAR), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b) % 1000"
      s"""WITH cc AS (${ccSql(lshEdgesSql, "embeddings", "vec_id")})
         |SELECT id AS vec_id, component,
         |  CASE WHEN $bucket < 800 THEN 'train'
         |       WHEN $bucket < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM cc ORDER BY vec_id""".stripMargin
    },

    // group split: md5 bucket of the CC component (q180's rule);
    // naive split: same rule on the item id — cross edges then counted
    // over the same candidate set
    "q230_split_leakage" -> {
      def bucket(e: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5($e), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b) % 1000"
      def splitCase(e: String) =
        s"""CASE WHEN ${bucket(e)} < 800 THEN 'train'
           |     WHEN ${bucket(e)} < 900 THEN 'val'
           |     ELSE 'test' END""".stripMargin
      s"""WITH cc AS MATERIALIZED (
         |${ccSql(lshEdgesSql, "embeddings", "vec_id")}),
         |p AS MATERIALIZED ($lshEdgesSql),
         |ga AS (SELECT id AS vec_id, ${splitCase("component::VARCHAR")} AS split
         |       FROM cc),
         |na AS (SELECT vec_id, ${splitCase("vec_id::VARCHAR")} AS split
         |       FROM embeddings)
         |SELECT 'group' AS scheme, COUNT(*)::BIGINT AS n_edges,
         |  SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)::BIGINT
         |    AS n_cross_edges
         |FROM p JOIN ga a ON p.ia = a.vec_id JOIN ga b ON p.ib = b.vec_id
         |UNION ALL
         |SELECT 'naive', COUNT(*)::BIGINT,
         |  SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)::BIGINT
         |FROM p JOIN na a ON p.ia = a.vec_id JOIN na b ON p.ib = b.vec_id
         |ORDER BY scheme""".stripMargin
    },

    "q178_hits" -> {
      // one HITS round: auth = Σ incoming hub, max-normalized to 1e6;
      // hub = Σ outgoing FRESH auth, max-normalized — replaying
      // graph.Hits.run exactly in integer micro-units
      def iter(i: Int): String = {
        val prev = s"s${i - 1}"
        s"""ar$i AS (SELECT e.ib AS id, SUM(p.hub)::BIGINT AS raw
           |  FROM e0 e JOIN $prev p ON p.id = e.ia GROUP BY e.ib),
           |aj$i AS (SELECT p.id, COALESCE(r.raw, 0)::BIGINT AS raw, p.hub
           |  FROM $prev p LEFT JOIN ar$i r ON p.id = r.id),
           |am$i AS (SELECT GREATEST(MAX(raw), 1) AS m FROM aj$i),
           |an$i AS (SELECT id, (raw::HUGEINT * 1000000 // m)::BIGINT AS auth,
           |    hub FROM aj$i, am$i),
           |hr$i AS (SELECT e.ia AS id, SUM(p.auth)::BIGINT AS raw
           |  FROM e0 e JOIN an$i p ON p.id = e.ib GROUP BY e.ia),
           |hj$i AS (SELECT p.id, p.auth, COALESCE(r.raw, 0)::BIGINT AS raw
           |  FROM an$i p LEFT JOIN hr$i r ON p.id = r.id),
           |hm$i AS (SELECT GREATEST(MAX(raw), 1) AS m FROM hj$i),
           |s$i AS (SELECT id, auth,
           |    (raw::HUGEINT * 1000000 // m)::BIGINT AS hub
           |  FROM hj$i, hm$i)""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED ($lshEdgesSql),
         |s0 AS (SELECT vec_id AS id, 1000000::BIGINT AS auth,
         |  1000000::BIGINT AS hub FROM embeddings),
         |${iter(1)},
         |${iter(2)}
         |SELECT id AS vec_id, auth, hub FROM s2 ORDER BY vec_id""".stripMargin
    },

    "q98_pagerank" -> {
      // one fixed-point iteration: rank'(v) = 0.15·scale +
      // (85·(Σ_{u→v} rank(u) div deg(u) + danglingMass div N)) div 100 —
      // all-BIGINT, replaying graph.PageRank.run exactly
      def iter(idx: Int): String = {
        val prev = s"i${idx - 1}"
        s"""i$idx AS (SELECT d.id, d.deg,
           |  150000000000 + (85 * (COALESCE(inc.s, 0) + dang.dd)) // 100 AS rank
           |  FROM degv d
           |  LEFT JOIN (SELECT sym.dst AS id,
           |      CAST(SUM($prev.rank // $prev.deg) AS BIGINT) AS s
           |    FROM $prev JOIN sym ON $prev.id = sym.src
           |    WHERE $prev.deg > 0 GROUP BY sym.dst) inc ON d.id = inc.id
           |  CROSS JOIN (SELECT COALESCE(CAST(SUM(rank) AS BIGINT), 0)
           |      // (SELECT n FROM nn) AS dd
           |    FROM $prev WHERE deg = 0) dang)""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED ($lshEdgesSql),
         |sym AS (SELECT ia AS src, ib AS dst FROM e0
         |        UNION ALL SELECT ib AS src, ia AS dst FROM e0),
         |degv AS (SELECT v.vec_id AS id, COALESCE(d.deg, 0) AS deg
         |  FROM embeddings v LEFT JOIN (SELECT src,
         |    CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src) d
         |    ON v.vec_id = d.src),
         |nn AS (SELECT COUNT(*) AS n FROM embeddings),
         |i0 AS (SELECT id, deg, 1000000000000 AS rank FROM degv),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT id AS vec_id, rank FROM i3 ORDER BY vec_id""".stripMargin
    },

    "q103_pagerank_weighted" -> {
      // weighted iteration: contribution = (rank · w) div Σw(src)
      def iter(idx: Int): String = {
        val prev = s"i${idx - 1}"
        s"""i$idx AS (SELECT d.id, d.sumw,
           |  150000000000 + (85 * (COALESCE(inc.s, 0) + dang.dd)) // 100 AS rank
           |  FROM swv d
           |  LEFT JOIN (SELECT sym.dst AS id,
           |      CAST(SUM(($prev.rank * sym.w) // $prev.sumw) AS BIGINT) AS s
           |    FROM $prev JOIN sym ON $prev.id = sym.src
           |    WHERE $prev.sumw > 0 GROUP BY sym.dst) inc ON d.id = inc.id
           |  CROSS JOIN (SELECT COALESCE(CAST(SUM(rank) AS BIGINT), 0)
           |      // (SELECT n FROM nn) AS dd
           |    FROM $prev WHERE sumw = 0) dang)""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED ($lshEdgesSql),
         |ew AS (SELECT e0.ia, e0.ib,
         |  ROUND(${cosSql("a.embedding", "b.embedding")} * 1000000.0)::BIGINT
         |    AS w
         |  FROM e0 JOIN embeddings a ON e0.ia = a.vec_id
         |  JOIN embeddings b ON e0.ib = b.vec_id),
         |sym AS (SELECT ia AS src, ib AS dst, w FROM ew
         |        UNION ALL SELECT ib AS src, ia AS dst, w FROM ew),
         |swv AS (SELECT v.vec_id AS id, COALESCE(s.sumw, 0) AS sumw
         |  FROM embeddings v LEFT JOIN (SELECT src,
         |    CAST(SUM(w) AS BIGINT) AS sumw FROM sym GROUP BY src) s
         |    ON v.vec_id = s.src),
         |nn AS (SELECT COUNT(*) AS n FROM embeddings),
         |i0 AS (SELECT id, sumw, 1000000000000 AS rank FROM swv),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT id AS vec_id, rank FROM i3 ORDER BY vec_id""".stripMargin
    },

    "q108_personalized_pagerank" -> {
      // teleport + dangling mass land on the source (id 150) only; the
      // contribution uses the same overflow-safe decomposition as the
      // Spark side — personalized ranks approach n·scale, so the direct
      // rank*w product would overflow BIGINT in DuckDB too
      def iter(idx: Int): String = {
        val prev = s"i${idx - 1}"
        s"""i$idx AS (SELECT d.id, d.sumw,
           |  (CASE WHEN d.id = 150 THEN
           |    (15 * 1000000000000 * (SELECT n FROM nn)) // 100 ELSE 0 END)
           |  + (85 * (COALESCE(inc.s, 0) +
           |      CASE WHEN d.id = 150 THEN dang.dd ELSE 0 END)) // 100 AS rank
           |  FROM swv d
           |  LEFT JOIN (SELECT sym.dst AS id,
           |      CAST(SUM(($prev.rank // $prev.sumw) * sym.w
           |        + (($prev.rank % $prev.sumw) * sym.w) // $prev.sumw)
           |        AS BIGINT) AS s
           |    FROM $prev JOIN sym ON $prev.id = sym.src
           |    WHERE $prev.sumw > 0 GROUP BY sym.dst) inc ON d.id = inc.id
           |  CROSS JOIN (SELECT COALESCE(CAST(SUM(rank) AS BIGINT), 0) AS dd
           |    FROM $prev WHERE sumw = 0) dang)""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED (${lshEdgesSqlAt(0.2)}),
         |ew AS (SELECT e0.ia, e0.ib,
         |  ROUND(${cosSql("a.embedding", "b.embedding")} * 1000000.0)::BIGINT
         |    AS w
         |  FROM e0 JOIN embeddings a ON e0.ia = a.vec_id
         |  JOIN embeddings b ON e0.ib = b.vec_id),
         |sym AS (SELECT ia AS src, ib AS dst, w FROM ew
         |        UNION ALL SELECT ib AS src, ia AS dst, w FROM ew),
         |swv AS (SELECT v.vec_id AS id, COALESCE(s.sumw, 0) AS sumw
         |  FROM embeddings v LEFT JOIN (SELECT src,
         |    CAST(SUM(w) AS BIGINT) AS sumw FROM sym GROUP BY src) s
         |    ON v.vec_id = s.src),
         |nn AS (SELECT COUNT(*) AS n FROM embeddings),
         |i0 AS (SELECT id, sumw,
         |  CASE WHEN id = 150 THEN 1000000000000 * (SELECT n FROM nn)
         |  ELSE 0 END AS rank FROM swv),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT id AS vec_id, rank FROM i3 ORDER BY vec_id""".stripMargin
    },

    "q104_bfs_hops" ->
      s"""WITH RECURSIVE e0 AS MATERIALIZED (${lshEdgesSqlAt(0.2)}),
         |sym AS (SELECT ia AS src, ib AS dst FROM e0
         |        UNION ALL SELECT ib AS src, ia AS dst FROM e0),
         |r(id, d) AS (
         |  SELECT CAST(150 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION
         |  SELECT sym.dst, r.d + 1 FROM r JOIN sym ON sym.src = r.id
         |  WHERE r.d < 6)
         |SELECT v.vec_id, CAST(MIN(r.d) AS BIGINT) AS dist
         |FROM embeddings v LEFT JOIN r ON v.vec_id = r.id
         |GROUP BY v.vec_id ORDER BY v.vec_id""".stripMargin,

    "q105_triangles" ->
      s"""WITH e0 AS MATERIALIZED (${lshEdgesSqlAt(0.2)}),
         |tri AS (SELECT ab.ia AS a, ab.ib AS b, bc.ib AS c
         |  FROM e0 ab JOIN e0 bc ON ab.ib = bc.ia
         |  JOIN e0 ac ON ac.ia = ab.ia AND ac.ib = bc.ib),
         |m AS (SELECT id, COUNT(*) AS n_triangles FROM (
         |  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri) x GROUP BY id)
         |SELECT v.vec_id, COALESCE(m.n_triangles, 0) AS n_triangles
         |FROM embeddings v LEFT JOIN m ON v.vec_id = m.id
         |ORDER BY v.vec_id""".stripMargin,

    "q134_clustering_coef" ->
      s"""WITH e0 AS MATERIALIZED (${lshEdgesSqlAt(0.2)}),
         |tri AS (SELECT ab.ia AS a, ab.ib AS b, bc.ib AS c
         |  FROM e0 ab JOIN e0 bc ON ab.ib = bc.ia
         |  JOIN e0 ac ON ac.ia = ab.ia AND ac.ib = bc.ib),
         |m AS (SELECT id, COUNT(*) AS n_triangles FROM (
         |  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri) x GROUP BY id),
         |deg AS (SELECT id, COUNT(*) AS deg FROM (
         |  SELECT ia AS id FROM e0 UNION ALL SELECT ib FROM e0) y GROUP BY id)
         |SELECT v.vec_id,
         |  COALESCE(deg.deg, 0)::BIGINT AS deg,
         |  COALESCE(m.n_triangles, 0)::BIGINT AS n_triangles,
         |  CASE WHEN COALESCE(deg.deg, 0) >= 2 THEN
         |    ROUND(2.0 * COALESCE(m.n_triangles, 0)::DOUBLE
         |      / (deg.deg * (deg.deg - 1))::DOUBLE, 6)
         |  ELSE 0.0 END AS coef
         |FROM embeddings v LEFT JOIN m ON v.vec_id = m.id
         |  LEFT JOIN deg ON v.vec_id = deg.id
         |ORDER BY v.vec_id""".stripMargin,

    "q135_kcore" ->
      s"""WITH e0 AS MATERIALIZED (${lshEdgesSqlAt(0.2)}),
         |d1 AS (SELECT id, COUNT(*) AS deg FROM (
         |  SELECT ia AS id FROM e0 UNION ALL SELECT ib FROM e0) x GROUP BY id),
         |a1 AS (SELECT id FROM d1 WHERE deg >= 2),
         |e1 AS (SELECT e0.ia, e0.ib FROM e0
         |  JOIN a1 x ON e0.ia = x.id JOIN a1 y ON e0.ib = y.id),
         |d2 AS (SELECT id, COUNT(*) AS deg FROM (
         |  SELECT ia AS id FROM e1 UNION ALL SELECT ib FROM e1) x GROUP BY id),
         |a2 AS (SELECT id FROM d2 WHERE deg >= 2),
         |e2 AS (SELECT e1.ia, e1.ib FROM e1
         |  JOIN a2 x ON e1.ia = x.id JOIN a2 y ON e1.ib = y.id),
         |d3 AS (SELECT id, COUNT(*) AS deg FROM (
         |  SELECT ia AS id FROM e2 UNION ALL SELECT ib FROM e2) x GROUP BY id),
         |a3 AS (SELECT id FROM d3 WHERE deg >= 2),
         |e3 AS (SELECT e2.ia, e2.ib FROM e2
         |  JOIN a3 x ON e2.ia = x.id JOIN a3 y ON e2.ib = y.id),
         |df AS (SELECT id, COUNT(*) AS deg FROM (
         |  SELECT ia AS id FROM e3 UNION ALL SELECT ib FROM e3) x GROUP BY id)
         |SELECT v.vec_id,
         |  (CASE WHEN a3.id IS NOT NULL THEN 1 ELSE 0 END)::INT AS in_core,
         |  COALESCE(df.deg, 0)::BIGINT AS deg
         |FROM embeddings v LEFT JOIN a3 ON v.vec_id = a3.id
         |  LEFT JOIN df ON v.vec_id = df.id
         |ORDER BY v.vec_id""".stripMargin,
  )
}
