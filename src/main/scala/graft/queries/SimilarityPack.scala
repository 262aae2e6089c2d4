package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.similarity.SimilarityOps

/** Embedding-similarity operators (SURVEY §2.5 V1-V5 + ANN extensions)
  * over the `embeddings` table.
  *
  * Oracle strategy: the DuckDB SQL recomputes cosine/L2 with the exact
  * same strict-left-fold sequence as Spark's `zip_with`+`aggregate`
  * (fold from 0.0 over the zipped products), so the doubles are
  * bit-identical before the final 6-dp round.
  */
object SimilarityPack extends QueryPack {

  // -- DuckDB SQL fragments: the ONE shared spelling (OracleSql) --
  import OracleSql.{cosSql, dotSql, l2Sql}

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- V5 parity: top-k similar to one vector, payload joined ----
    "q30_cosine_topk" -> { (s, d) =>
      SimilarityOps.topKSimilar(Tables.embeddings(s, d), "vec_id", "embedding",
          queryId = 0L, k = 10)
        .select(col("vec_id"), col("label"), col("sim"))
    },

    // ---- V2 parity: exact all-pairs similarity join ----
    "q31_allpairs_cosine" -> { (s, d) =>
      SimilarityOps.allPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- ANN baseline: brute-force kNN per query vector ----
    "q32_knn_per_vector" -> { (s, d) =>
      SimilarityOps.knnForIds(Tables.embeddings(s, d), "vec_id", "embedding",
          maxQueryId = 30L, k = 3)
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- V1 building block: norms + dimensions ----
    "q33_embedding_norms" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      e.select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(graft.functions.VectorFunctions.norm(col("embedding")), 6).as("l2_norm"))
        .orderBy(col("vec_id"))
    },

    // ---- IVF scale path: centroid assignment ----
    "q34_centroid_assign" -> { (s, d) =>
      SimilarityOps.assignToCentroids(Tables.embeddings(s, d), "vec_id", "embedding", 8)
        .select(col("vec_id"), col("centroid"), col("dist"))
        .orderBy(col("vec_id"))
    },

    // ---- similarity graph degree (V2+V3 composition) ----
    "q35_sim_degree" -> { (s, d) =>
      SimilarityOps.similarityDegree(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.3)
        .orderBy(col("id"))
    },

    // ---- IVF search: top-k within the query's centroid block ----
    "q52_ivf_topk" -> { (s, d) =>
      SimilarityOps.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, nCentroids = 8, k = 10)
    },

    // ---- blocked (IVF) all-pairs: the scale path for q31 ----
    "q53_blocked_allpairs" -> { (s, d) =>
      SimilarityOps.allPairsBlocked(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.3, nCentroids = 8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- sign-LSH bucketing: hyperplane signatures + bucket sizes ----
    "q55_hyperplane_lsh" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.VectorFunctions
            .hyperplaneSignature(col("embedding"), 12).as("sig"))
        .groupBy(col("sig"))
        .agg(count(lit(1)).as("bucket_size"), min(col("vec_id")).as("min_vec_id"))
        .orderBy(col("sig"))
    },

    // ---- WIDE-band sign-LSH pairs: 6 bands × 11-bit keys = 66 total
    //      signature bits, more than a single long holds — the scale
    //      twin of the q53/q55 blocking at post-cap width (band keys
    //      ride the multi-word array<long> signature, r11 order sheet
    //      #1; EdgeProbe measured the frozen single-long width growing
    //      candidates 11.1× for 3.33× data, artifacts/edge_probe.json) ----
    "q254_lsh_wide" -> { (s, d) =>
      SimilarityOps.lshCandidatePairs(Tables.embeddings(s, d), "vec_id",
          "embedding", threshold = 0.3, bands = 6, bitsPerBand = 11)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- k-means M-step: element-wise member means per IVF centroid ----
    "q75_kmeans_step" -> { (s, d) =>
      SimilarityOps.updateCentroids(Tables.embeddings(s, d), "vec_id",
          "embedding", nCentroids = 8)
        .orderBy(col("centroid"), col("pos"))
    },

    // ---- full Lloyd's loop: 2 rounds of assign → mean (the clustering
    //      primitive SemDeDup-style curation runs); 6-dp round per M
    //      step keeps every round exactly replayable cross-engine ----
    "q118_kmeans_fit" -> { (s, d) =>
      SimilarityOps.kmeansFit(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 8, iters = 2)
        .orderBy(col("centroid"), col("pos"))
    },

    // ---- SCALE twin of q32: kNN from IVF-blocked candidates (equi-
    //      join on centroid, per-query window over block survivors) ----
    "q110_blocked_knn" -> { (s, d) =>
      SimilarityOps.blockedKnn(Tables.embeddings(s, d), "vec_id", "embedding",
          nCentroids = 8, k = 3)
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- batch ANN serving: exact top-3 for the 10-query batch in
    //      one corpus scan (bounded broadcast of the query batch) ----
    "q216_batch_ann" -> { (s, d) =>
      SimilarityOps.batchTopK(Tables.embeddings(s, d), "vec_id",
          "embedding", queryPred = col("vec_id") < 10, k = 3)
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- ANN recall@3: IVF index vs the exact batch top-k — the
    //      quality gate before trading exactness for speed ----
    "q217_ann_recall" -> { (s, d) =>
      SimilarityOps.annRecall(Tables.embeddings(s, d), "vec_id",
          "embedding", queryPred = col("vec_id") < 10,
          nCentroids = 8, k = 3)
        .orderBy(col("query_id"))
    },

    // ---- embedding drift: cosine + L-inf/L1 between the exact
    //      micro-quantized mean vectors of two corpus slices ----
    "q213_embedding_drift" -> { (s, d) =>
      SimilarityOps.embeddingDrift(Tables.embeddings(s, d), "vec_id",
        "embedding", slicePred = col("vec_id") % 2 === 0)
    },

    // ---- embedding-health audit: per-dimension quantized sum,
    //      floored variance, min/max (dead dims, scale drift) ----
    "q237_dim_variance" -> { (s, d) =>
      SimilarityOps.dimVarianceProfile(Tables.embeddings(s, d), "embedding")
        .orderBy(col("dim"))
    },

    // ---- kNN-distance outliers: bottom-20 vectors by mean similarity
    //      to their IVF-blocked kNN (embedding-space anomaly scores) ----
    "q192_knn_outliers" -> { (s, d) =>
      SimilarityOps.knnOutliers(Tables.embeddings(s, d), "vec_id",
        "embedding", nCentroids = 8, k = 3, bottomK = 20)
    },

    // ---- reciprocal kNN: pairs where each is in the other's top-k —
    //      the hub-edge-stripping high-precision link filter ----
    "q155_mutual_knn" -> { (s, d) =>
      SimilarityOps.mutualKnn(Tables.embeddings(s, d), "vec_id", "embedding",
          nCentroids = 8, k = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- kNN label consistency: share of each vector's neighbors
    //      sharing its label — the annotation-error detector ----
    "q165_label_consistency" -> { (s, d) =>
      SimilarityOps.labelConsistency(Tables.embeddings(s, d), "vec_id",
          "embedding", "label", nCentroids = 8, k = 5)
        .orderBy(col("query_id"))
    },

    // ---- product quantization: packed codes + distortion (the 64x
    //      memory compression a 100 TB embedding index ships) ----
    "q112_pq_codes" -> { (s, d) =>
      SimilarityOps.pqCodes(Tables.embeddings(s, d), "vec_id", "embedding",
          m = 8, nCodes = 16)
        .orderBy(col("vec_id"))
    },

    // ---- PQ search via asymmetric distance computation: LUT equi-join
    //      over codes only, no vector math per candidate ----
    "q113_pq_adc_topk" -> { (s, d) =>
      SimilarityOps.pqAdcTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, m = 8, nCodes = 16, k = 10)
    },

    // ---- coarse semantic dedup by PQ-cell equality: one shuffle on
    //      the 4-byte packed code, the pre-pairwise first pass ----
    "q115_pq_dedup" -> { (s, d) =>
      SimilarityOps.pqDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          m = 8, nCodes = 16)
        .orderBy(col("vec_id"))
    },

    // ---- IVF-PQ search: centroid-pruned block + ADC over codes —
    //      the composed 100 TB serving shape (q52's pruning × q113's
    //      code-only scoring) ----
    "q246_ivfpq_topk" -> { (s, d) =>
      SimilarityOps.ivfPqTopK(Tables.embeddings(s, d), "vec_id",
        "embedding", queryId = 0L, nCentroids = 8, m = 8, nCodes = 16,
        k = 10)
    },

    // ---- IVF-PQ recall@3 vs the exact batch top-k: both
    //      approximations (missed blocks + PQ cell granularity) under
    //      one measured number — the q217 audit for the composed index ----
    "q247_ivfpq_recall" -> { (s, d) =>
      SimilarityOps.ivfPqRecall(Tables.embeddings(s, d), "vec_id",
          "embedding", queryPred = col("vec_id") < 10, nCentroids = 8,
          m = 8, nCodes = 16, k = 3)
        .orderBy(col("query_id"))
    },

    // ---- recall-vs-nprobe ladder: the IVF-PQ deploy-tuning curve —
    //      how many centroid blocks must a probe read to hit the
    //      recall target (one ADC pass, rungs are cent_rank slices) ----
    "q250_ivfpq_nprobe" -> { (s, d) =>
      SimilarityOps.ivfPqRecallLadder(Tables.embeddings(s, d), "vec_id",
        "embedding", queryPred = col("vec_id") < 10, nCentroids = 8,
        m = 8, nCodes = 16, k = 3, nprobes = Seq(1, 2, 4))
    },

    // ---- raw vs RESIDUAL encoding at the same code budget — the
    //      standard IVFADC refinement (codes over x − centroid) as one
    //      measured comparison table (r10 order sheet #5) ----
    "q251_ivfpq_residual" -> { (s, d) =>
      SimilarityOps.ivfPqEncodingLadder(Tables.embeddings(s, d), "vec_id",
          "embedding", queryPred = col("vec_id") < 10, nCentroids = 8,
          m = 8, nCodes = 16, k = 3, nprobes = Seq(1, 2, 4))
        .orderBy(col("encoding"), col("nprobe"))
    },

    // ---- raw vs residual vs TRAINED encoding at the same code budget:
    //      coarse centroids from 2 Lloyd rounds + per-subspace
    //      Lloyd-trained codebooks (r11 order sheet #2 — the measured
    //      no-gain of residual encoding was attributed to seed-sampled
    //      codebooks; this row closes the loop) ----
    "q256_ivfpq_trained" -> { (s, d) =>
      SimilarityOps.ivfPqEncodingLadder(Tables.embeddings(s, d), "vec_id",
          "embedding", queryPred = col("vec_id") < 10, nCentroids = 8,
          m = 8, nCodes = 16, k = 3, nprobes = Seq(1, 2, 4),
          includeTrained = true, trainIters = 2)
        .orderBy(col("encoding"), col("nprobe"))
    },

    // ---- batch IVF-PQ serving: ONE scored-candidate pass for a whole
    //      query set — the deployed serving shape (broadcast probe
    //      shortlist + broadcast LUT + (sub, code) equi-join) ----
    "q252_ivfpq_batch" -> { (s, d) =>
      SimilarityOps.ivfPqBatchTopK(Tables.embeddings(s, d), "vec_id",
          "embedding", queryPred = col("vec_id") < 10, nCentroids = 8,
          m = 8, nCodes = 16, k = 3, nprobe = 2)
        .orderBy(col("query_id"), col("adc_dist"), col("neighbor_id"))
    },

    // ---- per-label centroid profile (element-wise aggregate) ----
    "q36_label_centroid" -> { (s, d) =>
      import s.implicits._
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
        .filter($"pos0" < 8)
        .groupBy($"label", ($"pos0" + 1).cast("int").as("pos"))
        .agg(round(avg($"v".cast("double")), 6).as("avg_v"))
        .orderBy($"label", $"pos")
    },
  )

  def oracleSql: Map[String, String] = Map(
    "q30_cosine_topk" ->
      s"""SELECT e.vec_id, e.label, ${cosSql("e.embedding", "q.qv")} AS sim
         |FROM embeddings e,
         |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY sim DESC, e.vec_id ASC LIMIT 10""".stripMargin,

    "q31_allpairs_cosine" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS sim
         |FROM embeddings a, embeddings b
         |WHERE a.vec_id < b.vec_id
         |  AND ${cosSql("a.embedding", "b.embedding")} >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,

    "q32_knn_per_vector" ->
      s"""SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < 30 AND q.vec_id <> c.vec_id) t
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q33_embedding_norms" ->
      s"""SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
         |  ROUND(SQRT(${dotSql("embedding", "embedding")}), 6) AS l2_norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q34_centroid_assign" ->
      s"""SELECT vec_id, centroid, dist FROM (
         |  SELECT e.vec_id, c.centroid,
         |    ${l2Sql("e.embedding", "c.cv")} AS dist,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |  FROM embeddings e,
         |    (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |     WHERE vec_id < 8) c) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q35_sim_degree" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < b.vec_id
         |    AND ${cosSql("a.embedding", "b.embedding")} >= 0.3),
         |d AS (SELECT id, COUNT(*) AS deg FROM
         |  (SELECT ia AS id FROM p UNION ALL SELECT ib AS id FROM p)
         |  GROUP BY id)
         |SELECT e.vec_id AS id, COALESCE(d.deg, 0) AS degree
         |FROM embeddings e LEFT JOIN d ON e.vec_id = d.id
         |ORDER BY id""".stripMargin,

    "q55_hyperplane_lsh" -> {
      val bits = 12
      // bit j of the signature: sign-projection fold, same index/mix
      // arithmetic as VectorFunctions.hyperplaneSignature (i here is
      // DuckDB's 1-based position = Spark's 0-based index + 1)
      val terms = (0 until bits).map { j =>
        val sign = s"(CASE WHEN (i::BIGINT * ${j + 7} * 2654435761) // 1024 % 2 = 1 THEN 1.0 ELSE -1.0 END)"
        val proj = s"list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * $sign)), (a, b) -> a + b)"
        s"CASE WHEN $proj > 0.0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
      }.mkString(" + ")
      s"""SELECT sig, COUNT(*) AS bucket_size, MIN(vec_id) AS min_vec_id
         |FROM (SELECT vec_id, ($terms) AS sig FROM embeddings) t
         |GROUP BY sig ORDER BY sig""".stripMargin
    },

    "q254_lsh_wide" -> {
      val bands = 6; val bpw = 11
      // band key w = bits [w·11, (w+1)·11) of the sign signature, each
      // bit the q55 projection fold at GLOBAL bit index g (i is
      // DuckDB's 1-based position = Spark's 0-based index + 1; the
      // mix i·(g+7)·2654435761 ≤ 64·73·2654435761 ≈ 1.2e13 < 2⁵³, so
      // DuckDB's exact // agrees with the engines' double division)
      def keyExpr(w: Int): String = (0 until bpw).map { j =>
        val g = w * bpw + j
        val sign = s"(CASE WHEN (i::BIGINT * ${g + 7} * 2654435761) // 1024 % 2 = 1 THEN 1.0 ELSE -1.0 END)"
        val proj = s"list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * $sign)), (a, b) -> a + b)"
        s"CASE WHEN $proj > 0.0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
      }.mkString(" + ")
      val keys = (0 until bands)
        .map(w => s"(${keyExpr(w)}) AS k$w").mkString(",\n  ")
      val anyBand = (0 until bands).map(w => s"a.k$w = b.k$w")
        .mkString(" OR ")
      s"""WITH s AS (SELECT vec_id, embedding,
         |  $keys
         |FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS sim
         |FROM s a JOIN s b
         |  ON a.vec_id < b.vec_id AND ($anyBand)
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q52_ivf_topk" ->
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1),
         |q AS (SELECT centroid AS qc, embedding AS qv FROM assign WHERE vec_id = 0)
         |SELECT a.vec_id, a.centroid, ${cosSql("a.embedding", "q.qv")} AS sim
         |FROM assign a, q
         |WHERE a.centroid = q.qc AND a.vec_id <> 0
         |ORDER BY sim DESC, a.vec_id ASC LIMIT 10""".stripMargin,

    "q53_blocked_allpairs" ->
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS sim
         |FROM assign a JOIN assign b
         |  ON a.centroid = b.centroid AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    "q165_label_consistency" ->
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1),
         |knn AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM assign q JOIN assign c
         |    ON q.centroid = c.centroid AND q.vec_id <> c.vec_id) t
         |  WHERE rank <= 5)
         |SELECT k.query_id, o.label,
         |  COUNT(*)::BIGINT AS n_neighbors,
         |  SUM(CASE WHEN n.label = o.label THEN 1 ELSE 0 END)::BIGINT
         |    AS n_same,
         |  ROUND(SUM(CASE WHEN n.label = o.label THEN 1 ELSE 0 END)::DOUBLE
         |    / COUNT(*)::DOUBLE, 6) AS agreement
         |FROM knn k
         |JOIN embeddings n ON k.neighbor_id = n.vec_id
         |JOIN embeddings o ON k.query_id = o.vec_id
         |GROUP BY k.query_id, o.label
         |ORDER BY k.query_id""".stripMargin,

    "q155_mutual_knn" ->
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1),
         |knn AS (SELECT query_id, neighbor_id, sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM assign q JOIN assign c
         |    ON q.centroid = c.centroid AND q.vec_id <> c.vec_id) t
         |  WHERE rank <= 3)
         |SELECT f.id_a, f.id_b, f.sim FROM
         |  (SELECT query_id AS id_a, neighbor_id AS id_b, sim FROM knn
         |   WHERE query_id < neighbor_id) f
         |JOIN
         |  (SELECT neighbor_id AS id_a, query_id AS id_b FROM knn
         |   WHERE query_id > neighbor_id) r
         |USING (id_a, id_b)
         |ORDER BY id_a, id_b""".stripMargin,

    "q216_batch_ann" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         |r AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("c.embedding", "q.qv")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosSql("c.embedding", "q.qv")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM c, q)
         |SELECT query_id, neighbor_id, rank::INT AS rank, sim FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q217_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosSql("c.embedding", "q.qv")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM c, q) t WHERE rank <= 3),
         |assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, cs.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "cs.cv")} ASC,
         |          cs.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) cs) t
         |  WHERE rn = 1),
         |qa AS (SELECT vec_id AS query_id, embedding AS qv, centroid
         |  FROM assign WHERE vec_id < 10),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT qa.query_id, ca.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY qa.query_id
         |      ORDER BY ${cosSql("ca.embedding", "qa.qv")} DESC,
         |        ca.vec_id ASC) AS rank
         |  FROM assign ca JOIN qa ON ca.centroid = qa.centroid
         |    AND ca.vec_id >= 10) t WHERE rank <= 3),
         |h AS (SELECT ex.query_id, COUNT(*)::BIGINT AS hits
         |  FROM ex JOIN ap USING (query_id, neighbor_id)
         |  GROUP BY ex.query_id),
         |ek AS (SELECT query_id, COUNT(*)::BIGINT AS k FROM ex
         |  GROUP BY query_id)
         |SELECT ek.query_id, COALESCE(h.hits, 0)::BIGINT AS n_hits, ek.k,
         |  ROUND(COALESCE(h.hits, 0)::DOUBLE / ek.k::DOUBLE, 6) AS recall
         |FROM ek LEFT JOIN h ON ek.query_id = h.query_id
         |ORDER BY ek.query_id""".stripMargin,

    // quantize-first (the q213 spelling); variance numerator is
    // nonnegative so HUGEINT // matches Spark's decimal div exactly
    "q237_dim_variance" ->
      """WITH x AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |    ROUND(unnest(embedding)::DOUBLE * 1e6)::BIGINT AS q
        |  FROM embeddings),
        |a AS (SELECT dim, COUNT(*)::BIGINT AS n_vecs,
        |    SUM(q)::BIGINT AS sum_micro, SUM(q::HUGEINT * q) AS ss,
        |    MIN(q)::BIGINT AS min_micro, MAX(q)::BIGINT AS max_micro
        |  FROM x GROUP BY dim)
        |SELECT dim::BIGINT AS dim, n_vecs, sum_micro,
        |  ((n_vecs::HUGEINT * ss - sum_micro::HUGEINT * sum_micro)
        |    // (n_vecs::HUGEINT * n_vecs))::BIGINT AS var_microsq,
        |  min_micro, max_micro
        |FROM a ORDER BY dim""".stripMargin,

    "q213_embedding_drift" ->
      """WITH x AS (SELECT vec_id % 2 = 0 AS a,
        |    generate_subscripts(embedding, 1) AS pos,
        |    ROUND(unnest(embedding)::DOUBLE * 1e6)::BIGINT AS xm
        |  FROM embeddings),
        |d AS (SELECT pos,
        |    (SUM(CASE WHEN a THEN xm END)
        |      // SUM(CASE WHEN a THEN 1 ELSE 0 END))::BIGINT AS ma,
        |    (SUM(CASE WHEN NOT a THEN xm END)
        |      // SUM(CASE WHEN NOT a THEN 1 ELSE 0 END))::BIGINT AS mb
        |  FROM x GROUP BY pos)
        |SELECT ROUND(SUM(ma::HUGEINT * mb)::DOUBLE
        |    / (SQRT(SUM(ma::HUGEINT * ma)::DOUBLE)
        |      * SQRT(SUM(mb::HUGEINT * mb)::DOUBLE)), 6) AS mean_cosine,
        |  MAX(ABS(ma - mb))::BIGINT AS max_abs_diff_micro,
        |  SUM(ABS(ma - mb))::BIGINT AS l1_diff_micro
        |FROM d""".stripMargin,

    "q192_knn_outliers" ->
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1),
         |knn AS (SELECT query_id, sim FROM (
         |  SELECT q.vec_id AS query_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM assign q JOIN assign c
         |    ON q.centroid = c.centroid AND q.vec_id <> c.vec_id) t
         |  WHERE rank <= 3),
         |agg AS (SELECT query_id, COUNT(*)::BIGINT AS n_neighbors,
         |    SUM(ROUND(sim * 1e6)::BIGINT)::BIGINT AS sum_sim_micro
         |  FROM knn GROUP BY query_id)
         |SELECT query_id, n_neighbors, sum_sim_micro,
         |  ROUND(sum_sim_micro::DOUBLE / n_neighbors::DOUBLE / 1e6, 6)
         |    AS mean_sim
         |FROM agg ORDER BY mean_sim ASC, query_id ASC LIMIT 20""".stripMargin,

    "q110_blocked_knn" ->
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM assign q JOIN assign c
         |    ON q.centroid = c.centroid AND q.vec_id <> c.vec_id) t
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q75_kmeans_step" ->
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1)
         |SELECT centroid, CAST(pos AS INT) AS pos, ROUND(AVG(v), 6) AS avg_v
         |FROM (SELECT centroid, unnest(embedding)::DOUBLE AS v,
         |        generate_subscripts(embedding, 1) AS pos
         |      FROM assign) t
         |GROUP BY centroid, pos ORDER BY centroid, pos""".stripMargin,

    "q118_kmeans_fit" ->
      s"""WITH c0 AS (SELECT vec_id AS centroid, embedding AS cv
         |  FROM embeddings WHERE vec_id < 8),
         |a1 AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e, c0 c) t
         |  WHERE rn = 1),
         |m1 AS (
         |  SELECT centroid, pos, ROUND(AVG(v), 6) AS avg_v
         |  FROM (SELECT centroid, unnest(embedding)::DOUBLE AS v,
         |          generate_subscripts(embedding, 1) AS pos FROM a1) t
         |  GROUP BY centroid, pos),
         |c1 AS (SELECT centroid, list(avg_v ORDER BY pos) AS cv
         |       FROM m1 GROUP BY centroid),
         |a2 AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e, c1 c) t
         |  WHERE rn = 1)
         |SELECT centroid, CAST(pos AS INT) AS pos, ROUND(AVG(v), 6) AS avg_v,
         |  COUNT(*) AS n_members
         |FROM (SELECT centroid, unnest(embedding)::DOUBLE AS v,
         |        generate_subscripts(embedding, 1) AS pos FROM a2) t
         |GROUP BY centroid, pos ORDER BY centroid, pos""".stripMargin,

    "q112_pq_codes" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      s"""WITH sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code, d2m FROM (
         |        SELECT vec_id, sub, code, d2m,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1)
         |SELECT vec_id, CAST(SUM(code << (sub * 4)) AS BIGINT) AS pq_code,
         |  CAST(SUM(d2m) AS DOUBLE) / 1e6 AS distortion
         |FROM a GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    "q113_pq_adc_topk" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      s"""WITH sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1),
         |q AS (SELECT sub, sv AS qv FROM sl WHERE vec_id = 0),
         |lut AS (SELECT cb.sub, cb.code,
         |          CAST(ROUND(${sq("q.qv", "cb.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM cb JOIN q USING (sub))
         |SELECT a.vec_id, CAST(SUM(l.lm) AS DOUBLE) / 1e6 AS adc_dist
         |FROM a JOIN lut l ON a.sub = l.sub AND a.code = l.code
         |WHERE a.vec_id <> 0
         |GROUP BY a.vec_id
         |ORDER BY adc_dist ASC, a.vec_id ASC LIMIT 10""".stripMargin
    },

    "q115_pq_dedup" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      s"""WITH sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1),
         |codes AS (SELECT vec_id, CAST(SUM(code << (sub * 4)) AS BIGINT) AS pq_code
         |          FROM a GROUP BY vec_id),
         |cells AS (SELECT pq_code, MIN(vec_id) AS keeper, COUNT(*) AS cell_size
         |          FROM codes GROUP BY pq_code)
         |SELECT c.vec_id, c.pq_code, l.cell_size, c.vec_id = l.keeper AS keep
         |FROM codes c JOIN cells l USING (pq_code)
         |ORDER BY c.vec_id""".stripMargin
    },

    "q246_ivfpq_topk" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      s"""WITH assign AS (
         |  SELECT vec_id, centroid FROM (
         |    SELECT e.vec_id, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1),
         |sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1),
         |qc AS (SELECT centroid AS qcent FROM assign WHERE vec_id = 0),
         |q AS (SELECT sub, sv AS qv FROM sl WHERE vec_id = 0),
         |lut AS (SELECT cb.sub, cb.code,
         |          CAST(ROUND(${sq("q.qv", "cb.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM cb JOIN q USING (sub))
         |SELECT a.vec_id, g.centroid,
         |  CAST(SUM(l.lm) AS DOUBLE) / 1e6 AS adc_dist
         |FROM a
         |JOIN assign g ON a.vec_id = g.vec_id
         |JOIN qc ON g.centroid = qc.qcent
         |JOIN lut l ON a.sub = l.sub AND a.code = l.code
         |WHERE a.vec_id <> 0
         |GROUP BY a.vec_id, g.centroid
         |ORDER BY adc_dist ASC, a.vec_id ASC LIMIT 10""".stripMargin
    },

    "q247_ivfpq_recall" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosSql("c.embedding", "q.qv")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM c, q) t WHERE rank <= 3),
         |assign AS (
         |  SELECT vec_id, centroid FROM (
         |    SELECT e.vec_id, cs.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "cs.cv")} ASC,
         |          cs.centroid ASC) AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) cs) t
         |  WHERE rn = 1),
         |sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1),
         |qa AS (SELECT vec_id AS query_id, centroid FROM assign
         |       WHERE vec_id < 10),
         |lut AS (SELECT sl.vec_id AS query_id, cb.sub, cb.code,
         |          CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM sl JOIN cb USING (sub) WHERE sl.vec_id < 10),
         |adc AS (SELECT qa.query_id, a.vec_id AS neighbor_id,
         |          SUM(l.lm)::BIGINT AS dist
         |        FROM a
         |        JOIN assign g ON a.vec_id = g.vec_id
         |        JOIN qa ON g.centroid = qa.centroid
         |        JOIN lut l ON l.query_id = qa.query_id
         |          AND l.sub = a.sub AND l.code = a.code
         |        WHERE a.vec_id >= 10
         |        GROUP BY qa.query_id, a.vec_id),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY dist ASC, neighbor_id ASC) AS rank
         |  FROM adc) t WHERE rank <= 3),
         |h AS (SELECT ex.query_id, COUNT(*)::BIGINT AS hits
         |  FROM ex JOIN ap USING (query_id, neighbor_id)
         |  GROUP BY ex.query_id),
         |ek AS (SELECT query_id, COUNT(*)::BIGINT AS k FROM ex
         |  GROUP BY query_id)
         |SELECT ek.query_id, COALESCE(h.hits, 0)::BIGINT AS n_hits, ek.k,
         |  ROUND(COALESCE(h.hits, 0)::DOUBLE / ek.k::DOUBLE, 6) AS recall
         |FROM ek LEFT JOIN h ON ek.query_id = h.query_id
         |ORDER BY ek.query_id""".stripMargin
    },

    "q250_ivfpq_nprobe" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosSql("c.embedding", "q.qv")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM c, q) t WHERE rank <= 3),
         |cents AS (SELECT vec_id AS centroid, embedding AS cv
         |  FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, centroid FROM (
         |    SELECT e.vec_id, cs.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "cs.cv")} ASC,
         |          cs.centroid ASC) AS rn
         |    FROM embeddings e, cents cs) t
         |  WHERE rn = 1),
         |qcent AS (SELECT query_id, centroid, cent_rank FROM (
         |  SELECT q.query_id, cs.centroid,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${l2Sql("q.qv", "cs.cv")} ASC,
         |        cs.centroid ASC) AS cent_rank
         |  FROM q, cents cs) t WHERE cent_rank <= 4),
         |sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1),
         |lut AS (SELECT sl.vec_id AS query_id, cb.sub, cb.code,
         |          CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM sl JOIN cb USING (sub) WHERE sl.vec_id < 10),
         |adc AS (SELECT qc.query_id, a.vec_id AS neighbor_id, qc.cent_rank,
         |          SUM(l.lm)::BIGINT AS dist
         |        FROM a
         |        JOIN assign g ON a.vec_id = g.vec_id
         |        JOIN qcent qc ON g.centroid = qc.centroid
         |        JOIN lut l ON l.query_id = qc.query_id
         |          AND l.sub = a.sub AND l.code = a.code
         |        WHERE a.vec_id >= 10
         |        GROUP BY qc.query_id, a.vec_id, qc.cent_rank),
         |rungs AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |ap AS (SELECT nprobe, query_id, neighbor_id FROM (
         |  SELECT r.nprobe, adc.query_id, adc.neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY r.nprobe, adc.query_id
         |      ORDER BY adc.dist ASC, adc.neighbor_id ASC) AS rank
         |  FROM adc, rungs r WHERE adc.cent_rank <= r.nprobe) t
         |  WHERE rank <= 3),
         |h AS (SELECT ap.nprobe, COUNT(*)::BIGINT AS n_hits
         |      FROM ap JOIN ex USING (query_id, neighbor_id)
         |      GROUP BY ap.nprobe),
         |tot AS (SELECT COUNT(DISTINCT query_id)::BIGINT AS n_queries,
         |  COUNT(*)::BIGINT AS n_exact FROM ex)
         |SELECT r.nprobe::BIGINT AS nprobe, tot.n_queries,
         |  COALESCE(h.n_hits, 0)::BIGINT AS n_hits, tot.n_exact,
         |  CAST((1000 * COALESCE(h.n_hits, 0)) // tot.n_exact AS BIGINT)
         |    AS recall_permille
         |FROM rungs r CROSS JOIN tot LEFT JOIN h ON r.nprobe = h.nprobe
         |ORDER BY nprobe""".stripMargin
    },

    "q251_ivfpq_residual" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosSql("c.embedding", "q.qv")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM c, q) t WHERE rank <= 3),
         |cents AS (SELECT vec_id AS centroid, embedding AS cv
         |  FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, centroid FROM (
         |    SELECT e.vec_id, cs.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "cs.cv")} ASC,
         |          cs.centroid ASC) AS rn
         |    FROM embeddings e, cents cs) t
         |  WHERE rn = 1),
         |qcent AS (SELECT query_id, centroid, cent_rank FROM (
         |  SELECT q.query_id, cs.centroid,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${l2Sql("q.qv", "cs.cv")} ASC,
         |        cs.centroid ASC) AS cent_rank
         |  FROM q, cents cs) t WHERE cent_rank <= 4),
         |sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1),
         |lut AS (SELECT sl.vec_id AS query_id, cb.sub, cb.code,
         |          CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM sl JOIN cb USING (sub) WHERE sl.vec_id < 10),
         |adc AS (SELECT qc.query_id, a.vec_id AS neighbor_id, qc.cent_rank,
         |          SUM(l.lm)::BIGINT AS dist
         |        FROM a
         |        JOIN assign g ON a.vec_id = g.vec_id
         |        JOIN qcent qc ON g.centroid = qc.centroid
         |        JOIN lut l ON l.query_id = qc.query_id
         |          AND l.sub = a.sub AND l.code = a.code
         |        WHERE a.vec_id >= 10
         |        GROUP BY qc.query_id, a.vec_id, qc.cent_rank),
         |rungs AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |ap AS (SELECT nprobe, query_id, neighbor_id FROM (
         |  SELECT r.nprobe, adc.query_id, adc.neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY r.nprobe, adc.query_id
         |      ORDER BY adc.dist ASC, adc.neighbor_id ASC) AS rank
         |  FROM adc, rungs r WHERE adc.cent_rank <= r.nprobe) t
         |  WHERE rank <= 3),
         |h AS (SELECT ap.nprobe, COUNT(*)::BIGINT AS n_hits
         |      FROM ap JOIN ex USING (query_id, neighbor_id)
         |      GROUP BY ap.nprobe),
         |tot AS (SELECT COUNT(DISTINCT query_id)::BIGINT AS n_queries,
         |  COUNT(*)::BIGINT AS n_exact FROM ex),
         |res AS (SELECT g.vec_id, g.centroid,
         |    list_transform(list_zip(e.embedding::DOUBLE[], cs.cv::DOUBLE[]),
         |      p -> p[1] - p[2]) AS rv
         |  FROM assign g JOIN embeddings e USING (vec_id)
         |  JOIN cents cs USING (centroid)),
         |slr AS (SELECT r.vec_id, t.s AS sub,
         |    list_slice(r.rv, t.s * (len(r.rv) // 8) + 1,
         |      (t.s + 1) * (len(r.rv) // 8)) AS sv
         |  FROM res r, (SELECT unnest(range(0, 8)) AS s) t),
         |cbr AS (SELECT vec_id AS code, sub, sv AS cv FROM slr
         |  WHERE vec_id < 16),
         |dr AS (SELECT slr.vec_id, slr.sub, cbr.code,
         |        CAST(ROUND(${sq("slr.sv", "cbr.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM slr JOIN cbr USING (sub)),
         |ar AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM dr) t
         |      WHERE rn = 1),
         |qres AS (SELECT qc.query_id, qc.centroid, qc.cent_rank,
         |    list_transform(list_zip(q.qv::DOUBLE[], cs.cv::DOUBLE[]),
         |      p -> p[1] - p[2]) AS rv
         |  FROM qcent qc JOIN q USING (query_id)
         |  JOIN cents cs USING (centroid)),
         |qslr AS (SELECT query_id, centroid, cent_rank, t.s AS sub,
         |    list_slice(rv, t.s * (len(rv) // 8) + 1,
         |      (t.s + 1) * (len(rv) // 8)) AS sv
         |  FROM qres, (SELECT unnest(range(0, 8)) AS s) t),
         |lutr AS (SELECT qs.query_id, qs.centroid, qs.cent_rank, cbr.sub,
         |          cbr.code,
         |          CAST(ROUND(${sq("qs.sv", "cbr.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM qslr qs JOIN cbr ON qs.sub = cbr.sub),
         |adcr AS (SELECT l.query_id, a2.vec_id AS neighbor_id, l.cent_rank,
         |          SUM(l.lm)::BIGINT AS dist
         |        FROM ar a2
         |        JOIN assign g ON a2.vec_id = g.vec_id
         |        JOIN lutr l ON g.centroid = l.centroid
         |          AND a2.sub = l.sub AND a2.code = l.code
         |        WHERE a2.vec_id >= 10
         |        GROUP BY l.query_id, a2.vec_id, l.cent_rank),
         |apr AS (SELECT nprobe, query_id, neighbor_id FROM (
         |  SELECT r.nprobe, adcr.query_id, adcr.neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY r.nprobe, adcr.query_id
         |      ORDER BY adcr.dist ASC, adcr.neighbor_id ASC) AS rank
         |  FROM adcr, rungs r WHERE adcr.cent_rank <= r.nprobe) t
         |  WHERE rank <= 3),
         |hr AS (SELECT apr.nprobe, COUNT(*)::BIGINT AS n_hits
         |      FROM apr JOIN ex USING (query_id, neighbor_id)
         |      GROUP BY apr.nprobe)
         |SELECT * FROM (
         |  SELECT 'raw' AS encoding, r.nprobe::BIGINT AS nprobe,
         |    tot.n_queries, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
         |    tot.n_exact,
         |    CAST((1000 * COALESCE(h.n_hits, 0)) // tot.n_exact AS BIGINT)
         |      AS recall_permille
         |  FROM rungs r CROSS JOIN tot LEFT JOIN h ON r.nprobe = h.nprobe
         |  UNION ALL
         |  SELECT 'residual' AS encoding, r.nprobe::BIGINT AS nprobe,
         |    tot.n_queries, COALESCE(hr.n_hits, 0)::BIGINT AS n_hits,
         |    tot.n_exact,
         |    CAST((1000 * COALESCE(hr.n_hits, 0)) // tot.n_exact AS BIGINT)
         |      AS recall_permille
         |  FROM rungs r CROSS JOIN tot LEFT JOIN hr ON r.nprobe = hr.nprobe) u
         |ORDER BY encoding, nprobe""".stripMargin
    },

    // q251's replay + a TRAINED branch: 2 unrolled k-means rounds (the
    // q118 pattern) for the coarse centroids, 2 unrolled per-subspace
    // Lloyd rounds for the PQ codebooks (assign = d2m/code argmin,
    // means = ROUND(AVG, 6) per (sub, code, pos)), then the same
    // rung arithmetic against the trained models
    "q256_ivfpq_trained" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      // one Lloyd round: assign every embedding to `cin` (6-dp L2 +
      // centroid-id argmin), 6-dp means, rebuild centroid lists
      def kmRound(cin: String, aN: String, mN: String, cout: String) =
        s"""$aN AS (
           |  SELECT vec_id, embedding, centroid FROM (
           |    SELECT e.vec_id, e.embedding, c.centroid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC,
           |          c.centroid ASC) AS rn
           |    FROM embeddings e, $cin c) t
           |  WHERE rn = 1),
           |$mN AS (
           |  SELECT centroid, pos, ROUND(AVG(v), 6) AS avg_v
           |  FROM (SELECT centroid, unnest(embedding)::DOUBLE AS v,
           |          generate_subscripts(embedding, 1) AS pos FROM $aN) t
           |  GROUP BY centroid, pos),
           |$cout AS (SELECT centroid, list(avg_v ORDER BY pos) AS cv
           |  FROM $mN GROUP BY centroid)""".stripMargin
      // one per-subspace Lloyd round: micro-unit argmin vs `cbin`,
      // 6-dp means per (sub, code, pos), rebuild codebook lists
      def pqRound(cbin: String, dN: String, aN: String, mN: String,
                  cbout: String) =
        s"""$dN AS (SELECT sl.vec_id, sl.sub, c.code,
           |        CAST(ROUND(${sq("sl.sv", "c.cv")} * 1e6) AS BIGINT) AS d2m
           |      FROM sl JOIN $cbin c USING (sub)),
           |$aN AS (SELECT vec_id, sub, code FROM (
           |        SELECT vec_id, sub, code,
           |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
           |            ORDER BY d2m ASC, code ASC) AS rn FROM $dN) t
           |      WHERE rn = 1),
           |$mN AS (SELECT sub, code, pos, ROUND(AVG(v), 6) AS avg_v
           |  FROM (SELECT a2.sub, a2.code, unnest(sl.sv)::DOUBLE AS v,
           |          generate_subscripts(sl.sv, 1) AS pos
           |        FROM $aN a2 JOIN sl ON a2.vec_id = sl.vec_id
           |          AND a2.sub = sl.sub) t
           |  GROUP BY sub, code, pos),
           |$cbout AS (SELECT code, sub, list(avg_v ORDER BY pos) AS cv
           |  FROM $mN GROUP BY code, sub)""".stripMargin
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosSql("c.embedding", "q.qv")} DESC,
         |        c.vec_id ASC) AS rank
         |  FROM c, q) t WHERE rank <= 3),
         |cents AS (SELECT vec_id AS centroid, embedding AS cv
         |  FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, centroid FROM (
         |    SELECT e.vec_id, cs.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "cs.cv")} ASC,
         |          cs.centroid ASC) AS rn
         |    FROM embeddings e, cents cs) t
         |  WHERE rn = 1),
         |qcent AS (SELECT query_id, centroid, cent_rank FROM (
         |  SELECT q.query_id, cs.centroid,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${l2Sql("q.qv", "cs.cv")} ASC,
         |        cs.centroid ASC) AS cent_rank
         |  FROM q, cents cs) t WHERE cent_rank <= 4),
         |sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1),
         |lut AS (SELECT sl.vec_id AS query_id, cb.sub, cb.code,
         |          CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM sl JOIN cb USING (sub) WHERE sl.vec_id < 10),
         |adc AS (SELECT qc.query_id, a.vec_id AS neighbor_id, qc.cent_rank,
         |          SUM(l.lm)::BIGINT AS dist
         |        FROM a
         |        JOIN assign g ON a.vec_id = g.vec_id
         |        JOIN qcent qc ON g.centroid = qc.centroid
         |        JOIN lut l ON l.query_id = qc.query_id
         |          AND l.sub = a.sub AND l.code = a.code
         |        WHERE a.vec_id >= 10
         |        GROUP BY qc.query_id, a.vec_id, qc.cent_rank),
         |rungs AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |ap AS (SELECT nprobe, query_id, neighbor_id FROM (
         |  SELECT r.nprobe, adc.query_id, adc.neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY r.nprobe, adc.query_id
         |      ORDER BY adc.dist ASC, adc.neighbor_id ASC) AS rank
         |  FROM adc, rungs r WHERE adc.cent_rank <= r.nprobe) t
         |  WHERE rank <= 3),
         |h AS (SELECT ap.nprobe, COUNT(*)::BIGINT AS n_hits
         |      FROM ap JOIN ex USING (query_id, neighbor_id)
         |      GROUP BY ap.nprobe),
         |tot AS (SELECT COUNT(DISTINCT query_id)::BIGINT AS n_queries,
         |  COUNT(*)::BIGINT AS n_exact FROM ex),
         |res AS (SELECT g.vec_id, g.centroid,
         |    list_transform(list_zip(e.embedding::DOUBLE[], cs.cv::DOUBLE[]),
         |      p -> p[1] - p[2]) AS rv
         |  FROM assign g JOIN embeddings e USING (vec_id)
         |  JOIN cents cs USING (centroid)),
         |slr AS (SELECT r.vec_id, t.s AS sub,
         |    list_slice(r.rv, t.s * (len(r.rv) // 8) + 1,
         |      (t.s + 1) * (len(r.rv) // 8)) AS sv
         |  FROM res r, (SELECT unnest(range(0, 8)) AS s) t),
         |cbr AS (SELECT vec_id AS code, sub, sv AS cv FROM slr
         |  WHERE vec_id < 16),
         |dr AS (SELECT slr.vec_id, slr.sub, cbr.code,
         |        CAST(ROUND(${sq("slr.sv", "cbr.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM slr JOIN cbr USING (sub)),
         |ar AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM dr) t
         |      WHERE rn = 1),
         |qres AS (SELECT qc.query_id, qc.centroid, qc.cent_rank,
         |    list_transform(list_zip(q.qv::DOUBLE[], cs.cv::DOUBLE[]),
         |      p -> p[1] - p[2]) AS rv
         |  FROM qcent qc JOIN q USING (query_id)
         |  JOIN cents cs USING (centroid)),
         |qslr AS (SELECT query_id, centroid, cent_rank, t.s AS sub,
         |    list_slice(rv, t.s * (len(rv) // 8) + 1,
         |      (t.s + 1) * (len(rv) // 8)) AS sv
         |  FROM qres, (SELECT unnest(range(0, 8)) AS s) t),
         |lutr AS (SELECT qs.query_id, qs.centroid, qs.cent_rank, cbr.sub,
         |          cbr.code,
         |          CAST(ROUND(${sq("qs.sv", "cbr.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM qslr qs JOIN cbr ON qs.sub = cbr.sub),
         |adcr AS (SELECT l.query_id, a2.vec_id AS neighbor_id, l.cent_rank,
         |          SUM(l.lm)::BIGINT AS dist
         |        FROM ar a2
         |        JOIN assign g ON a2.vec_id = g.vec_id
         |        JOIN lutr l ON g.centroid = l.centroid
         |          AND a2.sub = l.sub AND a2.code = l.code
         |        WHERE a2.vec_id >= 10
         |        GROUP BY l.query_id, a2.vec_id, l.cent_rank),
         |apr AS (SELECT nprobe, query_id, neighbor_id FROM (
         |  SELECT r.nprobe, adcr.query_id, adcr.neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY r.nprobe, adcr.query_id
         |      ORDER BY adcr.dist ASC, adcr.neighbor_id ASC) AS rank
         |  FROM adcr, rungs r WHERE adcr.cent_rank <= r.nprobe) t
         |  WHERE rank <= 3),
         |hr AS (SELECT apr.nprobe, COUNT(*)::BIGINT AS n_hits
         |      FROM apr JOIN ex USING (query_id, neighbor_id)
         |      GROUP BY apr.nprobe),
         |${kmRound("cents", "ka1", "km1", "kc1")},
         |${kmRound("kc1", "ka2", "km2", "kc2")},
         |tassign AS (
         |  SELECT vec_id, centroid FROM (
         |    SELECT e.vec_id, cs.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "cs.cv")} ASC,
         |          cs.centroid ASC) AS rn
         |    FROM embeddings e, kc2 cs) t
         |  WHERE rn = 1),
         |tqcent AS (SELECT query_id, centroid, cent_rank FROM (
         |  SELECT q.query_id, cs.centroid,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${l2Sql("q.qv", "cs.cv")} ASC,
         |        cs.centroid ASC) AS cent_rank
         |  FROM q, kc2 cs) t WHERE cent_rank <= 4),
         |${pqRound("cb", "pd1", "pa1", "pm1", "pcb1")},
         |${pqRound("pcb1", "pd2", "pa2", "pm2", "pcb2")},
         |td AS (SELECT sl.vec_id, sl.sub, c2.code,
         |        CAST(ROUND(${sq("sl.sv", "c2.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN pcb2 c2 USING (sub)),
         |ta AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM td) t
         |      WHERE rn = 1),
         |tlut AS (SELECT sl.vec_id AS query_id, c2.sub, c2.code,
         |          CAST(ROUND(${sq("sl.sv", "c2.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM sl JOIN pcb2 c2 USING (sub) WHERE sl.vec_id < 10),
         |tadc AS (SELECT qc.query_id, a3.vec_id AS neighbor_id,
         |          qc.cent_rank, SUM(l.lm)::BIGINT AS dist
         |        FROM ta a3
         |        JOIN tassign g ON a3.vec_id = g.vec_id
         |        JOIN tqcent qc ON g.centroid = qc.centroid
         |        JOIN tlut l ON l.query_id = qc.query_id
         |          AND l.sub = a3.sub AND l.code = a3.code
         |        WHERE a3.vec_id >= 10
         |        GROUP BY qc.query_id, a3.vec_id, qc.cent_rank),
         |tap AS (SELECT nprobe, query_id, neighbor_id FROM (
         |  SELECT r.nprobe, tadc.query_id, tadc.neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY r.nprobe, tadc.query_id
         |      ORDER BY tadc.dist ASC, tadc.neighbor_id ASC) AS rank
         |  FROM tadc, rungs r WHERE tadc.cent_rank <= r.nprobe) t
         |  WHERE rank <= 3),
         |th AS (SELECT tap.nprobe, COUNT(*)::BIGINT AS n_hits
         |      FROM tap JOIN ex USING (query_id, neighbor_id)
         |      GROUP BY tap.nprobe)
         |SELECT * FROM (
         |  SELECT 'raw' AS encoding, r.nprobe::BIGINT AS nprobe,
         |    tot.n_queries, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
         |    tot.n_exact,
         |    CAST((1000 * COALESCE(h.n_hits, 0)) // tot.n_exact AS BIGINT)
         |      AS recall_permille
         |  FROM rungs r CROSS JOIN tot LEFT JOIN h ON r.nprobe = h.nprobe
         |  UNION ALL
         |  SELECT 'residual' AS encoding, r.nprobe::BIGINT AS nprobe,
         |    tot.n_queries, COALESCE(hr.n_hits, 0)::BIGINT AS n_hits,
         |    tot.n_exact,
         |    CAST((1000 * COALESCE(hr.n_hits, 0)) // tot.n_exact AS BIGINT)
         |      AS recall_permille
         |  FROM rungs r CROSS JOIN tot LEFT JOIN hr ON r.nprobe = hr.nprobe
         |  UNION ALL
         |  SELECT 'trained' AS encoding, r.nprobe::BIGINT AS nprobe,
         |    tot.n_queries, COALESCE(th.n_hits, 0)::BIGINT AS n_hits,
         |    tot.n_exact,
         |    CAST((1000 * COALESCE(th.n_hits, 0)) // tot.n_exact AS BIGINT)
         |      AS recall_permille
         |  FROM rungs r CROSS JOIN tot LEFT JOIN th ON r.nprobe = th.nprobe) u
         |ORDER BY encoding, nprobe""".stripMargin
    },

    "q252_ivfpq_batch" -> {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |cents AS (SELECT vec_id AS centroid, embedding AS cv
         |  FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, centroid FROM (
         |    SELECT e.vec_id, cs.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "cs.cv")} ASC,
         |          cs.centroid ASC) AS rn
         |    FROM embeddings e, cents cs) t
         |  WHERE rn = 1),
         |qcent AS (SELECT query_id, centroid FROM (
         |  SELECT q.query_id, cs.centroid,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${l2Sql("q.qv", "cs.cv")} ASC,
         |        cs.centroid ASC) AS cent_rank
         |  FROM q, cents cs) t WHERE cent_rank <= 2),
         |sl AS (
         |  SELECT e.vec_id, t.s AS sub,
         |    list_slice(e.embedding, t.s * (len(e.embedding) // 8) + 1,
         |      (t.s + 1) * (len(e.embedding) // 8)) AS sv
         |  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t),
         |cb AS (SELECT vec_id AS code, sub, sv AS cv FROM sl WHERE vec_id < 16),
         |d AS (SELECT sl.vec_id, sl.sub, cb.code,
         |        CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS d2m
         |      FROM sl JOIN cb USING (sub)),
         |a AS (SELECT vec_id, sub, code FROM (
         |        SELECT vec_id, sub, code,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |            ORDER BY d2m ASC, code ASC) AS rn FROM d) t
         |      WHERE rn = 1),
         |lut AS (SELECT sl.vec_id AS query_id, cb.sub, cb.code,
         |          CAST(ROUND(${sq("sl.sv", "cb.cv")} * 1e6) AS BIGINT) AS lm
         |        FROM sl JOIN cb USING (sub) WHERE sl.vec_id < 10),
         |adc AS (SELECT qc.query_id, a.vec_id AS neighbor_id,
         |          SUM(l.lm)::BIGINT AS dist
         |        FROM a
         |        JOIN assign g ON a.vec_id = g.vec_id
         |        JOIN qcent qc ON g.centroid = qc.centroid
         |        JOIN lut l ON l.query_id = qc.query_id
         |          AND l.sub = a.sub AND l.code = a.code
         |        WHERE a.vec_id >= 10
         |        GROUP BY qc.query_id, a.vec_id)
         |SELECT query_id, neighbor_id,
         |  CAST(dist AS DOUBLE) / 1e6 AS adc_dist
         |FROM (SELECT query_id, neighbor_id, dist,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY dist ASC, neighbor_id ASC) AS rank
         |      FROM adc) t
         |WHERE rank <= 3
         |ORDER BY query_id, adc_dist, neighbor_id""".stripMargin
    },

    "q36_label_centroid" ->
      """SELECT label, CAST(pos AS INT) AS pos, ROUND(AVG(v), 6) AS avg_v
        |FROM (SELECT label, unnest(embedding)::DOUBLE AS v,
        |        generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings) t
        |WHERE pos <= 8
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
  )
}
