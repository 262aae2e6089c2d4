package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.ZOrder
import graft.pipeline.{Chunking, Corpus, Dedup, Export, Sampling, Stats, TextAnalysis}
import graft.similarity.SimilarityOps

/** Training-data EXPORT pipeline operators: chunking, decontamination,
  * PII scrubbing, repetition scoring, TF-IDF, inverted index, source-mix
  * reweighting, deterministic sharding, embedding quantization.
  *
  * Oracle strategy: all arithmetic is integer, md5-derived, or explicit
  * IEEE double expressions with identical operation order in both
  * engines, rounded to 6 dp wherever a ranking/threshold depends on it.
  */
object TrainPack extends QueryPack {

  // ---- DuckDB fragments (mirror graft.functions.TextFunctions) ----
  private val toksSql =
    """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
  /** Word n-gram shingles over token-list expr `tk` (n literal). */
  private def shingleSql(tk: String, n: Int): String =
    s"""CASE WHEN len($tk) <= $n THEN [array_to_string($tk, ' ')]
       | ELSE list_transform(range(1, len($tk) - ${n - 2}), i -> array_to_string(($tk)[i:i+${n - 1}], ' ')) END"""
      .stripMargin.replace("\n", " ")
  // the ONE shared spelling of the vector and hashing fragments
  import OracleSql.{bandsSql, cosSql, jaccardSql, l2Sql, md5LongSql, minhashSql}

  /** Shared CTE chain replaying `Corpus.dsirWeights` (hashed 1+2-gram
    * buckets, add-one-smoothed target/raw log-ratio in nano-nat units)
    * ending in `ad` = per-document weights — the base of both q117
    * (the weights) and q123 (the resampling gate over them).
    */
  private lazy val dsirAdCtes: String =
    s"""t AS (SELECT doc_id, doc_id % 10 = 0 AS tgt, $toksSql AS tk
       |  FROM documents),
       |f AS (SELECT doc_id, tgt,
       |    unnest(list_concat(${shingleSql("tk", 1)}, ${shingleSql("tk", 2)})) AS fe
       |  FROM t),
       |b AS (SELECT doc_id, tgt, ${md5LongSql("fe")} % 1024 AS b FROM f),
       |c AS (SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc,
       |    SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS rc
       |  FROM b GROUP BY b),
       |tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS tr FROM c),
       |u AS (SELECT b, ROUND((LN((tc + 1)::DOUBLE / (tt + 1024)::DOUBLE)
       |    - LN((rc + 1)::DOUBLE / (tr + 1024)::DOUBLE)) * 1e9)::BIGINT AS u
       |  FROM c, tot),
       |p AS (SELECT b.doc_id, COUNT(*) AS n_features, SUM(u.u) AS weight_units
       |  FROM b JOIN u USING (b) GROUP BY b.doc_id),
       |ad AS (SELECT t.doc_id, t.tgt AS is_target,
       |    COALESCE(n_features, 0) AS n_features,
       |    COALESCE(weight_units, 0)::BIGINT AS weight_units,
       |    ROUND(CASE WHEN COALESCE(n_features, 0) = 0 THEN 0.0
       |      ELSE (weight_units::DOUBLE / 1e9) / n_features::DOUBLE END, 6)
       |      AS avg_log_ratio
       |  FROM t LEFT JOIN p ON t.doc_id = p.doc_id)""".stripMargin

  // Regex literals pass through verbatim: DuckDB standard single-quoted
  // strings don't process backslash escapes, so the Java pattern string
  // is byte-identical on both sides.
  private val emailPat = TextAnalysis.EmailPattern
  private val phonePat = TextAnalysis.PhonePattern

  /** The deterministic PII-bearing column for q82 (the synthetic corpus
    * contains no natural PII, so the query constructs one from doc
    * fields — identically in both engines — and scrubs it).
    */
  private def contactCol = concat(
    lit("Reach user"), col("doc_id").cast("string"),
    lit(" at user"), col("doc_id").cast("string"),
    lit("@"), col("source"), lit(".com or +1-555-"),
    lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
    lit(" now"))
  private val contactSql =
    "'Reach user' || doc_id::VARCHAR || ' at user' || doc_id::VARCHAR || '@' || source || '.com or +1-555-' || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') || ' now'"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- context-window chunking with overlap ----
    "q80_chunk_documents" -> { (s, d) =>
      Chunking.tokenChunks(Tables.documents(s, d), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // ---- eval-set decontamination (5-gram overlap) ----
    "q81_decontaminate" -> { (s, d) =>
      Corpus.decontaminate(Tables.documents(s, d), "doc_id", "text",
          evalPred = col("doc_id") % 10 === 0, n = 5)
        .orderBy(col("doc_id"))
    },

    // ---- contamination REPORTING: per EVAL doc, distinct 13-gram
    //      collisions with the training corpus (the GPT-3-appendix
    //      audit) — q81's equi-join scaffold with the grouping flipped
    //      to the eval side, permille via floored integer division ----
    "q231_eval_overlap" -> { (s, d) =>
      Corpus.evalOverlapReport(Tables.documents(s, d), "doc_id", "text",
          evalPred = col("doc_id") % 10 === 0, n = 13)
        .orderBy(col("doc_id"))
    },

    // ---- the q231 report rolled up per eval source: contaminated
    //      doc share (floored permille) + total collisions ----
    "q234_contamination_rollup" -> { (s, d) =>
      Corpus.evalOverlapBySlice(Tables.documents(s, d), "doc_id", "text",
          evalPred = col("doc_id") % 10 === 0, sliceCol = "source", n = 13)
        .orderBy(col("source"))
    },

    // ---- the grams doing the contaminating: top colliding 13-grams
    //      by eval-doc reach, with the train-side df ----
    "q239_contamination_grams" -> { (s, d) =>
      Corpus.evalOverlapTopGrams(Tables.documents(s, d), "doc_id", "text",
        evalPred = col("doc_id") % 10 === 0, n = 13, topK = 20)
    },

    // ---- FUZZY contamination: train docs that are MinHash-LSH
    //      near-dups of eval docs, with verified shingle Jaccard —
    //      catches the paraphrased leakage q231's exact 13-grams
    //      miss ----
    "q240_contamination_fuzzy" -> { (s, d) =>
      Corpus.evalNearDupReport(Tables.documents(s, d), "doc_id", "text",
          evalPred = col("doc_id") % 10 === 0,
          n = 3, k = 16, bands = 4, threshold = 0.5)
        .orderBy(col("eval_id"), col("train_id"))
    },

    // ---- boilerplate detector: top word 5-grams by cross-document
    //      frequency (distinct docs containing the gram) ----
    "q236_boilerplate_ngrams" -> { (s, d) =>
      Corpus.boilerplateNgrams(Tables.documents(s, d), "doc_id", "text",
        n = 5, minDf = 2L, topK = 20)
    },

    // ---- per-source n-gram novelty: how much of each feed's shingle
    //      vocabulary exists in NO other source (drop-candidate
    //      detector for the data mix) ----
    "q243_source_novelty" -> { (s, d) =>
      Corpus.sourceNovelty(Tables.documents(s, d), "text", "source",
          n = 3)
        .orderBy(col("source"))
    },

    // ---- marginal value of data: per source, new distinct shingles
    //      contributed by each id-ordered decile prefix — "is more of
    //      this feed worth crawling" ----
    "q244_marginal_novelty" -> { (s, d) =>
      Corpus.marginalNoveltyCurve(Tables.documents(s, d), "doc_id",
          "text", "source", buckets = 10, n = 3)
        .orderBy(col("source"), col("bucket"))
    },

    // ---- directed source containment: share of feed A's vocabulary
    //      that also appears in feed B — asymmetry says who copies
    //      whom ----
    "q245_source_overlap_matrix" -> { (s, d) =>
      Corpus.sourceOverlapMatrix(Tables.documents(s, d), "text",
          "source", n = 3)
        .orderBy(col("source_a"), col("source_b"))
    },

    // ---- Bloom-filter decontamination: eval shingles -> one 4 KiB
    //      broadcast bit array, train shingles probe it map-side ----
    "q114_bloom_decontaminate" -> { (s, d) =>
      Corpus.bloomDecontaminate(Tables.documents(s, d), "doc_id", "text",
          evalPred = col("doc_id") % 10 === 0, n = 5,
          bits = 32768, hashes = 3)
        .orderBy(col("doc_id"))
    },

    // ---- DSIR importance weights: hashed n-gram log-likelihood ratio
    //      vs the eval-style target slice (doc_id % 10 = 0) ----
    "q117_dsir_weights" -> { (s, d) =>
      Corpus.dsirWeights(Tables.documents(s, d), "doc_id", "text",
          targetPred = col("doc_id") % 10 === 0, n = 2, buckets = 1024)
        .select(col("doc_id"), col("is_target"), col("n_features"),
          col("weight_units"))
        .orderBy(col("doc_id"))
    },

    // ---- the execution half of DSIR: importance-resampling hash gate
    //      with acceptance ∝ exp(weight), integer-exact normalizer.
    //      Contract ships integer columns only (weight_units, not the
    //      rounded-double avg_log_ratio — the r5 hash-red class q117
    //      was cured of; the double stays operator-internal as the
    //      exp() input) ----
    "q123_dsir_resample" -> { (s, d) =>
      val w = Corpus.dsirWeights(Tables.documents(s, d), "doc_id", "text",
          targetPred = col("doc_id") % 10 === 0, n = 2, buckets = 1024)
        .select(col("doc_id"), col("weight_units"), col("avg_log_ratio"))
      Sampling.importanceResample(w, col("doc_id"), "avg_log_ratio",
          targetPermille = 300)
        .select(col("doc_id"), col("weight_units"), col("keep_permille"))
        .orderBy(col("doc_id"))
    },

    // ---- ExactSubstr-style duplicated-span REMOVAL (q89's rewrite twin) ----
    "q116_span_removal" -> { (s, d) =>
      Corpus.removeDuplicatedSpans(Tables.documents(s, d), "doc_id", "text",
          n = 8)
        .orderBy(col("doc_id"))
    },

    // ---- PII scrub over a constructed contact string ----
    "q82_pii_scrub" -> { (s, d) =>
      val withContact = Tables.documents(s, d)
        .select(col("doc_id"), contactCol.as("contact"))
      TextAnalysis.scrubPii(withContact, "doc_id", "contact")
        .orderBy(col("doc_id"))
    },

    // ---- repetition ratio (duplicate-shingle fraction) ----
    "q83_repetition_ratio" -> { (s, d) =>
      TextAnalysis.repetitionRatio(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    },

    // ---- per-doc top-3 TF-IDF terms ----
    "q84_tfidf_topterms" -> { (s, d) =>
      Corpus.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    },

    // ---- inverted index (term -> df, tf, posting list) ----
    "q85_inverted_index" -> { (s, d) =>
      Corpus.invertedIndex(Tables.documents(s, d), "doc_id", "text", minDf = 2L)
        .orderBy(col("term"))
    },

    // ---- source x lang mix shares + flattening weights ----
    "q86_domain_mix" -> { (s, d) =>
      Corpus.domainMixWeights(Tables.documents(s, d), Seq("source", "lang"))
        .orderBy(col("source"), col("lang"))
    },

    // ---- epoch planning under data constraints: 2x-corpus token
    //      budget split uniformly over sources, repetition capped at
    //      4 epochs, shortfall surfaced — floored-milli integers ----
    "q233_epoch_mix" -> { (s, d) =>
      Corpus.epochMixPlan(Tables.documents(s, d), "source", "text",
          budgetFactorMilli = 2000, maxEpochsMilli = 4000)
        .orderBy(col("source"))
    },

    // ---- deterministic export sharding ----
    "q87_export_shards" -> { (s, d) =>
      Export.shardAssignments(Tables.documents(s, d), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("seq"))
        .orderBy(col("doc_id"))
    },

    // ---- int8 scalar quantization of embeddings ----
    "q88_quantize_embeddings" -> { (s, d) =>
      SimilarityOps.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("vec_id"))
    },

    // ---- cross-doc repeated-span (windowed-hash substring dedup) ----
    "q89_span_dedup" -> { (s, d) =>
      Corpus.spanDupStats(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    },

    // ---- sequence packing of non-overlapping chunks ----
    "q90_pack_sequences" -> { (s, d) =>
      val chunks = Chunking.tokenChunks(Tables.documents(s, d), "doc_id",
        "text", chunkSize = 32, stride = 32)
      Chunking.packSequences(chunks, "doc_id", "chunk_idx",
          "n_chunk_tokens", budget = 256, numShards = 4)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // ---- packing-efficiency audit of q90's layout: per shard, the
    //      token mass, sequences consumed and floored-milli
    //      utilization — waste as a number, not a guess ----
    "q229_packing_stats" -> { (s, d) =>
      val chunks = Chunking.tokenChunks(Tables.documents(s, d), "doc_id",
        "text", chunkSize = 32, stride = 32)
      Chunking.packingStats(chunks, "doc_id", "n_chunk_tokens",
          budget = 256, numShards = 4)
        .orderBy(col("shard"))
    },

    // ---- top-k vocabulary with cumulative coverage ----
    "q91_vocab_coverage" -> { (s, d) =>
      Corpus.vocabCoverage(Tables.documents(s, d), "doc_id", "text", k = 100)
        .orderBy(col("rank"))
    },

    // ---- incremental batch-vs-corpus dedup ----
    "q92_incremental_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusDedup(
          corpus = docs.filter(col("doc_id") < 400),
          batch = docs.filter(col("doc_id") >= 400),
          "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy(col("doc_id"))
    },

    // ---- BM25 top-k per query term ----
    "q93_bm25" -> { (s, d) =>
      Corpus.bm25Scores(Tables.documents(s, d), "doc_id", "text",
          queryTerms = Seq("spark", "vector", "join"),
          k1 = 1.2, b = 0.75, topK = 5)
        .orderBy(col("term"), col("rank"))
    },

    // ---- hybrid retrieval: BM25 list + cosine list fused by
    //      reciprocal rank (RRF) over integer micro-unit rankings ----
    "q119_rrf_fusion" -> { (s, d) =>
      Corpus.rrfHybridTopK(Tables.documents(s, d), "doc_id", "text",
          Tables.embeddings(s, d), "vec_id", "embedding",
          queryTerms = Seq("spark", "vector", "join"), queryVecId = 0L,
          k1 = 1.2, b = 0.75, kRrf = 60, topN = 20)
    },

    // ---- SemDeDup: centroid-blocked semantic near-dup flags ----
    "q94_semantic_dedup" -> { (s, d) =>
      SimilarityOps.semanticDedup(Tables.embeddings(s, d), "vec_id",
          "embedding", nCentroids = 8, threshold = 0.35)
        .orderBy(col("vec_id"))
    },

    // ---- deterministic histogram-quantile sketch ----
    "q95_hist_quantiles" -> { (s, d) =>
      Stats.histogramQuantiles(Tables.orders(s, d), "o_totalprice",
          bins = 128, qs = Seq(0.5, 0.9, 0.99))
        .orderBy(col("q"))
    },

    // ---- per-group histogram quantiles ----
    "q109_grouped_quantiles" -> { (s, d) =>
      Stats.groupedHistogramQuantiles(Tables.orders(s, d),
          "o_orderpriority", "o_totalprice", bins = 64, qs = Seq(0.5, 0.95))
        .orderBy(col("o_orderpriority"), col("q"))
    },

    // ---- z-order layout: per-file pruning statistics ----
    "q96_zorder_layout" -> { (s, d) =>
      val keys = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("x"),
        pmod(col("c_custkey"), lit(1024L)).as("y"))
      ZOrder.layoutStats(keys, "x", "y", bits = 10, rowsPerFile = 100)
        .orderBy(col("file_id"))
    },

    // ---- mix-flattening deterministic sample ----
    "q97_rebalanced_sample" -> { (s, d) =>
      Sampling.rebalancedSample(Tables.documents(s, d), col("doc_id"),
          Seq("source", "lang"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // ---- sqrt-temperature mix smoothing (multilingual sampling) ----
    "q106_temperature_mix" -> { (s, d) =>
      Corpus.temperatureMixWeights(Tables.documents(s, d), Seq("source", "lang"))
        .orderBy(col("source"), col("lang"))
    },

    // ---- contrastive hard-negative mining (IVF-blocked band) ----
    "q107_hard_negatives" -> { (s, d) =>
      SimilarityOps.hardNegatives(Tables.embeddings(s, d), "vec_id",
          "embedding", nCentroids = 8, lo = 0.3, hi = 0.6, k = 3)
        .orderBy(col("anchor"), col("rank"))
    },

    // ---- unigram-LM surprisal (the cheap perplexity filter) ----
    "q99_unigram_surprisal" -> { (s, d) =>
      TextAnalysis.unigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- CCNet-shape perplexity filter: interpolated bigram LM ----
    "q120_bigram_surprisal" -> { (s, d) =>
      TextAnalysis.bigramSurprisal(Tables.documents(s, d), "doc_id", "text",
          lambda = 0.5)
        .orderBy(col("doc_id"))
    },

    // ---- join-key skew profile (the pre-salting diagnostic) ----
    "q100_key_skew" -> { (s, d) =>
      Stats.keySkewProfile(Tables.orders(s, d), "o_custkey", topK = 5)
        .orderBy(col("rank"))
    },

    // ---- ANALYZE-style one-scan column profile (count/ndv/min/max) ----
    "q121_column_profile" -> { (s, d) =>
      Stats.columnProfile(Tables.lineitem(s, d),
          Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"))
        .orderBy(col("col_name"))
    },

    // ---- deterministic per-group exemplars (stable eyeball-QA picks) ----
    "q102_group_exemplars" -> { (s, d) =>
      Sampling.topKPerGroup(Tables.documents(s, d), col("doc_id"),
          Seq("source"), k = 3)
        .select(col("source"), col("rank"), col("doc_id"))
        .orderBy(col("source"), col("rank"))
    },

    // ---- incremental dedup, LSH scale path (band-key probe) ----
    "q101_incremental_lsh" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusDedupLsh(
          corpus = docs.filter(col("doc_id") < 400),
          batch = docs.filter(col("doc_id") >= 400),
          "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
        .orderBy(col("doc_id"))
    },

    // ---- weighted sampling without replacement (priority sampling):
    //      50 documents drawn proportional to length ----
    "q131_weighted_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("double").as("w"))
      Sampling.prioritySample(docs, col("doc_id"), "w", k = 50)
        .orderBy(col("doc_id"))
    },

    // ---- per-group priority sampling: 3 weighted exemplars per lang
    //      (the stratified form of q131's weighted sampler) ----
    "q186_group_priority_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("double").as("w"))
      Sampling.prioritySamplePerGroup(docs, col("doc_id"), "w",
          Seq("lang"), k = 3)
        .orderBy(col("lang"), col("rank"))
    },

    // ---- PSI drift profile: is English doc length distributed like
    //      the rest of the corpus? (the production ML drift monitor) ----
    "q187_psi_drift" -> { (s, d) =>
      Stats.psiProfile(Tables.documents(s, d), "n_chars",
          col("lang") === "en", bins = 16)
        .orderBy(col("bin"))
    },

    // ---- sorted-neighborhood ER blocking: rank-window candidates over
    //      the distributed name sort, exact Levenshtein verify ----
    "q188_sorted_neighborhood" -> { (s, d) =>
      graft.pipeline.Dedup.sortedNeighborhoodPairs(
          Tables.customer(s, d), "c_custkey", "c_name",
          window = 3, maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- profile drift: column statistics of two order slices
    //      compared per column (the schema-stats monitoring gate) ----
    "q201_profile_drift" -> { (s, d) =>
      val o = Tables.orders(s, d)
      Stats.profileDrift(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1),
          Seq("o_custkey", "o_totalprice", "o_orderstatus"))
        .orderBy(col("col_name"))
    },

    // ---- ER survivorship: the GOLDEN RECORD per entity cluster —
    //      canonical id + its name (struct-min), exact balance sum,
    //      modal nation (packed argmax) — the step after q144's
    //      clustering that master-data pipelines actually ship ----
    "q199_golden_record" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      // lazy barriers (r13): CC's own edge count materializes `pairs`
      // and the first aggregate materializes `joined` — an eager
      // checkpoint here was one extra scheduling round-trip each
      val pairs = Dedup.editDistancePairs(cust, "c_custkey", "c_name")
        .select(col("id_a"), col("id_b")).localCheckpoint(eager = false)
      val cc = graft.graph.Components
        .connectedComponentsFast(cust.select("c_custkey"), pairs)
      val joined = cust.join(
        cc.select(col("id").as("c_custkey"), col("component")), "c_custkey")
        .localCheckpoint(eager = false) // two aggregates read it; CC must not rerun
      val base = joined.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(struct(col("c_custkey"), col("c_name"))).as("__c"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("total_acctbal"))
      val modalNation = joined
        .groupBy(col("component"), col("c_nationkey"))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(col("component"))
        .agg(max(struct(col("__cnt"),
          (-col("c_nationkey")).as("__nn"))).as("__m"))
        .select(col("component"), (-col("__m.__nn")).as("modal_nation"),
          col("__m.__cnt").as("modal_nation_n"))
      base.join(modalNation, "component")
        .filter(col("n_members") >= 2)
        .select(col("component"), col("n_members"),
          col("__c.c_custkey").as("canonical_id"),
          col("__c.c_name").as("canonical_name"),
          col("total_acctbal"), col("modal_nation"), col("modal_nation_n"))
        .orderBy(col("component"))
    },

    // ---- Jaro-Winkler name matching: native codegen expression over
    //      the sorted-neighborhood candidates (q188's blocking) ----
    "q190_jaro_winkler" -> { (s, d) =>
      graft.pipeline.Dedup.jaroWinklerPairs(
          Tables.customer(s, d), "c_custkey", "c_name",
          window = 3, threshold = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- quantile discretizer: quartile-bucket every order total ----
    "q132_quantile_bins" -> { (s, d) =>
      Stats.quantileBins(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice", histBins = 128, q = 4)
        .orderBy(col("o_orderkey"))
    },

    // ---- edit-distance-1 near-dup pairs via deletion-neighborhood
    //      blocking (FastSS) over customer names ----
    "q133_editdist_pairs" -> { (s, d) =>
      Dedup.editDistancePairs(Tables.customer(s, d), "c_custkey", "c_name")
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- data-quality expectations audit (one aggregate scan) ----
    "q138_expectations" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      Stats.expectations(li, Seq(
          "discount_range" ->
            (col("l_discount") >= 0.0 && col("l_discount") <= 0.1),
          "orderkey_nonnull" -> col("l_orderkey").isNotNull,
          "price_positive" -> (col("l_extendedprice") > 0.0),
          "qty_range" -> (col("l_quantity") >= 1.0 && col("l_quantity") <= 50.0),
          "shipdate_nonnull" -> col("l_shipdate").isNotNull,
          "tax_range" -> (col("l_tax") >= 0.0 && col("l_tax") <= 0.08)))
        .orderBy(col("rule_name"))
    },

    // ---- exact-arithmetic z-score standardization of order totals ----
    "q139_zscore_price" -> { (s, d) =>
      Stats.zscore(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice", scale = 100)
        .orderBy(col("o_orderkey"))
    },

    // ---- functional-dependency discovery over candidate key pairs ----
    "q143_fd_profile" -> { (s, d) =>
      Stats.fdProfile(Tables.orders(s, d), Seq(
          "o_orderkey" -> "o_custkey",
          "o_custkey" -> "o_orderpriority",
          "o_orderpriority" -> "o_orderstatus"))
        .orderBy(col("determinant"), col("dependent"))
    },

    // ---- entity resolution composite: edit-distance-1 pairs ->
    //      connected components -> entity clusters ----
    "q144_entity_resolution" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      val pairs = Dedup.editDistancePairs(cust, "c_custkey", "c_name")
        .select(col("id_a"), col("id_b")).localCheckpoint(eager = false)
      graft.graph.Components
        .connectedComponentsFast(cust.select("c_custkey"), pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .orderBy(col("component"))
    },

    // ---- sparse TF-IDF cosine all-pairs over 3-gram shingle vectors:
    //      lexical near-dup scoring via the inverted index — candidate
    //      generation is a shingle equi-join, never pairwise ----
    "q146_tfidf_cosine" -> { (s, d) =>
      Corpus.tfidfCosinePairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5, maxDf = 1000L)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- inclusion-dependency (candidate FK) profile across the
    //      schema: key-cardinality distinct + left-join work, the
    //      cross-table companion of q143's FD discovery ----
    "q153_inclusion_deps" -> { (s, d) =>
      Stats.inclusionDep("lineitem.l_orderkey->orders.o_orderkey",
          Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey")
        .unionAll(Stats.inclusionDep("lineitem.l_partkey->part.p_partkey",
          Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionAll(Stats.inclusionDep("orders.o_custkey->customer.c_custkey",
          Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .unionAll(Stats.inclusionDep("events.user_id->customer.c_custkey",
          Tables.events(s, d), "user_id",
          Tables.customer(s, d), "c_custkey"))
        .orderBy(col("dep"))
    },

    // ---- BPE merge learning: 4 rounds of most-frequent adjacent-pair
    //      merges over the word-count table (the tokenizer trainer) ----
    "q158_bpe_merges" -> { (s, d) =>
      graft.pipeline.Bpe.learnMerges(Tables.documents(s, d), "text",
          rounds = 4)
        .orderBy(col("round"))
    },

    // ---- BPE encoder side: the emerging subword vocabulary after the
    //      learned merges (top symbols by occurrence) ----
    "q163_bpe_vocab" -> { (s, d) =>
      graft.pipeline.Bpe.symbolFrequencies(Tables.documents(s, d), "text",
          rounds = 4, topK = 15)
        .orderBy(col("n").desc, col("symbol").asc)
    },

    // ---- Benford first-digit audit on order totals (fabricated-
    //      numbers screen; string-route digit avoids float log10) ----
    "q170_benford" -> { (s, d) =>
      Stats.benfordProfile(Tables.orders(s, d),
          round(col("o_totalprice") * 100).cast("long"))
        .orderBy(col("digit"))
    },

    // ---- order-invariant table checksums: the replication-equality
    //      pre-check (exact commutative md5-fold sums, one scan each) ----
    // ---- tokenizer APPLY: per-doc BPE token counts under the corpus's
    //      own 4 learned merges — the training-budget token count;
    //      encode = one vocabulary equi-join, docs never re-folded ----
    "q185_bpe_encode" -> { (s, d) =>
      graft.pipeline.Bpe.encodeDocs(Tables.documents(s, d),
          "doc_id", "text", rounds = 4)
        .orderBy(col("doc_id"))
    },

    // ---- per-language tokenizer fertility (tokens/word by predicted
    //      language under the corpus's own 4 learned merges — the
    //      multilingual-tokenizer audit; floored milli units) ----
    "q232_tokenizer_fertility" -> { (s, d) =>
      graft.pipeline.Bpe.fertilityByLang(Tables.documents(s, d),
          "doc_id", "text", rounds = 4)
        .orderBy(col("pred_lang"))
    },

    // ---- rendezvous (HRW) sharding: per-shard sizes + the fraction
    //      that MOVES when the cluster grows 8 → 9 shards (the
    //      minimal-movement property mod-sharding lacks) ----
    "q214_rendezvous" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val s8 = graft.pipeline.Export.rendezvousShards(docs, "doc_id", 8)
      val s9 = graft.pipeline.Export.rendezvousShards(docs, "doc_id", 9)
        .select(col("doc_id"), col("shard").as("__shard9"))
      s8.join(s9, "doc_id")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__shard9") =!= col("shard"), 1L).otherwise(0L))
            .as("n_moved"))
        .withColumn("moved_rate", round(col("n_moved").cast("double") /
          col("n_docs").cast("double"), 6))
        .orderBy(col("shard"))
    },

    // ---- per-shard delivery manifest: row count + mergeable
    //      order-invariant checksum per md5 shard (what a training
    //      consumer verifies before reading shipped shards) ----
    "q181_shard_manifest" -> { (s, d) =>
      graft.pipeline.Export.shardManifest(Tables.documents(s, d),
          "doc_id", numShards = 8,
          fingerprint = concat_ws("|", col("doc_id"), col("lang"),
            col("n_chars")))
        .orderBy(col("shard"))
    },

    "q167_table_checksum" -> { (s, d) =>
      def fp(cols: Column*): Column = concat_ws("|", cols: _*)
      Stats.tableChecksum(Tables.nation(s, d), "nation",
          fp(col("n_nationkey"), col("n_name"), col("n_regionkey")))
        .unionAll(Stats.tableChecksum(Tables.customer(s, d), "customer",
          fp(col("c_custkey"), col("c_name"), col("c_nationkey"),
            round(col("c_acctbal") * 100).cast("long"), col("c_mktsegment"))))
        .unionAll(Stats.tableChecksum(Tables.orders(s, d), "orders",
          fp(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long"))))
        .orderBy(col("table_name"))
    },

    // ---- winsorized price: clamp to the [p01, p99] histogram-quantile
    //      band — outlier trimming before feature scaling ----
    "q154_winsorize" -> { (s, d) =>
      Stats.winsorize(Tables.lineitem(s, d)
            .select("l_orderkey", "l_linenumber", "l_extendedprice"),
          "l_extendedprice", bins = 128, pLow = 0.01, pHigh = 0.99)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
  )

  /** Shared BPE replay CTE chain (4 rounds, ending in rules r1..r4 and
    * the re-symbolized word table s4). One round: pair counts over
    * s{k-1}, arg-max rule r{k} (count desc, chr(1)-joined pair asc —
    * the Spark tie-break), greedy left-to-right merge via a
    * string-encoded list_reduce fold (acc = chr(1)-joined symbols;
    * merged symbols never contain chr(1)).
    */
  private lazy val bpeCtes: String = {
    def round(k: Int): String = {
      val prev = s"s${k - 1}"
      val sp = "chr(1)"
      val accList = s"string_split(acc, $sp)"
      s"""p$k AS (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |    i -> syms[i] || $sp || syms[i + 1])) AS pe FROM $prev),
         |r$k AS (SELECT string_split(pe, $sp)[1] AS a,
         |    string_split(pe, $sp)[2] AS b, n FROM (
         |  SELECT pe, n, ROW_NUMBER() OVER (ORDER BY n DESC, pe ASC) AS rn
         |  FROM (SELECT pe, SUM(cnt) AS n FROM p$k GROUP BY pe) y) z
         |  WHERE rn = 1),
         |s$k AS (SELECT s.w, string_split(list_reduce(
         |    list_prepend(s.syms[1], s.syms[2:]),
         |    (acc, x) -> CASE WHEN list_extract($accList, len($accList)) = r.a
         |        AND x = r.b
         |      THEN CASE WHEN len($accList) = 1 THEN r.a || r.b
         |        ELSE array_to_string(list_slice($accList, 1,
         |          len($accList) - 1), $sp) || $sp || r.a || r.b END
         |      ELSE acc || $sp || x END), $sp) AS syms, s.cnt
         |  FROM $prev s CROSS JOIN r$k r)""".stripMargin
    }
    s"""w AS (SELECT w, COUNT(*)::BIGINT AS cnt FROM
       |  (SELECT unnest($toksSql) AS w FROM documents) t GROUP BY w),
       |s0 AS (SELECT w, list_filter(string_split(w, ''), c -> c <> '')
       |  AS syms, cnt FROM w),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |${round(4)}""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // n is SUM-derived: ::BIGINT keeps it off DuckDB's HUGEINT path,
    // whose driver-side canonicalization made q158 hash-red in r5
    "q158_bpe_merges" ->
      s"""WITH $bpeCtes
         |SELECT 1 AS round, a AS sym_a, b AS sym_b,
         |  n::BIGINT AS pair_count FROM r1
         |UNION ALL SELECT 2, a, b, n::BIGINT FROM r2
         |UNION ALL SELECT 3, a, b, n::BIGINT FROM r3
         |UNION ALL SELECT 4, a, b, n::BIGINT FROM r4
         |ORDER BY round""".stripMargin,

    "q185_bpe_encode" ->
      s"""WITH $bpeCtes,
         |wl AS (SELECT w, len(syms)::BIGINT AS l FROM s4),
         |dw AS (SELECT doc_id, unnest($toksSql) AS w FROM documents)
         |SELECT doc_id, COUNT(*)::BIGINT AS n_words,
         |  SUM(l)::BIGINT AS n_bpe_tokens
         |FROM dw JOIN wl USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // replays q185's encode CTEs + q50's language heuristic; fertility
    // via floored integer division (// on BIGINTs), final ::BIGINT
    // keeps SUM-derived columns off the HUGEINT path
    "q232_tokenizer_fertility" ->
      s"""WITH $bpeCtes,
         |wl AS (SELECT w, len(syms)::BIGINT AS l FROM s4),
         |dw AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |enc AS (SELECT doc_id, COUNT(*)::BIGINT AS n_words,
         |    SUM(l)::BIGINT AS n_bpe_tokens
         |  FROM dw JOIN wl USING (w) GROUP BY doc_id),
         |lg AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN 'unknown'
         |    WHEN len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is')))::DOUBLE / len(tk) >= 0.05
         |      THEN 'en' ELSE 'other' END AS pred_lang
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t)
         |SELECT lg.pred_lang, COUNT(*)::BIGINT AS n_docs,
         |  SUM(enc.n_words)::BIGINT AS n_words,
         |  SUM(enc.n_bpe_tokens)::BIGINT AS n_bpe_tokens,
         |  ((1000 * SUM(enc.n_bpe_tokens)) // SUM(enc.n_words))::BIGINT
         |    AS fertility_milli
         |FROM enc JOIN lg USING (doc_id)
         |GROUP BY lg.pred_lang ORDER BY lg.pred_lang""".stripMargin,

    "q163_bpe_vocab" ->
      s"""WITH $bpeCtes
         |SELECT symbol, SUM(cnt)::BIGINT AS n FROM (
         |  SELECT unnest(syms) AS symbol, cnt FROM s4) t
         |GROUP BY symbol ORDER BY n DESC, symbol ASC LIMIT 15""".stripMargin,

    "q170_benford" ->
      """WITH c AS (SELECT ROUND(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |g AS (SELECT substr(cents::VARCHAR, 1, 1)::INT AS digit,
        |    COUNT(*)::BIGINT AS n
        |  FROM c WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT SUM(n)::BIGINT AS total FROM g)
        |SELECT digit, n,
        |  ROUND(n::DOUBLE / total::DOUBLE, 6) AS share,
        |  ROUND(LOG10(1.0 + 1.0 / digit::DOUBLE), 6) AS benford,
        |  ROUND(n::DOUBLE / total::DOUBLE
        |    - LOG10(1.0 + 1.0 / digit::DOUBLE), 6) AS deviation
        |FROM g, t ORDER BY digit""".stripMargin,

    "q214_rendezvous" -> {
      val fold60 = (e: String) =>
        s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5($e), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b)"
      def assign(n: Int, name: String) =
        s"""$name AS (SELECT doc_id, s AS shard FROM (
           |  SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
           |    ORDER BY h DESC, s DESC) AS rn
           |  FROM (SELECT d.doc_id, t.s,
           |      ${fold60("d.doc_id::VARCHAR || '|' || t.s::VARCHAR")} AS h
           |    FROM documents d, (SELECT unnest(range(0, $n)) AS s) t) x) y
           |  WHERE rn = 1)""".stripMargin
      s"""WITH ${assign(8, "c8")},
         |${assign(9, "c9")}
         |SELECT c8.shard, COUNT(*)::BIGINT AS n_docs,
         |  SUM(CASE WHEN c9.shard <> c8.shard THEN 1 ELSE 0
         |    END)::BIGINT AS n_moved,
         |  ROUND(SUM(CASE WHEN c9.shard <> c8.shard THEN 1 ELSE 0
         |    END)::DOUBLE / COUNT(*)::DOUBLE, 6) AS moved_rate
         |FROM c8 JOIN c9 USING (doc_id)
         |GROUP BY c8.shard ORDER BY c8.shard""".stripMargin
    },

    "q181_shard_manifest" -> {
      val fold60 = (e: String) =>
        s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5($e), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b)"
      s"""WITH t AS (SELECT (${fold60("doc_id::VARCHAR")} % 2147483647) % 8 AS shard,
         |    doc_id::VARCHAR || '|' || lang || '|' || n_chars::VARCHAR AS fp
         |  FROM documents)
         |SELECT shard, COUNT(*)::BIGINT AS n_rows,
         |  (SUM(${fold60("fp")}) % 1152921504606846976)::BIGINT AS checksum
         |FROM t GROUP BY shard ORDER BY shard""".stripMargin
    },

    "q167_table_checksum" -> {
      val fold60 = (e: String) =>
        s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5($e), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b)"
      def part(name: String, fpSql: String, table: String): String =
        s"""SELECT '$name' AS table_name, COUNT(*)::BIGINT AS n_rows,
           |  (SUM(${fold60("fp")}) % 1152921504606846976)::BIGINT AS checksum
           |FROM (SELECT $fpSql AS fp FROM $table) t""".stripMargin
      Seq(
        part("nation",
          "n_nationkey::VARCHAR || '|' || n_name || '|' || n_regionkey::VARCHAR",
          "nation"),
        part("customer",
          "c_custkey::VARCHAR || '|' || c_name || '|' || c_nationkey::VARCHAR || '|' || ROUND(c_acctbal * 100)::BIGINT::VARCHAR || '|' || c_mktsegment",
          "customer"),
        part("orders",
          "o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || o_orderstatus || '|' || ROUND(o_totalprice * 100)::BIGINT::VARCHAR",
          "orders"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },

    "q153_inclusion_deps" -> {
      def dep(name: String, childSql: String, parentSql: String): String =
        s"""SELECT '$name' AS dep, COUNT(*) AS n_distinct,
           |  COUNT(CASE WHEN p.hit IS NULL THEN 1 END) AS n_missing,
           |  ROUND(1.0 - COUNT(CASE WHEN p.hit IS NULL THEN 1 END)::DOUBLE
           |    / COUNT(*)::DOUBLE, 6) AS containment
           |FROM ($childSql) c LEFT JOIN ($parentSql) p ON c.v = p.v"""
          .stripMargin
      Seq(
        dep("lineitem.l_orderkey->orders.o_orderkey",
          "SELECT DISTINCT l_orderkey AS v FROM lineitem WHERE l_orderkey IS NOT NULL",
          "SELECT DISTINCT o_orderkey AS v, 1 AS hit FROM orders WHERE o_orderkey IS NOT NULL"),
        dep("lineitem.l_partkey->part.p_partkey",
          "SELECT DISTINCT l_partkey AS v FROM lineitem WHERE l_partkey IS NOT NULL",
          "SELECT DISTINCT p_partkey AS v, 1 AS hit FROM part WHERE p_partkey IS NOT NULL"),
        dep("orders.o_custkey->customer.c_custkey",
          "SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL",
          "SELECT DISTINCT c_custkey AS v, 1 AS hit FROM customer WHERE c_custkey IS NOT NULL"),
        dep("events.user_id->customer.c_custkey",
          "SELECT DISTINCT user_id AS v FROM events WHERE user_id IS NOT NULL",
          "SELECT DISTINCT c_custkey AS v, 1 AS hit FROM customer WHERE c_custkey IS NOT NULL"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY dep")
    },

    "q154_winsorize" ->
      s"""WITH stats AS (SELECT MIN(l_extendedprice)::DOUBLE AS mn,
         |  MAX(l_extendedprice)::DOUBLE AS mx, COUNT(l_extendedprice) AS n
         |  FROM lineitem),
         |b AS (SELECT CASE WHEN s.mx = s.mn THEN 0
         |  ELSE LEAST(127, FLOOR((l.l_extendedprice::DOUBLE - s.mn) * 128.0
         |    / (s.mx - s.mn))::INT) END AS bin FROM lineitem l, stats s),
         |c AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
         |cc AS (SELECT bin, c, CAST(SUM(c) OVER (ORDER BY bin
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |  AS cum FROM c),
         |q AS (SELECT unnest([0.01, 0.99]::DOUBLE[]) AS q),
         |est AS (SELECT q.q,
         |  ROUND(CASE WHEN s.mx = s.mn THEN s.mn
         |    ELSE s.mn + (s.mx - s.mn) / 128.0
         |      * (cc.bin + (q.q * s.n - (cc.cum - cc.c)) / cc.c) END, 6) AS est
         |  FROM cc, q, stats s
         |  WHERE cc.cum >= q.q * s.n AND (cc.cum - cc.c) < q.q * s.n),
         |lims AS (SELECT MIN(CASE WHEN q = 0.01 THEN est END) AS lo,
         |  MAX(CASE WHEN q = 0.99 THEN est END) AS hi FROM est)
         |SELECT l_orderkey, l_linenumber, l_extendedprice,
         |  LEAST(GREATEST(l_extendedprice::DOUBLE, lims.lo), lims.hi)
         |    AS l_extendedprice_w
         |FROM lineitem, lims
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q146_tfidf_cosine" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh0 AS (SELECT doc_id, unnest(${shingleSql("tk", 3)}) AS s FROM t),
         |sh AS (SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(string_split(substr(md5(s), 1, 15), ''),
         |      c -> strpos('0123456789abcdef', c)::BIGINT - 1)),
         |    (a, b) -> a * 16 + b) AS term FROM sh0),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
         |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM sh
         |  GROUP BY term HAVING COUNT(DISTINCT doc_id) <= 1000),
         |n AS (SELECT COUNT(*) AS nd FROM documents),
         |wt AS (SELECT doc_id, tf.term,
         |  tf.tf * ROUND(LN((nd + 1)::DOUBLE / (df + 1)::DOUBLE) * 1000000)::BIGINT
         |    AS w
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
         |nm AS (SELECT doc_id, SUM(w * w) AS norm2 FROM wt GROUP BY doc_id),
         |qv AS (SELECT wt.doc_id, term,
         |  ROUND(w::DOUBLE / SQRT(norm2::DOUBLE) * 1000000)::BIGINT AS q
         |  FROM wt JOIN nm USING (doc_id)),
         |dd AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  SUM(a.q * b.q) AS dot
         |  FROM qv a JOIN qv b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, ROUND(dot::DOUBLE / 1e12, 6) AS cos
         |FROM dd WHERE ROUND(dot::DOUBLE / 1e12, 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "q138_expectations" ->
      """WITH a AS (SELECT COUNT(*) AS n_rows,
        |  COUNT(*) FILTER (NOT(l_discount >= 0.0 AND l_discount <= 0.1)
        |    OR l_discount IS NULL) AS v_discount,
        |  COUNT(*) FILTER (l_orderkey IS NULL) AS v_orderkey,
        |  COUNT(*) FILTER (NOT(l_extendedprice > 0.0)
        |    OR l_extendedprice IS NULL) AS v_price,
        |  COUNT(*) FILTER (NOT(l_quantity >= 1.0 AND l_quantity <= 50.0)
        |    OR l_quantity IS NULL) AS v_qty,
        |  COUNT(*) FILTER (l_shipdate IS NULL) AS v_ship,
        |  COUNT(*) FILTER (NOT(l_tax >= 0.0 AND l_tax <= 0.08)
        |    OR l_tax IS NULL) AS v_tax
        |  FROM lineitem)
        |SELECT rule_name, n_rows, n_violations, n_violations = 0 AS pass
        |FROM (
        |  SELECT 'discount_range' AS rule_name, n_rows, v_discount AS n_violations FROM a
        |  UNION ALL SELECT 'orderkey_nonnull', n_rows, v_orderkey FROM a
        |  UNION ALL SELECT 'price_positive', n_rows, v_price FROM a
        |  UNION ALL SELECT 'qty_range', n_rows, v_qty FROM a
        |  UNION ALL SELECT 'shipdate_nonnull', n_rows, v_ship FROM a
        |  UNION ALL SELECT 'tax_range', n_rows, v_tax FROM a)
        |ORDER BY rule_name""".stripMargin,

    "q139_zscore_price" ->
      """WITH x AS (SELECT o_orderkey, o_totalprice,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xi FROM orders),
        |st AS (SELECT SUM(xi::HUGEINT) AS s,
        |    SUM(xi::HUGEINT * xi::HUGEINT) AS s2, COUNT(xi) AS n FROM x)
        |SELECT o_orderkey, o_totalprice,
        |  CASE WHEN xi IS NOT NULL AND n * s2 - s * s > 0 THEN
        |    ROUND((n * xi - s)::DOUBLE / sqrt((n * s2 - s * s)::DOUBLE), 6)
        |  END AS z
        |FROM x, st ORDER BY o_orderkey""".stripMargin,

    "q143_fd_profile" ->
      """WITH
        |p1 AS (SELECT COUNT(DISTINCT o_orderkey) AS da,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey, o_custkey
        |     FROM orders)) AS dab FROM orders),
        |p2 AS (SELECT COUNT(DISTINCT o_custkey) AS da,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey, o_orderpriority
        |     FROM orders)) AS dab FROM orders),
        |p3 AS (SELECT COUNT(DISTINCT o_orderpriority) AS da,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderpriority, o_orderstatus
        |     FROM orders)) AS dab FROM orders)
        |SELECT determinant, dependent, ndv_det, ndv_pair,
        |  ndv_det = ndv_pair AS fd_holds
        |FROM (
        |  SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
        |    da AS ndv_det, dab AS ndv_pair FROM p1
        |  UNION ALL SELECT 'o_custkey', 'o_orderpriority', da, dab FROM p2
        |  UNION ALL SELECT 'o_orderpriority', 'o_orderstatus', da, dab FROM p3)
        |ORDER BY determinant, dependent""".stripMargin,

    "q199_golden_record" ->
      """WITH RECURSIVE v0 AS (
        |  SELECT c_custkey AS id, c_name AS s,
        |    unnest(list_prepend(c_name,
        |      list_transform(range(1, length(c_name) + 1),
        |        i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)))) AS v
        |  FROM customer),
        |d AS (SELECT DISTINCT id, s, v FROM v0),
        |e AS MATERIALIZED (SELECT DISTINCT a.id AS ia, b.id AS ib
        |  FROM d a JOIN d b ON a.v = b.v AND a.id < b.id
        |  WHERE levenshtein(a.s, b.s) <= 1),
        |sym AS (SELECT ia AS src, ib AS dst FROM e
        |        UNION ALL SELECT ib AS src, ia AS dst FROM e),
        |r(id, comp) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT sym.dst, r.comp FROM r JOIN sym ON sym.src = r.id
        |  WHERE r.comp < sym.dst),
        |comp AS (SELECT id, MIN(comp) AS component FROM r GROUP BY id),
        |j AS (SELECT c.*, comp.component FROM customer c
        |  JOIN comp ON c.c_custkey = comp.id),
        |base AS (SELECT component, COUNT(*)::BIGINT AS n_members,
        |    MIN(c_custkey)::BIGINT AS canonical_id,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_acctbal
        |  FROM j GROUP BY component),
        |cname AS (SELECT j.component, j.c_name FROM j
        |  JOIN base ON j.component = base.component
        |    AND j.c_custkey = base.canonical_id),
        |nat AS (SELECT component, c_nationkey, COUNT(*)::BIGINT AS cnt
        |  FROM j GROUP BY 1, 2),
        |modal AS (SELECT component, c_nationkey AS modal_nation,
        |    cnt AS modal_nation_n
        |  FROM (SELECT component, c_nationkey, cnt, ROW_NUMBER() OVER (
        |    PARTITION BY component
        |    ORDER BY cnt DESC, c_nationkey ASC) AS rn FROM nat) z
        |  WHERE rn = 1)
        |SELECT b.component, b.n_members, b.canonical_id,
        |  cname.c_name AS canonical_name, b.total_acctbal,
        |  modal.modal_nation::INT AS modal_nation, modal.modal_nation_n
        |FROM base b
        |JOIN cname ON b.component = cname.component
        |JOIN modal ON b.component = modal.component
        |WHERE b.n_members >= 2
        |ORDER BY b.component""".stripMargin,

    "q144_entity_resolution" ->
      """WITH RECURSIVE v0 AS (
        |  SELECT c_custkey AS id, c_name AS s,
        |    unnest(list_prepend(c_name,
        |      list_transform(range(1, length(c_name) + 1),
        |        i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)))) AS v
        |  FROM customer),
        |d AS (SELECT DISTINCT id, s, v FROM v0),
        |e AS MATERIALIZED (SELECT DISTINCT a.id AS ia, b.id AS ib
        |  FROM d a JOIN d b ON a.v = b.v AND a.id < b.id
        |  WHERE levenshtein(a.s, b.s) <= 1),
        |sym AS (SELECT ia AS src, ib AS dst FROM e
        |        UNION ALL SELECT ib AS src, ia AS dst FROM e),
        |r(id, comp) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT sym.dst, r.comp FROM r JOIN sym ON sym.src = r.id
        |  WHERE r.comp < sym.dst),
        |comp AS (SELECT id, MIN(comp) AS component FROM r GROUP BY id)
        |SELECT component, COUNT(*) AS n_members
        |FROM comp GROUP BY component HAVING COUNT(*) >= 2
        |ORDER BY component""".stripMargin,

    // full-width 60-bit md5 fold (hashBucket's arithmetic without the
    // mod), +1 so u > 0 — replays Sampling.prioritySample exactly
    "q186_group_priority_sample" -> {
      val u60 = "(list_reduce(list_prepend(0::BIGINT, list_transform(" +
        "string_split(substr(md5(doc_id::VARCHAR), 1, 15), ''), " +
        "c -> strpos('0123456789abcdef', c)::BIGINT - 1)), " +
        "(a, b) -> a * 16 + b) + 1)"
      s"""WITH c AS (SELECT doc_id, lang, n_chars::DOUBLE AS w,
         |    $u60 AS u, n_chars::BIGINT * 1000000 AS wm
         |  FROM documents),
         |r AS (SELECT doc_id, lang, w, u // wm AS prio,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY u // wm ASC, u ASC, doc_id ASC) AS rank
         |  FROM c WHERE wm > 0)
         |SELECT doc_id, lang, w, prio, rank FROM r WHERE rank <= 3
         |ORDER BY lang, rank""".stripMargin
    },

    "q187_psi_drift" ->
      """WITH b AS (SELECT n_chars::DOUBLE AS v, lang = 'en' AS a
        |  FROM documents WHERE n_chars IS NOT NULL),
        |s AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM b),
        |bb AS (SELECT CASE WHEN s.mx = s.mn THEN 0
        |    ELSE LEAST(15, FLOOR((v - s.mn) * 16.0
        |      / (s.mx - s.mn))::INT) END AS bin, a FROM b, s),
        |c AS (SELECT bin,
        |    SUM(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS c_a,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS c_b
        |  FROM bb GROUP BY bin),
        |t AS (SELECT SUM(c_a)::BIGINT AS na, SUM(c_b)::BIGINT AS nb,
        |  COUNT(*)::BIGINT AS k FROM c)
        |SELECT bin, c_a, c_b,
        |  ROUND((((c_a + 1)::DOUBLE / (na + k)::DOUBLE)
        |      - ((c_b + 1)::DOUBLE / (nb + k)::DOUBLE))
        |    * LN(((c_a + 1) * (nb + k))::DOUBLE
        |        / ((c_b + 1) * (na + k))::DOUBLE)
        |    * 1e9)::BIGINT AS psi_nano
        |FROM c, t ORDER BY bin""".stripMargin,

    "q190_jaro_winkler" ->
      """WITH r AS (SELECT c_custkey AS id, c_name AS s,
        |    ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  ROUND(jaro_winkler_similarity(a.s, b.s), 6) AS jw
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 3
        |WHERE ROUND(jaro_winkler_similarity(a.s, b.s), 6) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,

    "q188_sorted_neighborhood" ->
      """WITH r AS (SELECT c_custkey AS id, c_name AS s,
        |    ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  levenshtein(a.s, b.s)::INT AS dist
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 3
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "q131_weighted_sample" -> {
      val u60 = "(list_reduce(list_prepend(0::BIGINT, list_transform(" +
        "string_split(substr(md5(doc_id::VARCHAR), 1, 15), ''), " +
        "c -> strpos('0123456789abcdef', c)::BIGINT - 1)), " +
        "(a, b) -> a * 16 + b) + 1)"
      s"""WITH c AS (SELECT doc_id, length(text)::DOUBLE AS w,
         |    $u60 AS u, length(text)::BIGINT * 1000000 AS wm
         |  FROM documents),
         |s AS (SELECT doc_id, w, u, u // wm AS prio FROM c WHERE wm > 0
         |  ORDER BY prio ASC, u ASC, doc_id ASC LIMIT 50)
         |SELECT doc_id, w, prio FROM s ORDER BY doc_id""".stripMargin
    },

    "q132_quantile_bins" ->
      s"""WITH stats AS (SELECT MIN(o_totalprice)::DOUBLE AS mn,
         |  MAX(o_totalprice)::DOUBLE AS mx, COUNT(o_totalprice) AS n
         |  FROM orders),
         |b AS (SELECT CASE WHEN s.mx = s.mn THEN 0
         |  ELSE LEAST(127, FLOOR((o.o_totalprice::DOUBLE - s.mn) * 128.0
         |    / (s.mx - s.mn))::INT) END AS bin FROM orders o, stats s),
         |c AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
         |cc AS (SELECT bin, c, CAST(SUM(c) OVER (ORDER BY bin
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |  AS cum FROM c),
         |q AS (SELECT unnest([0.25, 0.5, 0.75]::DOUBLE[]) AS q),
         |edges AS (SELECT ROUND(CASE WHEN s.mx = s.mn THEN s.mn
         |    ELSE s.mn + (s.mx - s.mn) / 128.0
         |      * (cc.bin + (q.q * s.n - (cc.cum - cc.c)) / cc.c) END, 6) AS est
         |  FROM cc, q, stats s
         |  WHERE cc.cum >= q.q * s.n AND (cc.cum - cc.c) < q.q * s.n)
         |SELECT o.o_orderkey, o.o_totalprice,
         |  (SELECT COUNT(*) FROM edges e
         |   WHERE o.o_totalprice::DOUBLE > e.est)::INT AS bin
         |FROM orders o ORDER BY o.o_orderkey""".stripMargin,

    "q133_editdist_pairs" ->
      """WITH v0 AS (
        |  SELECT c_custkey AS id, c_name AS s,
        |    unnest(list_prepend(c_name,
        |      list_transform(range(1, length(c_name) + 1),
        |        i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)))) AS v
        |  FROM customer),
        |d AS (SELECT DISTINCT id, s, v FROM v0)
        |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |  levenshtein(a.s, b.s)::INT AS dist
        |FROM d a JOIN d b ON a.v = b.v AND a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "q80_chunk_documents" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |c AS (SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS start
         |      FROM t WHERE len(tk) > 0)
         |SELECT doc_id, (start // 24)::INT AS chunk_idx,
         |  LEAST(32, len(tk) - start)::INT AS n_chunk_tokens,
         |  array_to_string(tk[start + 1 : start + 32], ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q81_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, doc_id % 10 = 0 AS is_eval, unnest(list_distinct(${shingleSql("tk", 5)})) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |ev AS (SELECT DISTINCT s FROM sh WHERE is_eval),
         |ov AS (SELECT sh.doc_id, COUNT(DISTINCT sh.s) AS n_overlap
         |       FROM sh JOIN ev USING (s) WHERE NOT sh.is_eval GROUP BY sh.doc_id)
         |SELECT d.doc_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
         |  COALESCE(ov.n_overlap, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
         |WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""".stripMargin,

    // the q81 scaffold with the grouping flipped to the EVAL side:
    // distinct 13-grams per eval doc, collisions vs the train shingle
    // vocabulary, permille by floored integer division
    "q231_eval_overlap" ->
      s"""WITH sh AS (
         |  SELECT doc_id, doc_id % 10 = 0 AS is_eval,
         |    unnest(list_distinct(${shingleSql("tk", 13)})) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |tr AS (SELECT DISTINCT s FROM sh WHERE NOT is_eval),
         |tot AS (SELECT doc_id, COUNT(*)::BIGINT AS n_grams
         |        FROM sh WHERE is_eval GROUP BY doc_id),
         |dr AS (SELECT sh.doc_id, COUNT(*)::BIGINT AS n_dirty
         |       FROM sh JOIN tr USING (s) WHERE sh.is_eval
         |       GROUP BY sh.doc_id)
         |SELECT d.doc_id, COALESCE(tot.n_grams, 0)::BIGINT AS n_grams,
         |  COALESCE(dr.n_dirty, 0)::BIGINT AS n_dirty,
         |  (CASE WHEN COALESCE(tot.n_grams, 0) = 0 THEN 0
         |    ELSE (1000 * COALESCE(dr.n_dirty, 0)) // tot.n_grams
         |    END)::BIGINT AS dirty_permille
         |FROM documents d
         |LEFT JOIN tot ON d.doc_id = tot.doc_id
         |LEFT JOIN dr ON d.doc_id = dr.doc_id
         |WHERE d.doc_id % 10 = 0 ORDER BY d.doc_id""".stripMargin,

    // q231's CTEs + an id-keyed join back to documents for the slice
    "q234_contamination_rollup" ->
      s"""WITH sh AS (
         |  SELECT doc_id, doc_id % 10 = 0 AS is_eval,
         |    unnest(list_distinct(${shingleSql("tk", 13)})) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |tr AS (SELECT DISTINCT s FROM sh WHERE NOT is_eval),
         |dr AS (SELECT sh.doc_id, COUNT(*)::BIGINT AS n_dirty
         |       FROM sh JOIN tr USING (s) WHERE sh.is_eval
         |       GROUP BY sh.doc_id),
         |ev AS (SELECT d.doc_id, d.source,
         |         COALESCE(dr.n_dirty, 0)::BIGINT AS n_dirty
         |       FROM documents d LEFT JOIN dr ON d.doc_id = dr.doc_id
         |       WHERE d.doc_id % 10 = 0)
         |SELECT source, COUNT(*)::BIGINT AS n_eval_docs,
         |  SUM(CASE WHEN n_dirty > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_contaminated,
         |  SUM(n_dirty)::BIGINT AS n_collisions,
         |  ((1000 * SUM(CASE WHEN n_dirty > 0 THEN 1 ELSE 0 END))
         |    // COUNT(*))::BIGINT AS contaminated_permille
         |FROM ev GROUP BY source ORDER BY source""".stripMargin,

    // q231's shingle CTE; per-doc distinct grams make both counts doc
    // counts; the (n_eval_docs DESC, gram ASC) key is total
    "q239_contamination_grams" ->
      s"""WITH sh AS (
         |  SELECT doc_id, doc_id % 10 = 0 AS is_eval,
         |    unnest(list_distinct(${shingleSql("tk", 13)})) AS gram
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |tr AS (SELECT gram, COUNT(*)::BIGINT AS train_df
         |       FROM sh WHERE NOT is_eval GROUP BY gram),
         |ev AS (SELECT gram, COUNT(*)::BIGINT AS n_eval_docs
         |       FROM sh WHERE is_eval GROUP BY gram)
         |SELECT ev.gram, ev.n_eval_docs, tr.train_df
         |FROM ev JOIN tr USING (gram)
         |ORDER BY n_eval_docs DESC, gram ASC LIMIT 20""".stripMargin,

    // distinct (source, gram) pairs -> gram source-counts -> per-source
    // unique share in floored permille; all integers
    "q243_source_novelty" ->
      s"""WITH sg AS (SELECT DISTINCT source, gram FROM (
         |    SELECT source, unnest(list_distinct(${shingleSql("tk", 3)})) AS gram
         |    FROM (SELECT source, $toksSql AS tk FROM documents) t)),
         |g AS (SELECT gram, COUNT(*) AS ns FROM sg GROUP BY gram)
         |SELECT source, COUNT(*)::BIGINT AS n_grams,
         |  SUM(CASE WHEN ns = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
         |  ((1000 * SUM(CASE WHEN ns = 1 THEN 1 ELSE 0 END))
         |    // COUNT(*))::BIGINT AS novelty_permille
         |FROM sg JOIN g USING (gram)
         |GROUP BY source ORDER BY source""".stripMargin,

    // distinct (source, gram) pairs self-joined on gram -> ordered-pair
    // shared counts; containment share in floored permille over the
    // LEFT side's vocabulary; all integers
    "q245_source_overlap_matrix" ->
      s"""WITH sg AS (SELECT DISTINCT source, gram FROM (
         |    SELECT source, unnest(list_distinct(${shingleSql("tk", 3)})) AS gram
         |    FROM (SELECT source, $toksSql AS tk FROM documents) t)),
         |tot AS (SELECT source, COUNT(*)::BIGINT AS n_grams
         |        FROM sg GROUP BY source),
         |m AS (SELECT a.source AS source_a, b.source AS source_b,
         |        COUNT(*)::BIGINT AS n_shared
         |      FROM sg a JOIN sg b USING (gram)
         |      WHERE a.source <> b.source GROUP BY 1, 2)
         |SELECT m.source_a, m.source_b, m.n_shared, tot.n_grams,
         |  ((1000 * m.n_shared) // tot.n_grams)::BIGINT
         |    AS containment_permille
         |FROM m JOIN tot ON m.source_a = tot.source
         |ORDER BY source_a, source_b""".stripMargin,

    // NTILE prefixes per source (standard first-buckets-get-the-extra
    // rule in both engines), min first-bucket per (source, gram),
    // per-bucket new-gram counts; all integers
    "q244_marginal_novelty" ->
      s"""WITH d AS (SELECT source, doc_id,
         |    NTILE(10) OVER (PARTITION BY source ORDER BY doc_id) AS bucket,
         |    $toksSql AS tk FROM documents),
         |sh AS (SELECT source, bucket,
         |    unnest(list_distinct(${shingleSql("tk", 3)})) AS gram FROM d),
         |f AS (SELECT source, gram, MIN(bucket) AS bucket
         |      FROM sh GROUP BY source, gram)
         |SELECT source, bucket, COUNT(*)::BIGINT AS n_new_grams
         |FROM f GROUP BY source, bucket
         |ORDER BY source, bucket""".stripMargin,

    // q44's MinHash-LSH CTEs with the candidate join restricted to the
    // eval/train bipartition; verified exact Jaccard like q44
    "q240_contamination_fuzzy" ->
      s"""WITH sh AS (SELECT doc_id, doc_id % 10 = 0 AS is_eval,
         |    list_distinct(${shingleSql("tk", 3)}) AS ss
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |banded AS (SELECT doc_id, is_eval,
         |    unnest(${bandsSql(minhashSql("ss", 16), 4, 4)}) AS band_key
         |  FROM sh),
         |cand AS (SELECT DISTINCT x.doc_id AS eval_id, y.doc_id AS train_id
         |  FROM banded x JOIN banded y ON x.band_key = y.band_key
         |  WHERE x.is_eval AND NOT y.is_eval)
         |SELECT c.eval_id, c.train_id,
         |  ${jaccardSql("a.ss", "b.ss")} AS jaccard
         |FROM cand c JOIN sh a ON c.eval_id = a.doc_id
         |JOIN sh b ON c.train_id = b.doc_id
         |WHERE ${jaccardSql("a.ss", "b.ss")} >= 0.5
         |ORDER BY eval_id, train_id""".stripMargin,

    // per-ROW DISTINCT 5-gram shingles -> df count -> top-20; the
    // (df DESC, gram ASC) key is total so the cut is deterministic.
    // Both engines dedupe grams within a row only (list_distinct here,
    // array_distinct in Spark) — no cross-row (doc_id, gram) DISTINCT
    // on either side, so the spellings agree even if a doc_id repeated
    // (ADVICE r7: the old outer SELECT DISTINCT existed only here)
    "q236_boilerplate_ngrams" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(${shingleSql("tk", 5)})) AS gram
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |d AS (SELECT gram, COUNT(*)::BIGINT AS df FROM sh GROUP BY 1)
         |SELECT gram, df FROM d WHERE df >= 2
         |ORDER BY df DESC, gram ASC LIMIT 20""".stripMargin,

    "q114_bloom_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, doc_id % 10 = 0 AS is_eval,
         |    unnest(list_distinct(${shingleSql("tk", 5)})) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |hv AS (SELECT doc_id, is_eval, ${md5LongSql("s")} AS h FROM sh),
         |ki AS (SELECT unnest(range(0, 3)) AS i),
         |bits AS (SELECT DISTINCT
         |           ((2 * ki.i + 1) * hv.h + ki.i * ki.i + 98765)
         |             % 2147483647 % 32768 AS bit
         |         FROM hv, ki WHERE is_eval),
         |tr AS (SELECT doc_id, h, COUNT(*) AS m
         |       FROM hv WHERE NOT is_eval GROUP BY doc_id, h),
         |pb AS (SELECT tr.doc_id, tr.h, ANY_VALUE(tr.m) AS m,
         |         SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS nset
         |       FROM tr CROSS JOIN ki
         |       LEFT JOIN bits b
         |         ON ((2 * ki.i + 1) * tr.h + ki.i * ki.i + 98765)
         |              % 2147483647 % 32768 = b.bit
         |       GROUP BY tr.doc_id, tr.h),
         |agg AS (SELECT doc_id, SUM(m)::BIGINT AS n_shingles,
         |          SUM(CASE WHEN nset = 3 THEN m ELSE 0 END)::BIGINT
         |            AS n_flagged
         |        FROM pb GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(a.n_shingles, 0)::BIGINT AS n_shingles,
         |  COALESCE(a.n_flagged, 0)::BIGINT AS n_flagged,
         |  COALESCE(a.n_flagged, 0) > 0 AS flagged
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""".stripMargin,

    "q82_pii_scrub" ->
      s"""WITH t AS (SELECT doc_id, $contactSql AS contact FROM documents),
         |e AS (SELECT doc_id, contact,
         |  regexp_replace(contact, '$emailPat', '<EMAIL>', 'g') AS no_email FROM t)
         |SELECT doc_id,
         |  len(regexp_extract_all(contact, '$emailPat'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(no_email, '$phonePat'))::BIGINT AS n_phones,
         |  regexp_replace(no_email, '$phonePat', '<PHONE>', 'g') AS scrubbed
         |FROM e ORDER BY doc_id""".stripMargin,

    "q83_repetition_ratio" ->
      s"""SELECT doc_id, len(sh)::BIGINT AS n_shingles,
         |  len(list_distinct(sh))::BIGINT AS n_distinct_shingles,
         |  ROUND(CASE WHEN len(sh) = 0 THEN 0.0
         |    ELSE 1.0 - len(list_distinct(sh))::DOUBLE / len(sh)::DOUBLE END, 6)
         |    AS repetition_ratio
         |FROM (SELECT doc_id, ${shingleSql("tk", 3)} AS sh
         |      FROM (SELECT doc_id, $toksSql AS tk FROM documents) t) s
         |ORDER BY doc_id""".stripMargin,

    "q84_tfidf_topterms" ->
      s"""WITH terms AS (SELECT doc_id, unnest(tk) AS term
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
         |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    ROUND(tf.tf * LN((n.n_docs + 1.0) / (dfq.df + 1.0)), 6) AS score
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, term, score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC)::INT AS rank
         |  FROM scored)
         |SELECT doc_id, rank, term, score FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q85_inverted_index" ->
      s"""SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS total_tf,
         |  array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
         |FROM (SELECT doc_id, unnest(tk) AS term
         |      FROM (SELECT doc_id, $toksSql AS tk FROM documents) t) x
         |GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 2
         |ORDER BY term""".stripMargin,

    "q86_domain_mix" ->
      s"""WITH g AS (SELECT source, lang, COUNT(*) AS n_docs
         |           FROM documents GROUP BY source, lang)
         |SELECT source, lang, n_docs,
         |  ROUND(n_docs::DOUBLE / SUM(n_docs) OVER (), 6) AS share,
         |  ROUND((1.0 / COUNT(*) OVER ()) /
         |    (n_docs::DOUBLE / SUM(n_docs) OVER ()), 6) AS weight
         |FROM g ORDER BY source, lang""".stripMargin,

    // budget = 2x corpus tokens, uniform per-source targets, epochs
    // capped at 4000 milli; every derived column is floored integer
    // division (// on BIGINTs), final ::BIGINT off the HUGEINT path
    "q233_epoch_mix" ->
      s"""WITH s AS (SELECT source, COUNT(*)::BIGINT AS n_docs,
         |    SUM(len($toksSql))::BIGINT AS avail_tokens
         |  FROM documents GROUP BY source),
         |t AS (SELECT SUM(avail_tokens)::BIGINT AS total,
         |    COUNT(*)::BIGINT AS nsrc FROM s),
         |p AS (SELECT s.*, (((t.total * 2000) // 1000) // t.nsrc)
         |    AS target_tokens FROM s, t),
         |q AS (SELECT p.*, CASE WHEN avail_tokens = 0 THEN 0
         |    ELSE least(4000, (1000 * target_tokens) // avail_tokens)
         |    END AS epochs_milli FROM p)
         |SELECT source, n_docs, avail_tokens,
         |  target_tokens::BIGINT AS target_tokens,
         |  epochs_milli::BIGINT AS epochs_milli,
         |  least(target_tokens,
         |    (avail_tokens * epochs_milli) // 1000)::BIGINT
         |    AS effective_tokens,
         |  (target_tokens - least(target_tokens,
         |    (avail_tokens * epochs_milli) // 1000))::BIGINT
         |    AS shortfall_tokens
         |FROM q ORDER BY source""".stripMargin,

    "q87_export_shards" ->
      s"""WITH h AS (SELECT doc_id, md5(doc_id::VARCHAR) AS hex,
         |  ${md5LongSql("doc_id::VARCHAR")} % 8 AS shard FROM documents)
         |SELECT doc_id, shard,
         |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hex ASC)::INT AS seq
         |FROM h ORDER BY doc_id""".stripMargin,

    "q88_quantize_embeddings" ->
      s"""WITH s AS (SELECT vec_id, embedding,
         |  CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END AS sc
         |  FROM (SELECT vec_id, embedding,
         |        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m
         |        FROM embeddings) t)
         |SELECT vec_id, ROUND(sc, 6) AS scale,
         |  array_to_string(list_transform(embedding,
         |    x -> (FLOOR(x::DOUBLE * sc + 0.5))::INT::VARCHAR), ',') AS qvec
         |FROM s ORDER BY vec_id""".stripMargin,

    "q89_span_dedup" ->
      s"""WITH w AS (SELECT doc_id, unnest(${shingleSql("tk", 8)}) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |d AS (SELECT s FROM w GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
         |tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY doc_id),
         |dup AS (SELECT w.doc_id, COUNT(*) AS n_dup_windows
         |        FROM w JOIN d USING (s) GROUP BY w.doc_id)
         |SELECT doc.doc_id,
         |  COALESCE(tot.n_windows, 0) AS n_windows,
         |  COALESCE(dup.n_dup_windows, 0) AS n_dup_windows,
         |  ROUND(CASE WHEN COALESCE(tot.n_windows, 0) = 0 THEN 0.0
         |    ELSE COALESCE(dup.n_dup_windows, 0)::DOUBLE / tot.n_windows::DOUBLE
         |    END, 6) AS dup_fraction
         |FROM documents doc
         |LEFT JOIN tot ON doc.doc_id = tot.doc_id
         |LEFT JOIN dup ON doc.doc_id = dup.doc_id
         |ORDER BY doc.doc_id""".stripMargin,

    // integer-unit contract: weight_units IS the weight (nano-nats ×
    // n_features); the rounded-double avg_log_ratio was hash-red on
    // the driver's DuckDB in r5 and stays operator-only
    "q117_dsir_weights" ->
      s"""WITH $dsirAdCtes
         |SELECT doc_id, is_target, n_features, weight_units
         |FROM ad ORDER BY doc_id""".stripMargin,

    "q123_dsir_resample" -> {
      val bucket =
        s"(list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b) % 1000)"
      s"""WITH $dsirAdCtes,
         |e AS (SELECT doc_id, weight_units,
         |    CAST(ROUND(EXP(LEAST(GREATEST(avg_log_ratio, -5.0), 5.0)) * 1e6)
         |      AS BIGINT) AS ev
         |  FROM ad),
         |st AS (SELECT CAST(SUM(ev) AS BIGINT) AS se, COUNT(*) AS n FROM e)
         |SELECT doc_id, weight_units,
         |  LEAST(1000, (300 * ev) // (se // n))::BIGINT AS keep_permille
         |FROM e, st
         |WHERE $bucket < LEAST(1000, (300 * ev) // (se // n))
         |ORDER BY doc_id""".stripMargin
    },

    "q116_span_removal" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |w AS (SELECT doc_id, u.s AS s, u.w AS w FROM (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 6, 2)),
         |    s -> {'s': s, 'w': array_to_string(tk[s:s+7], ' ')})) AS u
         |  FROM t)),
         |d AS (SELECT w FROM w GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
         |cov AS (SELECT doc_id,
         |    list_sort(list_distinct(flatten(list(range(s, s + 8))))) AS cv
         |  FROM w JOIN d USING (w) GROUP BY doc_id),
         |k AS (SELECT t.doc_id, tk,
         |    list_transform(list_filter(range(1, len(tk) + 1),
         |      p -> NOT list_contains(COALESCE(cv, []::BIGINT[]), p)),
         |      p -> tk[p]) AS kept
         |  FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id)
         |SELECT doc_id, len(tk) AS n_tokens,
         |  len(tk) - len(kept) AS n_removed,
         |  ROUND(CASE WHEN len(tk) = 0 THEN 0.0
         |    ELSE (len(tk) - len(kept))::DOUBLE / len(tk)::DOUBLE END, 6)
         |    AS removed_fraction,
         |  COALESCE(array_to_string(kept, ' '), '') AS text_clean
         |FROM k ORDER BY doc_id""".stripMargin,

    // same t/c/ch chunk+shard replay as q90, then one keyed aggregate;
    // integer div (//) floors on both engines
    "q229_packing_stats" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |c AS (SELECT doc_id, tk, unnest(range(0, len(tk), 32)) AS start
         |      FROM t WHERE len(tk) > 0),
         |ch AS (SELECT doc_id,
         |       LEAST(32, len(tk) - start)::BIGINT AS n_tok,
         |       ${md5LongSql("doc_id::VARCHAR")} % 4 AS shard FROM c),
         |g AS (SELECT shard, COUNT(*)::BIGINT AS n_chunks,
         |        SUM(n_tok)::BIGINT AS n_tokens FROM ch GROUP BY shard),
         |sh AS (SELECT unnest(range(0, 4)) AS shard),
         |gf AS (SELECT sh.shard, COALESCE(g.n_chunks, 0)::BIGINT AS n_chunks,
         |         COALESCE(g.n_tokens, 0)::BIGINT AS n_tokens
         |       FROM sh LEFT JOIN g USING (shard)),
         |s AS (SELECT shard, n_chunks, n_tokens,
         |        ((n_tokens + 255) // 256)::BIGINT AS n_sequences FROM gf)
         |SELECT shard, n_chunks, n_tokens, n_sequences,
         |  (CASE WHEN n_tokens % 256 = 0 AND n_tokens > 0 THEN 256
         |        ELSE n_tokens % 256 END)::BIGINT AS last_fill,
         |  (CASE WHEN n_sequences = 0 THEN 0
         |        ELSE (1000 * n_tokens) // (n_sequences * 256) END)::BIGINT
         |    AS utilization_milli
         |FROM s ORDER BY shard""".stripMargin,

    "q90_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |c AS (SELECT doc_id, tk, unnest(range(0, len(tk), 32)) AS start
         |      FROM t WHERE len(tk) > 0),
         |ch AS (SELECT doc_id, (start // 32)::INT AS chunk_idx,
         |       LEAST(32, len(tk) - start)::BIGINT AS n_tok,
         |       ${md5LongSql("doc_id::VARCHAR")} % 4 AS shard FROM c),
         |p AS (SELECT doc_id, chunk_idx, shard,
         |  COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY shard
         |    ORDER BY doc_id, chunk_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |    AS before FROM ch)
         |SELECT doc_id, chunk_idx, shard,
         |  before // 256 AS seq_id, before % 256 AS offset_in_seq
         |FROM p ORDER BY doc_id, chunk_idx""".stripMargin,

    "q91_vocab_coverage" ->
      s"""WITH counts AS (SELECT term, COUNT(*) AS tf
         |  FROM (SELECT unnest($toksSql) AS term FROM documents) t
         |  GROUP BY term),
         |r AS (SELECT term, tf,
         |  ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC)::INT AS rank,
         |  CAST(SUM(tf) OVER (ORDER BY tf DESC, term ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |  CAST(SUM(tf) OVER () AS BIGINT) AS total
         |  FROM counts)
         |SELECT rank, term, tf, ROUND(cum::DOUBLE / total::DOUBLE, 6) AS cum_share
         |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,

    "q92_incremental_dedup" ->
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
         |batch AS (SELECT * FROM documents WHERE doc_id >= 400),
         |ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
         |ex AS (SELECT b.doc_id, (ch.h IS NOT NULL) AS exact_dup
         |       FROM batch b LEFT JOIN ch ON md5(b.text) = ch.h),
         |shB AS (SELECT doc_id, list_distinct(${shingleSql("tk", 3)}) AS ss
         |  FROM (SELECT doc_id, $toksSql AS tk FROM batch) t),
         |shC AS (SELECT doc_id, list_distinct(${shingleSql("tk", 3)}) AS ss
         |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus) t),
         |near AS (SELECT a.doc_id, COUNT(*) AS n_near FROM shB a, shC b
         |  WHERE ${jaccardSql("a.ss", "b.ss")} >= 0.5 GROUP BY a.doc_id)
         |SELECT e.doc_id, e.exact_dup,
         |  COALESCE(n.n_near, 0) AS n_near,
         |  (NOT e.exact_dup AND COALESCE(n.n_near, 0) = 0) AS is_new
         |FROM ex e LEFT JOIN near n ON e.doc_id = n.doc_id
         |ORDER BY e.doc_id""".stripMargin,

    "q93_bm25" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs,
         |          CAST(SUM(len(tk)) AS BIGINT) AS tok_total FROM t),
         |posting AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM
         |  (SELECT doc_id, len(tk)::BIGINT AS dl, unnest(tk) AS term FROM t) x
         |  WHERE term IN ('spark', 'vector', 'join') GROUP BY doc_id, dl, term),
         |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
         |          FROM posting GROUP BY term),
         |scored AS (SELECT p.term, p.doc_id, p.tf,
         |  ROUND(LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         |    * (p.tf * (1.2 + 1.0))
         |    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl
         |        / (s.tok_total::DOUBLE / s.n_docs::DOUBLE))), 6) AS score
         |  FROM posting p JOIN dfreq d USING (term) CROSS JOIN stats s),
         |r AS (SELECT term, doc_id, tf, score,
         |  ROW_NUMBER() OVER (PARTITION BY term
         |    ORDER BY score DESC, doc_id ASC)::INT AS rank FROM scored)
         |SELECT term, rank, doc_id, tf, score FROM r
         |WHERE rank <= 5 ORDER BY term, rank""".stripMargin,

    "q119_rrf_fusion" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs,
         |          CAST(SUM(len(tk)) AS BIGINT) AS tok_total FROM t),
         |posting AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM
         |  (SELECT doc_id, len(tk)::BIGINT AS dl, unnest(tk) AS term FROM t) x
         |  WHERE term IN ('spark', 'vector', 'join') GROUP BY doc_id, dl, term),
         |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
         |          FROM posting GROUP BY term),
         |scored AS (SELECT p.doc_id,
         |  ROUND(LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         |    * (p.tf * (1.2 + 1.0))
         |    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl
         |        / (s.tok_total::DOUBLE / s.n_docs::DOUBLE))), 6) AS score
         |  FROM posting p JOIN dfreq d USING (term) CROSS JOIN stats s),
         |lex AS (SELECT doc_id,
         |    SUM(CAST(ROUND(score * 1e6) AS BIGINT)) AS lex_units
         |  FROM scored GROUP BY doc_id),
         |lexr AS (SELECT doc_id, lex_rank FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (
         |      ORDER BY lex_units DESC, doc_id ASC)::INT AS lex_rank FROM lex) z
         |  WHERE lex_rank <= 20),
         |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |dense AS (SELECT e.vec_id,
         |    CAST(ROUND(${cosSql("e.embedding", "q.qv")} * 1e6) AS BIGINT)
         |      AS sim_units
         |  FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 0),
         |densr AS (SELECT doc_id, dense_rank FROM (
         |    SELECT vec_id AS doc_id, ROW_NUMBER() OVER (
         |      ORDER BY sim_units DESC, vec_id ASC)::INT AS dense_rank
         |    FROM dense) z
         |  WHERE dense_rank <= 20)
         |SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id, l.lex_rank,
         |  r.dense_rank,
         |  ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0)
         |    + COALESCE(1.0 / (60 + r.dense_rank), 0), 6) AS rrf_score
         |FROM lexr l FULL OUTER JOIN densr r ON l.doc_id = r.doc_id
         |ORDER BY rrf_score DESC, doc_id ASC""".stripMargin,

    "q94_semantic_dedup" ->
      s"""WITH c AS (SELECT vec_id AS centroid, embedding AS cv
         |           FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, centroid, embedding FROM (
         |  SELECT e.vec_id, c.centroid, e.embedding,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC)
         |      AS rn
         |  FROM embeddings e, c) t WHERE rn = 1),
         |near AS (SELECT a.vec_id, COUNT(*) AS n_near FROM asg a JOIN asg b
         |  ON a.centroid = b.centroid AND b.vec_id < a.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
         |  GROUP BY a.vec_id)
         |SELECT a.vec_id, a.centroid,
         |  COALESCE(n.n_near, 0) AS n_near,
         |  COALESCE(n.n_near, 0) = 0 AS keep
         |FROM asg a LEFT JOIN near n ON a.vec_id = n.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    "q95_hist_quantiles" ->
      s"""WITH stats AS (SELECT MIN(o_totalprice)::DOUBLE AS mn,
         |  MAX(o_totalprice)::DOUBLE AS mx, COUNT(o_totalprice) AS n
         |  FROM orders),
         |b AS (SELECT CASE WHEN s.mx = s.mn THEN 0
         |  ELSE LEAST(127, FLOOR((o.o_totalprice::DOUBLE - s.mn) * 128.0
         |    / (s.mx - s.mn))::INT) END AS bin FROM orders o, stats s),
         |c AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
         |cc AS (SELECT bin, c, CAST(SUM(c) OVER (ORDER BY bin
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |  AS cum FROM c),
         |q AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q)
         |SELECT q.q, cc.bin,
         |  ROUND(CASE WHEN s.mx = s.mn THEN s.mn
         |    ELSE s.mn + (s.mx - s.mn) / 128.0
         |      * (cc.bin + (q.q * s.n - (cc.cum - cc.c)) / cc.c) END, 6) AS est
         |FROM cc, q, stats s
         |WHERE cc.cum >= q.q * s.n AND (cc.cum - cc.c) < q.q * s.n
         |ORDER BY q.q""".stripMargin,

    "q109_grouped_quantiles" ->
      s"""WITH vals AS (SELECT o_orderpriority AS grp, o_totalprice::DOUBLE AS v
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |stats AS (SELECT grp, MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n
         |          FROM vals GROUP BY grp),
         |b AS (SELECT vals.grp, CASE WHEN s.mx = s.mn THEN 0
         |  ELSE LEAST(63, FLOOR((vals.v - s.mn) * 64.0
         |    / (s.mx - s.mn))::INT) END AS bin
         |  FROM vals JOIN stats s ON vals.grp = s.grp),
         |c AS (SELECT grp, bin, COUNT(*) AS c FROM b GROUP BY grp, bin),
         |cc AS (SELECT grp, bin, c, CAST(SUM(c) OVER (PARTITION BY grp
         |  ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS BIGINT) AS cum FROM c),
         |q AS (SELECT unnest([0.5, 0.95]::DOUBLE[]) AS q)
         |SELECT cc.grp AS o_orderpriority, q.q, cc.bin,
         |  ROUND(CASE WHEN s.mx = s.mn THEN s.mn
         |    ELSE s.mn + (s.mx - s.mn) / 64.0
         |      * (cc.bin + (q.q * s.n - (cc.cum - cc.c)) / cc.c) END, 6) AS est
         |FROM cc JOIN stats s ON cc.grp = s.grp CROSS JOIN q
         |WHERE cc.cum >= q.q * s.n AND (cc.cum - cc.c) < q.q * s.n
         |ORDER BY o_orderpriority, q.q""".stripMargin,

    "q96_zorder_layout" ->
      s"""WITH t AS (SELECT c_nationkey::BIGINT AS x, c_custkey % 1024 AS y
         |           FROM customer),
         |z AS (SELECT x, y, list_reduce(list_prepend(0::BIGINT,
         |  list_transform(range(0, 10), i ->
         |    (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1)))),
         |  (a, b) -> a + b) AS z FROM t),
         |r AS (SELECT x, y, z, ROW_NUMBER() OVER (ORDER BY z, x, y) AS rn
         |      FROM z)
         |SELECT (rn - 1) // 100 AS file_id, COUNT(*) AS n_rows,
         |  MIN(x) AS x_min, MAX(x) AS x_max,
         |  MIN(y) AS y_min, MAX(y) AS y_max,
         |  MIN(z) AS z_min, MAX(z) AS z_max
         |FROM r GROUP BY file_id ORDER BY file_id""".stripMargin,

    "q97_rebalanced_sample" -> {
      val bucket =
        s"(list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b) % 1000)"
      s"""WITH g AS (SELECT source, lang, COUNT(*) AS n
         |           FROM documents GROUP BY source, lang),
         |r AS (SELECT source, lang,
         |      GREATEST(1, (1000 * MIN(n) OVER ()) // n) AS permille
         |      FROM g)
         |SELECT d.doc_id, d.source, d.lang
         |FROM documents d JOIN r USING (source, lang)
         |WHERE $bucket < r.permille
         |ORDER BY d.doc_id""".stripMargin
    },

    "q106_temperature_mix" ->
      s"""WITH g AS (SELECT source, lang, COUNT(*) AS n_docs
         |           FROM documents GROUP BY source, lang),
         |q AS (SELECT source, lang, n_docs,
         |  CAST(SUM(n_docs) OVER () AS BIGINT) AS total,
         |  ROUND(SQRT(n_docs::DOUBLE) * 1000000000.0)::BIGINT AS squ
         |  FROM g),
         |s AS (SELECT *, CAST(SUM(squ) OVER () AS BIGINT) AS sqtotal FROM q)
         |SELECT source, lang, n_docs,
         |  ROUND(n_docs::DOUBLE / total, 6) AS share,
         |  ROUND(squ::DOUBLE / sqtotal::DOUBLE, 6) AS target_share,
         |  ROUND((squ::DOUBLE / sqtotal::DOUBLE)
         |    / (n_docs::DOUBLE / total), 6) AS weight
         |FROM s ORDER BY source, lang""".stripMargin,

    "q107_hard_negatives" ->
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, centroid FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.cv")} ASC, c.centroid ASC)
         |        AS rn
         |    FROM embeddings e,
         |      (SELECT vec_id AS centroid, embedding AS cv FROM embeddings
         |       WHERE vec_id < 8) c) t
         |  WHERE rn = 1),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS sim
         |  FROM assign a JOIN assign b
         |    ON a.centroid = b.centroid AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3
         |    AND ${cosSql("a.embedding", "b.embedding")} <= 0.6),
         |sym AS (SELECT id_a AS anchor, id_b AS negative, sim FROM p
         |        UNION ALL SELECT id_b, id_a, sim FROM p),
         |r AS (SELECT anchor, negative, sim,
         |  ROW_NUMBER() OVER (PARTITION BY anchor
         |    ORDER BY sim DESC, negative ASC)::INT AS rank FROM sym)
         |SELECT anchor, rank, negative, sim FROM r
         |WHERE rank <= 3 ORDER BY anchor, rank""".stripMargin,

    "q99_unigram_surprisal" ->
      s"""WITH terms AS (SELECT doc_id, unnest(tk) AS term
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |counts AS (SELECT term, COUNT(*) AS tf FROM terms GROUP BY term),
         |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS tot FROM counts),
         |units AS (SELECT term,
         |  ROUND(-LN(c.tf::DOUBLE / t.tot::DOUBLE) * 1000000000.0)::BIGINT
         |    AS u FROM counts c, tot t),
         |perdoc AS (SELECT terms.doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(u.u) AS BIGINT) AS surprisal_units
         |  FROM terms JOIN units u USING (term) GROUP BY terms.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(p.n_tokens, 0) AS n_tokens,
         |  COALESCE(p.surprisal_units, 0) AS surprisal_units,
         |  ROUND(CASE WHEN COALESCE(p.n_tokens, 0) = 0 THEN 0.0
         |    ELSE (p.surprisal_units::DOUBLE / 1000000000.0)
         |      / p.n_tokens::DOUBLE END, 6) AS avg_surprisal
         |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q120_bigram_surprisal" ->
      s"""WITH toks AS (SELECT doc_id, unnest(tk) AS term,
         |    generate_subscripts(tk, 1) AS pos
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |seq AS (SELECT doc_id, pos, term,
         |    LAG(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM toks),
         |counts AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
         |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS tot FROM counts),
         |uni AS (SELECT term,
         |    ROUND(-LN(c.tf::DOUBLE / t.tot::DOUBLE)
         |      * 1000000000.0)::BIGINT AS uu,
         |    c.tf::DOUBLE / t.tot::DOUBLE AS pu
         |  FROM counts c, tot t),
         |big AS (SELECT prev, term, COUNT(*) AS btf FROM seq
         |  WHERE prev IS NOT NULL GROUP BY prev, term),
         |pref AS (SELECT prev, CAST(SUM(btf) AS BIGINT) AS ptf
         |  FROM big GROUP BY prev),
         |bu AS (SELECT b.prev, b.term,
         |    ROUND(-LN(0.5 * (b.btf::DOUBLE / p.ptf::DOUBLE)
         |      + 0.5 * u.pu) * 1000000000.0)::BIGINT AS bu
         |  FROM big b JOIN pref p USING (prev) JOIN uni u USING (term)),
         |scored AS (SELECT s.doc_id,
         |    CASE WHEN s.prev IS NULL THEN u.uu ELSE b.bu END AS u
         |  FROM seq s JOIN uni u USING (term)
         |    LEFT JOIN bu b ON s.prev = b.prev AND s.term = b.term),
         |perdoc AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(u) AS BIGINT) AS surprisal_units
         |  FROM scored GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(p.n_tokens, 0) AS n_tokens,
         |  COALESCE(p.surprisal_units, 0) AS surprisal_units,
         |  ROUND(CASE WHEN COALESCE(p.n_tokens, 0) = 0 THEN 0.0
         |    ELSE (p.surprisal_units::DOUBLE / 1000000000.0)
         |      / p.n_tokens::DOUBLE END, 6) AS avg_surprisal
         |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q201_profile_drift" -> {
      def prof(c: String, pred: String, sfx: String) =
        s"""SELECT '$c' AS col_name, COUNT(*)::BIGINT AS n_$sfx,
           |  COUNT($c)::BIGINT AS nonnull_$sfx,
           |  COUNT(DISTINCT $c)::BIGINT AS ndv_$sfx,
           |  CAST(MIN($c) AS VARCHAR) AS min_$sfx,
           |  CAST(MAX($c) AS VARCHAR) AS max_$sfx
           |FROM orders WHERE $pred""".stripMargin
      val cols = Seq("o_custkey", "o_totalprice", "o_orderstatus")
      val a = cols.map(prof(_, "o_orderkey % 2 = 0", "a"))
        .mkString("\nUNION ALL\n")
      val b = cols.map(prof(_, "o_orderkey % 2 = 1", "b"))
        .mkString("\nUNION ALL\n")
      s"""WITH pa AS ($a),
         |pb AS ($b)
         |SELECT pa.col_name, n_a, nonnull_a, ndv_a, min_a, max_a,
         |  n_b, nonnull_b, ndv_b, min_b, max_b,
         |  ROUND(ndv_a::DOUBLE / ndv_b::DOUBLE, 6) AS ndv_ratio,
         |  (min_a = min_b AND max_a = max_b) AS range_stable
         |FROM pa JOIN pb USING (col_name)
         |ORDER BY col_name""".stripMargin
    },

    "q121_column_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS ndv,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q102_group_exemplars" ->
      s"""SELECT source, rank, doc_id FROM (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC)::INT AS rank
         |  FROM documents) t
         |WHERE rank <= 3 ORDER BY source, rank""".stripMargin,

    "q101_incremental_lsh" ->
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
         |batch AS (SELECT * FROM documents WHERE doc_id >= 400),
         |ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
         |ex AS (SELECT b.doc_id, (ch.h IS NOT NULL) AS exact_dup
         |       FROM batch b LEFT JOIN ch ON md5(b.text) = ch.h),
         |shB AS (SELECT doc_id, list_distinct(${shingleSql("tk", 3)}) AS ss
         |  FROM (SELECT doc_id, $toksSql AS tk FROM batch) t),
         |shC AS (SELECT doc_id, list_distinct(${shingleSql("tk", 3)}) AS ss
         |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus) t),
         |bb AS (SELECT doc_id, unnest(${bandsSql(minhashSql("ss", 16), 4, 4)})
         |       AS band_key FROM shB),
         |bc AS (SELECT doc_id, unnest(${bandsSql(minhashSql("ss", 16), 4, 4)})
         |       AS band_key FROM shC),
         |cand AS (SELECT DISTINCT x.doc_id AS b_id, y.doc_id AS c_id
         |  FROM bb x JOIN bc y ON x.band_key = y.band_key),
         |near AS (SELECT c.b_id AS doc_id, COUNT(*) AS n_near
         |  FROM cand c JOIN shB a ON c.b_id = a.doc_id
         |  JOIN shC b ON c.c_id = b.doc_id
         |  WHERE ${jaccardSql("a.ss", "b.ss")} >= 0.5 GROUP BY c.b_id)
         |SELECT e.doc_id, e.exact_dup,
         |  COALESCE(n.n_near, 0) AS n_near,
         |  (NOT e.exact_dup AND COALESCE(n.n_near, 0) = 0) AS is_new
         |FROM ex e LEFT JOIN near n ON e.doc_id = n.doc_id
         |ORDER BY e.doc_id""".stripMargin,

    "q100_key_skew" ->
      s"""WITH counts AS (SELECT o_custkey::VARCHAR AS key, COUNT(*) AS cnt
         |  FROM orders GROUP BY key),
         |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total_rows,
         |      MAX(cnt) AS max_count FROM counts),
         |top AS (SELECT key, cnt,
         |  ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC)::INT AS rank
         |  FROM counts)
         |SELECT t.rank, t.key, t.cnt, s.n_keys, s.total_rows, s.max_count,
         |  ROUND(s.max_count::DOUBLE
         |    / (s.total_rows::DOUBLE / s.n_keys::DOUBLE), 6) AS skew_ratio,
         |  ROUND(t.cnt::DOUBLE / s.total_rows::DOUBLE, 6) AS share
         |FROM top t, s WHERE t.rank <= 5 ORDER BY t.rank""".stripMargin,
  )
}
