package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.pipeline.{Corpus, Dedup, TextAnalysis}

/** Training-data text-pipeline operators over `documents`: token stats,
  * tag-style membership / overlap semi-joins (SURVEY §2.4 T3-T6 shapes),
  * exact + MinHash/LSH + SimHash + n-gram-Jaccard dedup, quality
  * scoring, language ID, fingerprints.
  *
  * Oracle strategy: every hash is md5 or an explicit polynomial fold,
  * and the DuckDB SQL replays the identical pipeline (same shingling,
  * same banding, same folds) so even the *approximate* operators
  * (LSH candidates, SimHash blocking) produce identical rows.
  */
object TextPack extends QueryPack {

  // ---- DuckDB fragments mirroring TextFunctions exactly ----
  private val toksSql = """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
  // shingles (n=3) over a token-list expression `tk`
  private def shingleSql(tk: String): String =
    s"""CASE WHEN len($tk) <= 3 THEN [array_to_string($tk, ' ')]
       | ELSE list_transform(range(1, len($tk) - 1), i -> array_to_string(($tk)[i:i+2], ' ')) END""".stripMargin
  // the ONE shared spelling of the vector and hashing fragments
  import OracleSql.{bandsSql, cosSql, jaccardSql, md5LongSql, minhashSql}
  private def polyhashSql(e: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(list_filter(string_split($e, ''), c -> c <> ''), c -> ascii(c)::BIGINT)), (a, b) -> (a * 31 + b) % 1000000007)"
  private def fingerprintSql(tk: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform($tk, t -> ${polyhashSql("t")})), (a, b) -> (a * 131 + b) % 2147483647)"
  private val tokLenSumSql =
    "list_reduce(list_prepend(0::BIGINT, list_transform(tk, t -> length(t)::BIGINT)), (a, b) -> a + b)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- token statistics ----
    "q40_token_stats" -> { (s, d) =>
      TextAnalysis.tokenStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- T3 parity shape: membership search on the token set ----
    "q41_word_membership" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(array_contains(TextFunctions.tokens(col("text")), "spark"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // ---- T5/T6 + n-gram dedup: exact shingle-Jaccard pairs ----
    "q42_ngram_jaccard_pairs" -> { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- T4 parity shape: shared-element semi-join vs one doc.
    //      explode + broadcast equi-join (hash probe per shingle), not
    //      arrays_overlap (O(|A|·|B|) per row) ----
    "q43_shared_shingle_overlap" -> { (s, d) =>
      // cache: the shingled view feeds both the target subquery and the
      // probe side — uncached it would be shingled twice
      val sh = Dedup.shingleSets(Tables.documents(s, d), "doc_id", "text", 3).cache()
      val target = sh.filter(col("id") === 7)
        .select(explode(col("shingle_set")).as("__s")).distinct()
      sh.filter(col("id") =!= 7)
        .select(col("id"), explode(col("shingle_set")).as("__s"))
        .join(broadcast(target), "__s")
        .select(col("id").as("doc_id")).distinct()
        .orderBy(col("doc_id"))
    },

    // ---- MinHash + LSH near-dup pairs ----
    "q44_minhash_lsh_pairs" -> { (s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- the q44 pair graph rolled up per unordered source pair:
    //      which feeds mirror each other / duplicate internally ----
    "q235_neardup_source_matrix" -> { (s, d) =>
      Dedup.nearDupSourceMatrix(Tables.documents(s, d), "doc_id", "text",
          "source", n = 3, k = 16, bands = 4, threshold = 0.5)
        .orderBy(col("source_a"), col("source_b"))
    },

    // ---- exact content-hash dedup ----
    "q45_exact_dedup" -> { (s, d) =>
      Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("content_hash"))
    },

    // ---- exact BINARY dedup over synthetic blobs (testdata has no
    //      binary table, so the blob is built in-query from the ASCII
    //      projection of the text — DuckDB replays encode()) ----
    "q241_binary_exact_dedup" -> { (s, d) =>
      Dedup.binaryExactDedup(
          Tables.documents(s, d).select(col("doc_id"),
            encode(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""),
              "UTF-8").as("bin")),
          "doc_id", "bin")
        .orderBy(col("content_hash"))
    },

    // ---- binary NEAR-dup probe: top-10 blobs by byte-histogram
    //      cosine against doc 7's blob (the bounded one-vs-all shape;
    //      the banded pair form is binaryNearDupPairs, spec-covered
    //      on real image bytes) ----
    "q242_binary_neardup_topk" -> { (s, d) =>
      Dedup.binaryNearDupTopK(
          Tables.documents(s, d).select(col("doc_id"),
            encode(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""),
              "UTF-8").as("bin")),
          "doc_id", "bin", queryId = 7L, bins = 16, k = 10)
        .orderBy(col("sim").desc, col("doc_id").asc)
    },

    // ---- plan-native PNG header decode over synthesized blobs (the
    //      q241 convention: testdata has no binary table, so the blob
    //      is built in-query — a minimal IHDR whose width varies per
    //      doc; the oracle replays the generator arithmetic, so a
    //      mis-parsed byte order / offset hash-mismatches) ----
    "q248_png_dims" -> { (s, d) =>
      val pngPre = Array[Byte](0x89.toByte, 'P', 'N', 'G',
        0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 13, 'I', 'H', 'D', 'R')
      val w = (col("doc_id") % 500 + 1).cast("int")
      val blob = concat(lit(pngPre),
        unhex(lpad(hex(w), 8, "0")), // width, big-endian u32
        unhex(lpad(hex(lit(240)), 8, "0")), // height
        lit(Array[Byte](8, 6))) // bit depth, color type (RGBA)
      Tables.documents(s, d)
        .select(col("doc_id"), graft.Graft.pngDims(blob).as("m"))
        .select(col("doc_id"), col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.bit_depth").as("bit_depth"),
          col("m.color_type").as("color_type"))
        .orderBy(col("doc_id"))
    },

    // ---- plan-native JPEG SOF decode over synthesized blobs: SOI +
    //      a 16-byte APP0 the walk must hop over + a baseline SOF0
    //      carrying the doc-varying width ----
    "q249_jpeg_dims" -> { (s, d) =>
      val jpegPre = Array[Byte](0xff.toByte, 0xd8.toByte, // SOI
          0xff.toByte, 0xe0.toByte, 0, 16) ++ // APP0, declared len 16
        Array.fill[Byte](14)(0x4a) ++ // APP0 payload (hopped, not read)
        Array[Byte](0xff.toByte, 0xc0.toByte, 0, 17, // SOF0, len 17
          8, 0, 180.toByte) // precision 8, height u16 = 180
      val w = (col("doc_id") % 1000 + 1).cast("int")
      val blob = concat(lit(jpegPre),
        unhex(lpad(hex(w), 4, "0")), // width, big-endian u16
        lit(Array[Byte](3) ++ Array.fill[Byte](9)(0))) // 3 components
      Tables.documents(s, d)
        .select(col("doc_id"), graft.Graft.jpegDims(blob).as("m"))
        .select(col("doc_id"), col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.precision").as("precision"),
          col("m.n_components").as("n_components"))
        .orderBy(col("doc_id"))
    },

    // ---- order-sensitive rolling fingerprint ----
    "q46_fingerprint" -> { (s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- SimHash sketches ----
    "q47_simhash" -> { (s, d) =>
      Dedup.simhashTable(Tables.documents(s, d), "doc_id", "text", bits = 24)
        .orderBy(col("id"))
    },

    // ---- SimHash near-dup pairs (chunk-blocked, exact ≤3 bits).
    //      48-bit sketch (r11): the old 24-bit default had 64-value
    //      chunk keys and kept 13% of ALL pairs at sf0.1 — quadratic-
    //      shaped in both candidates and output (r10 judge finding) ----
    "q48_simhash_pairs" -> { (s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
          bits = 48, chunks = 4, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- multi-word SimHash near-dup pairs: 4 words × 60 bits, one
    //      chunk per word — 2^60-value keys, the blocking that keeps
    //      following naturalBits past the one-long cap the r11 smoke
    //      measured saturating at 300× ----
    "q253_simhash_wide" -> { (s, d) =>
      Dedup.simhashPairsWide(Tables.documents(s, d), "doc_id", "text",
          words = 4, bitsPerWord = 60, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- cross-corpus SimHash gate: batch docs probed against the
    //      corpus's wide-sketch word index (pigeonhole-exact blocking),
    //      one decision row per batch doc — the batch twin of the 18th
    //      stream==batch pin (corpusDedupStreamSimhash) ----
    "q257_cross_simhash" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusDedupSimhash(
          corpus = docs.filter(col("doc_id") < 400),
          batch = docs.filter(col("doc_id") >= 350),
          "doc_id", "text", words = 4, bitsPerWord = 60, maxDist = 3)
        .orderBy(col("id"))
    },

    // ---- corpus-sized SimHash pairs: the chunk width DERIVED from n
    //      via the shared naturalBits occupancy policy (r11 order
    //      sheet #5 — the policy was unit-tested but no oracle ran it;
    //      the width is deterministic given n, so DuckDB replays it
    //      from its own COUNT(*)) ----
    "q255_simhash_auto" -> { (s, d) =>
      Dedup.simhashPairsAuto(Tables.documents(s, d), "doc_id", "text",
          chunks = 4, maxDist = 3, targetOccupancy = 16.0)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- quality scoring ----
    "q49_quality_score" -> { (s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- skip-gram co-occurrence counts (the GloVe/word2vec count
    //      table): forward-window word pairs, observed pairs only ----
    "q228_skipgram" -> { (s, d) =>
      Corpus.skipgramCooccurrence(Tables.documents(s, d), "text",
          window = 2, minCount = 3)
        .orderBy(col("w_a"), col("w_b"))
    },

    // ---- Flesch-style readability profile: sentence/word/vowel-group
    //      counts + milli-unit ratios via floored integer division
    //      (engine-identical, no rounded doubles in the contract) ----
    "q225_readability" -> { (s, d) =>
      TextAnalysis.readabilityProfile(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- character-entropy compressibility gate (nano-nat exact) ----
    "q125_char_entropy" -> { (s, d) =>
      TextAnalysis.charEntropy(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- language-ID heuristic ----
    "q50_language_id" -> { (s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- the full curation DECISION TABLE: per doc, every dedup/
    //      quality gate and the final keep bit — the row a 100 TB
    //      curation run materializes before writing shards ----
    "q200_curation_decisions" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val exact = docs.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("__keeper"))
      val near = Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.5)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("__near", lit(true))
      docs.join(exact, md5(col("text")) === col("__h"))
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("doc_id") =!= col("__keeper")).as("exact_dup"),
          coalesce(col("__near"), lit(false)).as("near_dup"),
          (col("n_chars") < 100).as("too_short"))
        .withColumn("keep",
          !col("exact_dup") && !col("near_dup") && !col("too_short"))
        .orderBy(col("doc_id"))
    },

    // ---- exact phrase search via the shingle inverted index (probe +
    //      boundary-padded contiguity verify) ----
    "q196_phrase_search" -> { (s, d) =>
      graft.pipeline.Corpus.phraseSearch(Tables.documents(s, d),
          "doc_id", "text", phrase = "slow hash batch", n = 3)
        .orderBy(col("doc_id"))
    },

    // ---- keyword-in-context: every phrase occurrence with 2 tokens
    //      of context each side (the snippet view behind q196) ----
    "q208_kwic" -> { (s, d) =>
      graft.pipeline.Corpus.keywordInContext(Tables.documents(s, d),
          "doc_id", "text", phrase = "slow hash batch", window = 2, n = 3)
        .orderBy(col("doc_id"), col("pos"))
    },

    // ---- duplication profile: exact-dup family-size histogram with
    //      corpus shares ("how duplicated is this corpus?") ----
    "q209_dup_profile" -> { (s, d) =>
      graft.pipeline.Corpus.duplicationProfile(Tables.documents(s, d),
          "text")
        .orderBy(col("family_size"))
    },

    // ---- chi-square independence test lang × source (the MI cells'
    //      hypothesis-testing twin; order-independent micro sum) ----
    "q198_chi_square" -> { (s, d) =>
      graft.pipeline.Corpus.chiSquare(Tables.documents(s, d),
        "lang", "source")
    },

    // ---- language-ID confusion matrix vs the labeled lang column:
    //      per-cell counts + within-actual rates (diagonal = recall) ----
    "q195_lang_confusion" -> { (s, d) =>
      TextAnalysis.languageIdConfusion(Tables.documents(s, d),
          "text", "lang")
        .orderBy(col("actual"), col("predicted"))
    },

    // ---- BPE-ish token counting (whitespace count vs subword cost) ----
    "q54_token_count_bpe" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).as("ws_tokens"),
          size(TextFunctions.bpePieces(col("text"))).as("bpe_pieces"),
          TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    // ---- KMV sketch: approx distinct tokens per source (bounded-state
    //      native aggregate; deterministic, oracle replays it exactly) ----
    "q56_kmv_distinct" -> { (s, d) =>
      val hashed = Tables.documents(s, d)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("source"), TextFunctions.md5Long(col("tok")).as("h"))
      hashed.groupBy(col("source"))
        .agg(
          round(graft.Graft.kmvSketch(col("h"), 64), 6).as("est_distinct"),
          countDistinct(col("h")).as("n_distinct_hashes"))
        .orderBy(col("source"))
    },

    // ---- deterministic stratified hash sampling (reproducible splits) ----
    "q76_stratified_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.pipeline.Sampling.stratifiedSample(docs, col("doc_id"),
          col("lang"), Map("en" -> 500), defaultPermille = 200)
        .select(col("doc_id"), col("lang"),
          graft.pipeline.Sampling.hashBucket(col("doc_id")).as("bucket"))
        .orderBy(col("doc_id"))
    },

    // ---- canonical text normalization (pre-dedup pass) ----
    "q77_normalize_text" -> { (s, d) =>
      TextAnalysis.normalized(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- quality-filter decision table (keep/drop + first reason) ----
    "q78_filter_decision" -> { (s, d) =>
      TextAnalysis.filterDecision(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- CMS heavy hitters: count-min estimates for the top tokens ----
    "q79_cms_heavy_hitters" -> { (s, d) =>
      val occ = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      // md5 once per DISTINCT token, hash-joined back to occurrences
      val tokHash = occ.select(col("tok")).distinct()
        .select(col("tok"), TextFunctions.md5Long(col("tok")).as("h"))
      val wh = occ.join(tokHash, "tok").cache()
      val sketch = wh.agg(graft.Graft.cmsSketch(col("h"), 4, 256).as("sk"))
      val probes = wh.groupBy(col("tok"), col("h"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("tok").asc).limit(20)
      probes.crossJoin(broadcast(sketch))
        .select(col("tok"), col("exact_count"),
          graft.Graft.cmsEstimate(col("sk"), col("h"), 4, 256).as("est_count"))
        .orderBy(col("exact_count").desc, col("tok").asc)
    },

    // ---- winnowing (MOSS) fingerprint overlap: document pairs
    //      sharing selected window-min shingle hashes ----
    "q166_winnowing" -> { (s, d) =>
      Dedup.winnowingOverlapPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, w = 4, minShared = 2L)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- unigram drift monitor: top KL contributors between the
    //      even- and odd-id corpus halves (train/serve skew check) ----
    "q156_term_drift" -> { (s, d) =>
      graft.pipeline.Corpus.termDriftTopK(Tables.documents(s, d), "text",
          slicePred = col("doc_id") % 2 === 0, topK = 20)
        .orderBy(col("drift_nano").desc, col("term").asc)
    },

    // ---- collocations: top-20 adjacent-token bigrams by PMI (all
    //      probabilities from the bigram stream; minCount=5 guards the
    //      hapax-PMI explosion) ----
    "q182_collocations" -> { (s, d) =>
      graft.pipeline.Corpus.collocationsTopK(Tables.documents(s, d),
        "text", minCount = 5L, topK = 20)
    },

    // ---- deterministic TF-IDF tags: top-3 distinctive terms per doc
    //      (the offline baseline for the reference's E6 LLM tagger) ----
    "q222_tfidf_tags" -> { (s, d) =>
      graft.pipeline.Corpus.tfidfTags(
          Tables.documents(s, d).filter(col("doc_id") < 50),
          "doc_id", "text", k = 3)
        .orderBy(col("id"), col("rank"))
    },

    // ---- MinHash accuracy audit: signature-agreement Jaccard
    //      estimate vs the exact value per candidate pair ----
    "q221_minhash_accuracy" -> { (s, d) =>
      Dedup.minhashAccuracy(Tables.documents(s, d), "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- per-source corpus-health scorecard: docs, language spread,
    //      exact avg length, token mass, exact-dup rate — the one
    //      table a curation run reviews per ingest source ----
    "q220_source_scorecard" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val keepers = docs.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("__keeper"))
      docs.join(keepers, md5(col("text")) === col("__h"))
        .select(col("source"), col("lang"), col("n_chars"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("__nt"),
          (col("doc_id") =!= col("__keeper")).as("__dup"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          round(sum(col("n_chars").cast("decimal(38,0)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("avg_chars"),
          sum(col("__nt")).as("total_tokens"),
          sum(when(col("__dup"), 1L).otherwise(0L)).as("dup_docs"))
        .withColumn("dup_rate", round(col("dup_docs").cast("double") /
          col("n_docs").cast("double"), 6))
        .orderBy(col("source"))
    },

    // ---- stop-word discovery: df-share gate + token-stream share ----
    "q218_stopwords" -> { (s, d) =>
      graft.pipeline.Corpus.stopwordProfile(Tables.documents(s, d),
          "text", dfShare = 0.5)
        .orderBy(col("term"))
    },

    // ---- Heaps-law vocabulary growth at 50-doc checkpoints: exact
    //      via per-term first-occurrence docs, no prefix re-scans ----
    "q219_vocab_growth" -> { (s, d) =>
      graft.pipeline.Corpus.vocabGrowth(Tables.documents(s, d),
          "doc_id", "text", checkpointEvery = 50L)
        .orderBy(col("checkpoint"))
    },

    // ---- quality keepers: per near-dup cluster keep the LONGEST copy
    //      (ties to min id) — the production keeper rule, vs min-id ----
    "q215_quality_keepers" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      val cc = graft.graph.Components.connectedComponentsFast(
        docs.select("doc_id"), pairs.select("id_a", "id_b"))
      Dedup.qualityKeepers(docs, "doc_id", "n_chars", cc)
        .filter(col("cluster_size") >= 2)
        .orderBy(col("component"))
    },

    // ---- cluster labeling: top-3 distinctive terms (count × idf) per
    //      multi-member near-dup cluster — the dedup-report summary ----
    "q212_cluster_labels" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      val cc = graft.graph.Components.connectedComponentsFast(
        docs.select("doc_id"), pairs.select("id_a", "id_b"))
      val multi = cc.groupBy("component").agg(count(lit(1)).as("__sz"))
        .filter(col("__sz") >= 2).select("component")
      val clusters = cc.join(multi, "component")
        .select(col("id"), col("component"))
      graft.pipeline.Corpus.clusterLabels(docs, "doc_id", "text",
          clusters, k = 3)
        .orderBy(col("component"), col("rank"))
    },

    // ---- near-dup EVIDENCE: per verified Jaccard pair, the shared-
    //      shingle count + the 3 smallest shared shingles (audit row) ----
    "q204_dup_evidence" -> { (s, d) =>
      Dedup.dupEvidence(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5, sampleK = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- asymmetric n-gram containment: quotation/subset duplication
    //      that symmetric Jaccard misses (directed pairs) ----
    "q183_containment" -> { (s, d) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- mutual-information cells: is lang independent of source?
    //      nano-nat PMI contributions per cell, oracle-bit-exact ----
    "q179_lang_source_mi" -> { (s, d) =>
      graft.pipeline.Corpus.mutualInformationCells(
          Tables.documents(s, d), "lang", "source")
        .orderBy(col("lang"), col("source"))
    },

    // ---- corpus rollup by lang × source ----
    "q51_corpus_stats" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .groupBy($"lang", $"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          round(sum($"n_chars").cast("double") / count(lit(1)), 6).as("avg_chars"))
        .orderBy($"lang", $"source")
    },
  )

  def oracleSql: Map[String, String] = {
    val k = 16; val bands = 4; val rowsPer = 4
    Map(
      "q166_winnowing" -> {
        val fold40 = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5(s), 1, 10), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b)"
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |sh AS (SELECT doc_id, unnest(sg) AS s,
           |    generate_subscripts(sg, 1) - 1 AS pos
           |  FROM (SELECT doc_id, ${shingleSql("tk")} AS sg FROM t) x),
           |hh AS (SELECT doc_id, pos, $fold40 AS h FROM sh),
           |f AS (SELECT doc_id, pos,
           |    MIN(h * 1048576 + (1048575 - pos)) OVER (PARTITION BY doc_id
           |      ORDER BY pos ASC
           |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mp
           |  FROM hh),
           |sel AS (SELECT DISTINCT doc_id, mp // 1048576 AS h
           |  FROM f WHERE pos >= 3)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  COUNT(*)::BIGINT AS n_shared
           |FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING COUNT(*) >= 2
           |ORDER BY id_a, id_b""".stripMargin
      },

      "q182_collocations" ->
        s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
           |bi AS (SELECT tk[gs] AS x, tk[gs + 1] AS y
           |  FROM (SELECT tk, unnest(range(1, len(tk))) AS gs FROM t) z),
           |cxy AS (SELECT x, y, COUNT(*)::BIGINT AS c_xy
           |  FROM bi GROUP BY x, y),
           |cx AS (SELECT x, COUNT(*)::BIGINT AS cx FROM bi GROUP BY x),
           |cy AS (SELECT y, COUNT(*)::BIGINT AS cy FROM bi GROUP BY y),
           |n AS (SELECT COUNT(*)::BIGINT AS n FROM bi)
           |SELECT c.x, c.y, c.c_xy,
           |  ROUND(LN((c_xy * n)::DOUBLE / (cx * cy)::DOUBLE)
           |    * 1e9)::BIGINT AS pmi_nano
           |FROM cxy c JOIN cx USING (x) JOIN cy USING (y), n
           |WHERE c_xy >= 5
           |ORDER BY pmi_nano DESC, x ASC, y ASC LIMIT 20""".stripMargin,

      "q183_containment" -> {
        val cont =
          "ROUND(len(list_intersect(a.ss, b.ss))::DOUBLE / len(a.ss)::DOUBLE, 6)"
        s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b, $cont AS containment
           |FROM sh a, sh b
           |WHERE a.doc_id <> b.doc_id AND len(a.ss) > 0
           |  AND len(list_intersect(a.ss, b.ss)) > 0
           |  AND $cont >= 0.8
           |ORDER BY id_a, id_b""".stripMargin
      },

      "q179_lang_source_mi" ->
        """WITH c AS (SELECT lang, source, COUNT(*)::BIGINT AS c_xy
          |  FROM documents GROUP BY 1, 2),
          |mx AS (SELECT lang, COUNT(*)::BIGINT AS cx
          |  FROM documents GROUP BY 1),
          |my AS (SELECT source, COUNT(*)::BIGINT AS cy
          |  FROM documents GROUP BY 1),
          |t AS (SELECT COUNT(*)::BIGINT AS n FROM documents)
          |SELECT c.lang, c.source, c.c_xy,
          |  ROUND((c_xy::DOUBLE / n::DOUBLE)
          |    * LN((c_xy * n)::DOUBLE / (cx * cy)::DOUBLE)
          |    * 1e9)::BIGINT AS mi_nano
          |FROM c JOIN mx USING (lang) JOIN my USING (source), t
          |ORDER BY lang, source""".stripMargin,

      "q156_term_drift" ->
        s"""WITH t AS (SELECT doc_id % 2 = 0 AS a, unnest($toksSql) AS term
           |  FROM documents),
           |c AS (SELECT term,
           |    SUM(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS c_a,
           |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS c_b
           |  FROM t GROUP BY term),
           |tot AS (SELECT SUM(c_a)::BIGINT AS na, SUM(c_b)::BIGINT AS nb,
           |  COUNT(*)::BIGINT AS v FROM c)
           |SELECT term, c_a, c_b,
           |  ROUND(((c_a + 1)::DOUBLE / (na + v)::DOUBLE)
           |    * LN(((c_a + 1) * (nb + v))::DOUBLE
           |        / ((c_b + 1) * (na + v))::DOUBLE)
           |    * 1e9)::BIGINT AS drift_nano
           |FROM c, tot
           |ORDER BY drift_nano DESC, term ASC LIMIT 20""".stripMargin,

      "q40_token_stats" ->
        s"""SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
           |  CAST(len(list_distinct(tk)) AS INT) AS n_distinct,
           |  CAST(length(text) AS INT) AS n_chars,
           |  ROUND(CASE WHEN len(tk) = 0 THEN 0.0
           |    ELSE $tokLenSumSql::DOUBLE / CAST(len(tk) AS INT) END, 6) AS avg_token_len,
           |  ROUND(CASE WHEN len(tk) = 0 THEN 0.0
           |    ELSE CAST(len(list_distinct(tk)) AS INT)::DOUBLE / CAST(len(tk) AS INT) END, 6) AS type_token_ratio
           |FROM (SELECT doc_id, text, $toksSql AS tk FROM documents) t
           |ORDER BY doc_id""".stripMargin,

      "q41_word_membership" ->
        s"""SELECT doc_id, lang FROM documents
           |WHERE list_contains($toksSql, 'spark')
           |ORDER BY doc_id""".stripMargin,

      "q222_tfidf_tags" ->
        s"""WITH d0 AS (SELECT doc_id, text FROM documents
           |  WHERE doc_id < 50),
           |terms AS (SELECT doc_id AS id, unnest($toksSql) AS term
           |  FROM d0),
           |dterms AS (SELECT doc_id AS id, unnest(list_distinct($toksSql))
           |  AS term FROM d0),
           |nn AS (SELECT COUNT(*)::BIGINT AS n FROM d0),
           |idf AS (SELECT term, COUNT(*)::BIGINT AS df FROM dterms
           |  GROUP BY term),
           |idfm AS (SELECT term,
           |  ROUND(LN((n + 1.0) / (df + 1)::DOUBLE) * 1e6)::BIGINT AS im
           |  FROM idf, nn),
           |tf AS (SELECT id, term, COUNT(*)::BIGINT AS tf
           |  FROM terms GROUP BY id, term),
           |rk AS (SELECT id, term, tf, tf * im AS score,
           |    ROW_NUMBER() OVER (PARTITION BY id
           |      ORDER BY tf * im DESC, term ASC) AS rank
           |  FROM tf JOIN idfm USING (term))
           |SELECT id, rank::INT AS rank, term, tf,
           |  score::BIGINT AS score_micro
           |FROM rk WHERE rank <= 3 ORDER BY id, rank""".stripMargin,

      "q221_minhash_accuracy" ->
        s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
           |sg AS (SELECT doc_id, ${minhashSql("ss", k)} AS sig FROM sh),
           |banded AS (SELECT doc_id, unnest(${bandsSql(minhashSql("ss", k), bands, rowsPer)}) AS band_key FROM sh),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y ON x.band_key = y.band_key
           |  WHERE x.doc_id < y.doc_id),
           |p AS (SELECT c.id_a, c.id_b,
           |    ${jaccardSql("a.ss", "b.ss")} AS jaccard
           |  FROM cand c JOIN sh a ON c.id_a = a.doc_id
           |  JOIN sh b ON c.id_b = b.doc_id
           |  WHERE ${jaccardSql("a.ss", "b.ss")} >= 0.5)
           |SELECT p.id_a, p.id_b, p.jaccard,
           |  ROUND(len(list_filter(list_zip(sa.sig, sb.sig),
           |    z -> z[1] = z[2]))::DOUBLE / $k.0, 6) AS est_jaccard,
           |  ROUND(ABS(len(list_filter(list_zip(sa.sig, sb.sig),
           |    z -> z[1] = z[2]))::DOUBLE / $k.0 - p.jaccard), 6)
           |    AS abs_err
           |FROM p JOIN sg sa ON p.id_a = sa.doc_id
           |JOIN sg sb ON p.id_b = sb.doc_id
           |ORDER BY p.id_a, p.id_b""".stripMargin,

      "q220_source_scorecard" ->
        s"""WITH k AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper
           |  FROM documents GROUP BY 1),
           |j AS (SELECT d.source, d.lang, d.n_chars,
           |    len($toksSql)::BIGINT AS nt,
           |    d.doc_id <> k.keeper AS dup
           |  FROM documents d JOIN k ON md5(d.text) = k.h)
           |SELECT source, COUNT(*)::BIGINT AS n_docs,
           |  COUNT(DISTINCT lang)::BIGINT AS n_langs,
           |  ROUND(SUM(n_chars::HUGEINT)::DOUBLE / COUNT(*)::DOUBLE, 6)
           |    AS avg_chars,
           |  SUM(nt)::BIGINT AS total_tokens,
           |  SUM(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS dup_docs,
           |  ROUND(SUM(CASE WHEN dup THEN 1 ELSE 0 END)::DOUBLE
           |    / COUNT(*)::DOUBLE, 6) AS dup_rate
           |FROM j GROUP BY source ORDER BY source""".stripMargin,

      "q218_stopwords" ->
        s"""WITH dfc AS (SELECT term, COUNT(*)::BIGINT AS doc_freq FROM (
           |  SELECT doc_id, unnest(list_distinct($toksSql)) AS term
           |  FROM documents) t GROUP BY term),
           |occ AS (SELECT term, COUNT(*)::BIGINT AS n_occurrences FROM (
           |  SELECT unnest($toksSql) AS term FROM documents) t
           |  GROUP BY term),
           |nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
           |tt AS (SELECT SUM(n_occurrences)::BIGINT AS t FROM occ)
           |SELECT dfc.term, dfc.doc_freq, occ.n_occurrences,
           |  ROUND(occ.n_occurrences::DOUBLE / tt.t::DOUBLE, 6)
           |    AS stream_share
           |FROM dfc JOIN occ USING (term), nn, tt
           |WHERE dfc.doc_freq >= CAST(FLOOR(0.5 * nn.n) AS BIGINT)
           |ORDER BY term""".stripMargin,

      "q219_vocab_growth" ->
        s"""WITH fd AS (SELECT term, MIN(doc_id) AS fdoc FROM (
           |  SELECT doc_id, unnest(list_distinct($toksSql)) AS term
           |  FROM documents) t GROUP BY term),
           |dt AS (SELECT doc_id, len($toksSql)::BIGINT AS nt
           |  FROM documents),
           |cps AS (SELECT unnest(range(50, (SELECT MAX(doc_id) FROM
           |  documents) + 1, 50)) AS checkpoint)
           |SELECT c.checkpoint,
           |  (SELECT COUNT(*) FROM fd WHERE fd.fdoc <= c.checkpoint)::BIGINT
           |    AS distinct_terms,
           |  (SELECT COALESCE(SUM(nt), 0) FROM dt
           |    WHERE dt.doc_id <= c.checkpoint)::BIGINT AS total_tokens
           |FROM cps c ORDER BY c.checkpoint""".stripMargin,

      "q215_quality_keepers" -> {
        val jac = (a: String, b: String) =>
          s"CASE WHEN len($a) = 0 OR len($b) = 0 THEN 0.0 ELSE len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))::DOUBLE END"
        val edges =
          s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
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
           |cc AS (SELECT id, MIN(comp) AS component FROM r GROUP BY id),
           |k AS (SELECT cc.component, d.doc_id, d.n_chars,
           |    ROW_NUMBER() OVER (PARTITION BY cc.component
           |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
           |    COUNT(*) OVER (PARTITION BY cc.component) AS sz
           |  FROM documents d JOIN cc ON d.doc_id = cc.id)
           |SELECT component, sz::BIGINT AS cluster_size,
           |  doc_id AS keeper_id, n_chars AS keeper_quality
           |FROM k WHERE rn = 1 AND sz >= 2
           |ORDER BY component""".stripMargin
      },

      "q212_cluster_labels" -> {
        val jac = (a: String, b: String) =>
          s"CASE WHEN len($a) = 0 OR len($b) = 0 THEN 0.0 ELSE len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))::DOUBLE END"
        val edges =
          s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
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
           |cc AS (SELECT id, MIN(comp) AS component FROM r GROUP BY id),
           |mul AS (SELECT component FROM cc GROUP BY component
           |  HAVING COUNT(*) >= 2),
           |terms AS (SELECT doc_id AS id, unnest(list_distinct($toksSql))
           |  AS term FROM documents),
           |nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
           |idf AS (SELECT term, COUNT(*)::BIGINT AS df FROM terms
           |  GROUP BY term),
           |idfm AS (SELECT term,
           |  ROUND(LN((n + 1.0) / (df + 1)::DOUBLE) * 1e6)::BIGINT AS im
           |  FROM idf, nn),
           |ct AS (SELECT cc.component, t.term, COUNT(*)::BIGINT AS c
           |  FROM terms t JOIN cc ON t.id = cc.id
           |  JOIN mul ON cc.component = mul.component
           |  GROUP BY cc.component, t.term),
           |rk AS (SELECT component, term, c, c * im AS score,
           |    ROW_NUMBER() OVER (PARTITION BY component
           |      ORDER BY c * im DESC, term ASC) AS rank
           |  FROM ct JOIN idfm USING (term))
           |SELECT component, rank::INT AS rank, term, c AS n_docs,
           |  score::BIGINT AS score_micro
           |FROM rk WHERE rank <= 3
           |ORDER BY component, rank""".stripMargin
      },

      "q204_dup_evidence" ->
        s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  len(list_intersect(a.ss, b.ss))::BIGINT AS n_shared,
           |  ${jaccardSql("a.ss", "b.ss")} AS jaccard,
           |  array_to_string(list_sort(list_intersect(a.ss, b.ss))[1:3], '|')
           |    AS shared_sample
           |FROM sh a, sh b
           |WHERE a.doc_id < b.doc_id AND ${jaccardSql("a.ss", "b.ss")} >= 0.5
           |ORDER BY id_a, id_b""".stripMargin,

      "q42_ngram_jaccard_pairs" ->
        s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  ${jaccardSql("a.ss", "b.ss")} AS jaccard
           |FROM sh a, sh b
           |WHERE a.doc_id < b.doc_id AND ${jaccardSql("a.ss", "b.ss")} >= 0.5
           |ORDER BY id_a, id_b""".stripMargin,

      "q43_shared_shingle_overlap" ->
        s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t)
           |SELECT a.doc_id FROM sh a,
           |  (SELECT ss AS target FROM sh WHERE doc_id = 7) q
           |WHERE a.doc_id <> 7 AND len(list_intersect(a.ss, q.target)) > 0
           |ORDER BY a.doc_id""".stripMargin,

      "q44_minhash_lsh_pairs" ->
        s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
           |banded AS (SELECT doc_id, unnest(${bandsSql(minhashSql("ss", k), bands, rowsPer)}) AS band_key FROM sh),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y ON x.band_key = y.band_key
           |  WHERE x.doc_id < y.doc_id)
           |SELECT c.id_a, c.id_b, ${jaccardSql("a.ss", "b.ss")} AS jaccard
           |FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
           |WHERE ${jaccardSql("a.ss", "b.ss")} >= 0.5
           |ORDER BY id_a, id_b""".stripMargin,

      // q44's CTEs + two id-keyed joins back to documents for the
      // endpoint sources; unordered pair via LEAST/GREATEST
      "q235_neardup_source_matrix" ->
        s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
           |banded AS (SELECT doc_id, unnest(${bandsSql(minhashSql("ss", k), bands, rowsPer)}) AS band_key FROM sh),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y ON x.band_key = y.band_key
           |  WHERE x.doc_id < y.doc_id),
           |pr AS (SELECT c.id_a, c.id_b
           |  FROM cand c JOIN sh a ON c.id_a = a.doc_id
           |  JOIN sh b ON c.id_b = b.doc_id
           |  WHERE ${jaccardSql("a.ss", "b.ss")} >= 0.5)
           |SELECT LEAST(da.source, db.source) AS source_a,
           |  GREATEST(da.source, db.source) AS source_b,
           |  COUNT(*)::BIGINT AS n_pairs
           |FROM pr JOIN documents da ON pr.id_a = da.doc_id
           |JOIN documents db ON pr.id_b = db.doc_id
           |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

      "q45_exact_dedup" ->
        """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
          |  MIN(doc_id) AS keeper_id
          |FROM documents GROUP BY content_hash ORDER BY content_hash""".stripMargin,

      // the blob is the utf-8 encoding of the ASCII projection, so
      // md5(varchar) hashes the identical bytes Spark's md5(binary)
      // sees, and octet_length(encode(..)) is the blob byte length
      "q241_binary_exact_dedup" ->
        s"""WITH b AS (SELECT doc_id,
           |    regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') AS st
           |  FROM documents)
           |SELECT md5(st) AS content_hash, COUNT(*)::BIGINT AS n_copies,
           |  MIN(doc_id) AS keeper_id,
           |  SUM(octet_length(encode(st)))::BIGINT AS total_bytes
           |FROM b GROUP BY 1 ORDER BY content_hash""".stripMargin,

      // byte_histogram replay: ASCII projection makes chars == bytes;
      // per-bin count/n in FLOAT (bin = byte // 16 for 16 bins), then
      // the cosine fold over the float values cast to DOUBLE — the
      // same strict-left-fold order as the native expression. A
      // zero-norm side (empty projection) is guarded to 0.0 exactly
      // like VectorFunctions.cosine — unguarded, DuckDB's 0/0 is NaN
      // and NaN sorts FIRST under ORDER BY sim DESC (r8 code review)
      "q242_binary_neardup_topk" -> {
        val codes =
          "list_transform(string_split(st, ''), c -> ascii(c))"
        val hist =
          s"""CASE WHEN length(st) = 0
             | THEN list_transform(range(0, 16), b -> 0.0::FLOAT)
             | ELSE list_transform(range(0, 16), b ->
             |   (len(list_filter($codes, x -> x // 16 = b))::FLOAT
             |     / length(st)::FLOAT)::FLOAT) END"""
            .stripMargin.replace("\n", " ")
        s"""WITH h AS (SELECT doc_id, length(st) AS n, $hist AS hist FROM (
           |    SELECT doc_id,
           |      regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') AS st
           |    FROM documents) t),
           |q AS (SELECT n AS qn, hist AS qh FROM h WHERE doc_id = 7)
           |SELECT h.doc_id,
           |  CASE WHEN h.n = 0 OR q.qn = 0 THEN 0.0
           |       ELSE ${cosSql("h.hist", "q.qh")} END AS sim
           |FROM h, q WHERE h.doc_id <> 7
           |ORDER BY sim DESC, h.doc_id ASC LIMIT 10""".stripMargin
      },

      // the oracle replays the blob GENERATOR's arithmetic (width =
      // doc_id % 500 + 1, fixed height/depth/type), so any byte-order
      // or offset slip in the Spark-side parser hash-mismatches
      "q248_png_dims" ->
        """SELECT doc_id, ((doc_id % 500) + 1)::INT AS width,
          |  240::INT AS height, 8::INT AS bit_depth, 6::INT AS color_type
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q249_jpeg_dims" ->
        """SELECT doc_id, ((doc_id % 1000) + 1)::INT AS width,
          |  180::INT AS height, 8::INT AS "precision",
          |  3::INT AS n_components
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q46_fingerprint" ->
        s"""SELECT doc_id, ${fingerprintSql("tk")} AS fingerprint
           |FROM (SELECT doc_id, $toksSql AS tk FROM documents) t
           |ORDER BY doc_id""".stripMargin,

      "q47_simhash" -> simhashSql(24),

      "q48_simhash_pairs" ->
        s"""WITH sh AS (${simhashSqlBody(48)})
           |SELECT a.id AS id_a, b.id AS id_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           |FROM sh a, sh b
           |WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY id_a, id_b""".stripMargin,

      "q253_simhash_wide" -> {
        val words = 4; val bpw = 60
        val wordExprs = (0 until words).map { w =>
          (0 until bpw).map { j =>
            val b = w * bpw + j
            s"CASE WHEN SUM(CASE WHEN ((((h * ${b + 7} + $b) % 1000000007) + 1) * 2654435761 >> 10) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
          }.mkString(" + ")
        }
        val cols = wordExprs.zipWithIndex
          .map { case (e, w) => s"($e) AS w$w" }.mkString(",\n  ")
        val ham = (0 until words)
          .map(w => s"bit_count(xor(a.w$w, b.w$w))").mkString(" + ")
        s"""WITH sh AS (SELECT doc_id AS id,
           |  $cols
           |FROM (SELECT doc_id, ${polyhashSql("tok")} AS h
           |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents) u) w
           |GROUP BY doc_id)
           |SELECT a.id AS id_a, b.id AS id_b,
           |  CAST($ham AS INT) AS hamming
           |FROM sh a, sh b
           |WHERE a.id < b.id AND $ham <= 3
           |ORDER BY id_a, id_b""".stripMargin
      },

      // both sides' wide sketches via q253's 4×60-bit construction;
      // word blocking needs no replay (pigeonhole-exact for maxDist ≤
      // words−1): n_near = |corpus docs at hamming ≤ 3|, left-joined
      // so token-less batch docs decide (0, true)
      "q257_cross_simhash" -> {
        val words = 4; val bpw = 60
        val wordExprs = (0 until words).map { w =>
          (0 until bpw).map { j =>
            val b = w * bpw + j
            s"CASE WHEN SUM(CASE WHEN ((((h * ${b + 7} + $b) % 1000000007) + 1) * 2654435761 >> 10) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
          }.mkString(" + ")
        }
        val cols = wordExprs.zipWithIndex
          .map { case (e, w) => s"($e) AS w$w" }.mkString(",\n  ")
        val ham = (0 until words)
          .map(w => s"bit_count(xor(b.w$w, c.w$w))").mkString(" + ")
        s"""WITH sh AS (SELECT doc_id AS id,
           |  $cols
           |FROM (SELECT doc_id, ${polyhashSql("tok")} AS h
           |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents) u) w
           |GROUP BY doc_id),
           |nr AS (SELECT b.id, COUNT(*)::BIGINT AS n_near
           |  FROM sh b JOIN sh c
           |    ON b.id >= 350 AND c.id < 400 AND $ham <= 3
           |  GROUP BY b.id)
           |SELECT d.doc_id AS id, COALESCE(nr.n_near, 0)::BIGINT AS n_near,
           |  COALESCE(nr.n_near, 0) = 0 AS is_new
           |FROM (SELECT doc_id FROM documents WHERE doc_id >= 350) d
           |LEFT JOIN nr ON d.doc_id = nr.id
           |ORDER BY id""".stripMargin
      },

      // simhashPairsAuto replay: the chunk width comes from DuckDB's
      // own COUNT(*) through the SAME clamp arithmetic as
      // SimilarityOps.naturalBits (ceil(log2(n/occ)), clamp [6, 15]) —
      // a scalar CTE, so the 60 statically-built bit terms are MASKED
      // to the first 4·cb bits instead of the SQL shape depending on
      // data. Chunk blocking needs no replay at all: pigeonhole makes
      // it EXACT for maxDist ≤ chunks−1, so the pair set is just
      // "hamming ≤ 3 over all pairs" at the derived width (q48's form)
      "q255_simhash_auto" -> {
        val maxBits = 60 // chunks=4 × cap 15
        val terms = (0 until maxBits).map { b =>
          s"CASE WHEN $b < 4 * p.cb AND SUM(CASE WHEN ((((h * ${b + 7} + $b) % 1000000007) + 1) * 2654435761 >> 10) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
        }.mkString(" + ")
        s"""WITH p AS (SELECT LEAST(15, GREATEST(6,
           |    CAST(CEIL(LOG2(COUNT(*) / 16.0)) AS INT))) AS cb
           |  FROM documents),
           |sh AS (SELECT doc_id AS id, ($terms) AS simhash
           |  FROM (SELECT doc_id, ${polyhashSql("tok")} AS h
           |    FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents) u)
           |    w, p
           |  GROUP BY doc_id, p.cb)
           |SELECT a.id AS id_a, b.id AS id_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           |FROM sh a, sh b
           |WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      },

      // the k offsets are a bounded 2-row set (window size), not data
      "q228_skipgram" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |pos AS (SELECT doc_id, u.p AS p, u.w AS w FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
           |    i -> {'p': i, 'w': tk[i]})) AS u FROM t)),
           |k AS (SELECT unnest(range(1, 3)) AS k),
           |pr AS (SELECT a.w AS w_a, b.w AS w_b
           |  FROM pos a CROSS JOIN k
           |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + k.k)
           |SELECT w_a, w_b, COUNT(*)::BIGINT AS n_pairs
           |FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 3
           |ORDER BY w_a, w_b""".stripMargin,

      // floored integer division (//) on non-negative operands matches
      // Spark's floor(1000*x/y) exactly; the fragment floor (s >= 1)
      // matches greatest(regexp_count, 1)
      "q225_readability" ->
        s"""WITH t AS (SELECT doc_id,
           |  len($toksSql)::BIGINT AS w,
           |  GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS s,
           |  len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS v
           |  FROM documents)
           |SELECT doc_id, s AS n_sentences, w AS n_words,
           |  v AS n_vowel_groups,
           |  ((1000 * w) // s)::BIGINT AS words_per_sentence_milli,
           |  (CASE WHEN w = 0 THEN 0 ELSE (1000 * v) // w END)::BIGINT
           |    AS vowels_per_word_milli,
           |  (206835 - (1015 * w) // s
           |    - CASE WHEN w = 0 THEN 0 ELSE (84600 * v) // w END)::BIGINT
           |    AS flesch_milli
           |FROM t ORDER BY doc_id""".stripMargin,

      "q125_char_entropy" ->
        s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           |  FROM documents WHERE text <> ''),
           |c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch
           |  WHERE ch <> '' GROUP BY doc_id, ch),
           |p AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
           |    COUNT(*) AS n_distinct_chars,
           |    CAST(SUM(c * ROUND(LN(c::DOUBLE) * 1e9)::BIGINT) AS BIGINT) AS s
           |  FROM c GROUP BY doc_id)
           |SELECT d.doc_id,
           |  COALESCE(p.n_chars, 0) AS n_chars,
           |  COALESCE(p.n_distinct_chars, 0) AS n_distinct_chars,
           |  ROUND(CASE WHEN COALESCE(p.n_chars, 0) = 0 THEN 0.0
           |    ELSE ABS(LN(p.n_chars::DOUBLE) - (p.s::DOUBLE / 1e9)
           |      / p.n_chars::DOUBLE) END, 6) AS entropy
           |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      "q49_quality_score" ->
        s"""SELECT doc_id,
           |  ROUND(sr, 6) AS stopword_ratio,
           |  ROUND(ls, 6) AS len_score,
           |  ROUND(dv, 6) AS diversity,
           |  ROUND(ls * 0.4 + dv * 0.3 + (1.0 - abs(sr - 0.3)) * 0.3, 6) AS quality_score
           |FROM (SELECT doc_id,
           |    CASE WHEN len(tk) = 0 THEN 0.0
           |      ELSE len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in')))::DOUBLE / len(tk) END AS sr,
           |    least(len(tk)::DOUBLE / 100.0, 1.0) AS ls,
           |    CASE WHEN len(tk) = 0 THEN 0.0
           |      ELSE len(list_distinct(tk))::DOUBLE / len(tk)::DOUBLE END AS dv
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t) s
           |ORDER BY doc_id""".stripMargin,

      "q200_curation_decisions" ->
        s"""WITH sh AS (SELECT doc_id, list_distinct(${shingleSql("tk")}) AS ss
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
           |banded AS (SELECT doc_id, unnest(${bandsSql(minhashSql("ss", k), bands, rowsPer)}) AS band_key FROM sh),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y ON x.band_key = y.band_key
           |  WHERE x.doc_id < y.doc_id),
           |near AS (SELECT DISTINCT c.id_b AS doc_id
           |  FROM cand c JOIN sh a ON c.id_a = a.doc_id
           |  JOIN sh b ON c.id_b = b.doc_id
           |  WHERE ${jaccardSql("a.ss", "b.ss")} >= 0.5),
           |ex AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper
           |  FROM documents GROUP BY 1)
           |SELECT d.doc_id,
           |  d.doc_id <> ex.keeper AS exact_dup,
           |  near.doc_id IS NOT NULL AS near_dup,
           |  d.n_chars < 100 AS too_short,
           |  (d.doc_id = ex.keeper AND near.doc_id IS NULL
           |    AND d.n_chars >= 100) AS keep
           |FROM documents d JOIN ex ON md5(d.text) = ex.h
           |LEFT JOIN near ON d.doc_id = near.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      "q208_kwic" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |hits AS (SELECT doc_id, tk, gs FROM (
           |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS gs
           |  FROM t) z
           |  WHERE array_to_string(tk[gs:gs + 2], ' ') = 'slow hash batch')
           |SELECT doc_id, gs - 1 AS pos,
           |  array_to_string(tk[GREATEST(gs - 2, 1):gs + 4], ' ') AS context
           |FROM hits ORDER BY doc_id, pos""".stripMargin,

      "q209_dup_profile" ->
        """WITH f AS (SELECT md5(text) AS h, COUNT(*)::BIGINT AS family_size
          |  FROM documents GROUP BY h),
          |t AS (SELECT COUNT(*)::BIGINT AS n FROM documents)
          |SELECT family_size, COUNT(*)::BIGINT AS n_families,
          |  (family_size * COUNT(*))::BIGINT AS n_docs,
          |  ROUND((family_size * COUNT(*))::DOUBLE
          |    / (SELECT n FROM t)::DOUBLE, 6) AS corpus_share
          |FROM f GROUP BY family_size ORDER BY family_size""".stripMargin,

      "q196_phrase_search" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents)
           |SELECT doc_id FROM t
           |WHERE ' ' || array_to_string(tk, ' ') || ' '
           |  LIKE '% slow hash batch %'
           |ORDER BY doc_id""".stripMargin,

      // full kx·ky grid (empty cells contribute (0−E)²/E = r·c/n):
      // grid = marginal CROSS JOIN marginal, observed LEFT-joined in
      "q198_chi_square" ->
        """WITH src AS (SELECT lang, source FROM documents
          |  WHERE lang IS NOT NULL AND source IS NOT NULL),
          |c AS (SELECT lang, source, COUNT(*)::BIGINT AS o
          |  FROM src GROUP BY 1, 2),
          |mx AS (SELECT lang, COUNT(*)::BIGINT AS cx
          |  FROM src GROUP BY 1),
          |my AS (SELECT source, COUNT(*)::BIGINT AS cy
          |  FROM src GROUP BY 1),
          |t AS (SELECT COUNT(*)::BIGINT AS n FROM src),
          |kx AS (SELECT COUNT(*)::BIGINT AS nkx FROM mx),
          |ky AS (SELECT COUNT(*)::BIGINT AS nky FROM my),
          |terms AS (SELECT
          |    (COALESCE(c.o, 0)::HUGEINT * n - mx.cx::HUGEINT * my.cy)
          |      AS d, mx.cx, my.cy, n
          |  FROM mx CROSS JOIN my
          |  LEFT JOIN c ON c.lang = mx.lang AND c.source = my.source, t)
          |SELECT MAX(n)::BIGINT AS n, COUNT(*)::BIGINT AS n_cells,
          |  (SELECT (nkx - 1) * (nky - 1) FROM kx, ky)::BIGINT AS dof,
          |  SUM(ROUND((d * d)::DOUBLE / (cx::DOUBLE * cy::DOUBLE)
          |    / n::DOUBLE * 1e6)::BIGINT)::BIGINT AS chi2_micro
          |FROM terms""".stripMargin,

      "q195_lang_confusion" ->
        s"""WITH p AS (SELECT
           |    CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS actual,
           |    CASE WHEN len(tk) = 0 THEN 'unknown'
           |      WHEN (CASE WHEN len(tk) = 0 THEN 0.0
           |        ELSE len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is')))::DOUBLE / len(tk) END) >= 0.05
           |      THEN 'en' ELSE 'other' END AS predicted
           |  FROM (SELECT lang, $toksSql AS tk FROM documents) t),
           |c AS (SELECT actual, predicted, COUNT(*)::BIGINT AS n
           |  FROM p GROUP BY 1, 2),
           |tt AS (SELECT actual, SUM(n)::BIGINT AS ta FROM c GROUP BY actual)
           |SELECT c.actual, c.predicted, c.n,
           |  ROUND(c.n::DOUBLE / tt.ta::DOUBLE, 6) AS rate
           |FROM c JOIN tt USING (actual)
           |ORDER BY actual, predicted""".stripMargin,

      "q50_language_id" ->
        s"""SELECT doc_id, ROUND(sc, 6) AS en_score,
           |  CASE WHEN n = 0 THEN 'unknown'
           |    WHEN sc >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang
           |FROM (SELECT doc_id, len(tk) AS n,
           |    CASE WHEN len(tk) = 0 THEN 0.0
           |      ELSE len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is')))::DOUBLE / len(tk) END AS sc
           |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t) s
           |ORDER BY doc_id""".stripMargin,

      "q54_token_count_bpe" ->
        s"""SELECT doc_id,
           |  CAST(len($toksSql) AS INT) AS ws_tokens,
           |  CAST(len(pieces) AS INT) AS bpe_pieces,
           |  list_reduce(list_prepend(0::BIGINT,
           |    list_transform(pieces, p -> (length(p) + 3) // 4)), (a, b) -> a + b) AS bpe_tokens
           |FROM (SELECT doc_id, text,
           |        regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS pieces
           |      FROM documents) t
           |ORDER BY doc_id""".stripMargin,

      "q56_kmv_distinct" ->
        s"""WITH h AS (SELECT source, ${md5LongSql("tok")} AS hv
           |  FROM (SELECT source, unnest($toksSql) AS tok FROM documents) u),
           |g AS (SELECT source, list_sort(list_distinct(list(hv))) AS hs
           |      FROM h GROUP BY source)
           |SELECT source,
           |  ROUND(CASE WHEN len(hs) < 64 THEN len(hs)::DOUBLE
           |    ELSE 63.0 * 2147483647 / hs[64]::DOUBLE END, 6) AS est_distinct,
           |  len(hs) AS n_distinct_hashes
           |FROM g ORDER BY source""".stripMargin,

      "q76_stratified_sample" -> {
        val bucket =
          s"(list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b) % 1000)"
        s"""SELECT doc_id, lang, bucket FROM (
           |  SELECT doc_id, lang, $bucket AS bucket FROM documents) t
           |WHERE bucket < CASE WHEN lang = 'en' THEN 500 ELSE 200 END
           |ORDER BY doc_id""".stripMargin
      },

      "q77_normalize_text" ->
        """SELECT doc_id, norm_text, norm_text <> text AS changed,
          |  CAST(length(text) - length(norm_text) AS INT) AS chars_removed
          |FROM (SELECT doc_id, text,
          |    trim(regexp_replace(regexp_replace(lower(text),
          |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS norm_text
          |  FROM documents) t
          |ORDER BY doc_id""".stripMargin,

      "q78_filter_decision" -> {
        val alpha =
          "ROUND(CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) END, 6)"
        s"""SELECT doc_id, alpha_ratio, reason, reason = 'ok' AS keep FROM (
           |  SELECT doc_id, alpha_ratio,
           |    CASE WHEN n_chars2 < 100 THEN 'too_short'
           |         WHEN n_chars2 > 20000 THEN 'too_long'
           |         WHEN n_toks < 20 THEN 'too_few_tokens'
           |         WHEN alpha_ratio < 0.5 THEN 'low_alpha'
           |         ELSE 'ok' END AS reason
           |  FROM (SELECT doc_id, length(text) AS n_chars2,
           |      len($toksSql) AS n_toks, $alpha AS alpha_ratio
           |    FROM documents) a) b
           |ORDER BY doc_id""".stripMargin
      },

      "q79_cms_heavy_hitters" ->
        s"""WITH occ AS (SELECT unnest($toksSql) AS tok FROM documents),
           |th AS (SELECT tok, ${md5LongSql("tok")} AS h
           |       FROM (SELECT DISTINCT tok FROM occ) t),
           |wh AS (SELECT occ.tok, th.h FROM occ JOIN th USING (tok)),
           |counters AS (
           |  SELECT r.i, ((2*r.i+1)*h + r.i*r.i + 98765) % 2147483647 % 256 AS b,
           |    COUNT(*) AS c
           |  FROM wh CROSS JOIN range(0, 4) r(i)
           |  GROUP BY 1, 2),
           |probes AS (
           |  SELECT tok, h, COUNT(*) AS exact_count FROM wh GROUP BY tok, h
           |  ORDER BY exact_count DESC, tok ASC LIMIT 20)
           |SELECT p.tok, p.exact_count, MIN(c.c) AS est_count
           |FROM probes p JOIN counters c
           |  ON c.b = ((2*c.i+1)*p.h + c.i*c.i + 98765) % 2147483647 % 256
           |GROUP BY p.tok, p.exact_count
           |ORDER BY exact_count DESC, tok ASC""".stripMargin,

      "q51_corpus_stats" ->
        """SELECT lang, source, COUNT(*) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
          |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    )
  }

  /** SimHash SQL: bit b of the sketch = sign of Σ_tokens ±1 by the
    * per-(hash, bit) integer mix — identical to Dedup.simhashTable
    * (see simhashBitSign's scaladoc: raw hash bits are dead above ~21
    * under Zipf-short tokens, so each bit gets an independent mixed
    * sign; hb+1 times 2654435761 stays < 2.7e18, exact BIGINT, and the
    * /1024 is integer division on a nonnegative value = the Spark
    * shift).
    */
  private def simhashSqlBody(bits: Int): String = {
    val terms = (0 until bits).map { b =>
      s"CASE WHEN SUM(CASE WHEN ((((h * ${b + 7} + $b) % 1000000007) + 1) * 2654435761 >> 10) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT doc_id AS id, ($terms) AS simhash
       |FROM (SELECT doc_id, ${polyhashSql("tok")} AS h
       |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents) u) w
       |GROUP BY doc_id""".stripMargin
  }

  private def simhashSql(bits: Int): String =
    simhashSqlBody(bits) + "\nORDER BY id"
}
