package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Corpus-level statistics and joins for training-data curation:
  * TF-IDF term ranking, inverted-index construction, eval-set
  * decontamination, and source-mix reweighting.
  *
  * Scale notes: every operator here is explode → hash-aggregate →
  * equi-join shaped. Term/shingle keys follow a Zipf distribution, so
  * partial (map-side) aggregation absorbs the hot head before any
  * shuffle; the joins are all on post-aggregation keys (term, shingle)
  * whose cardinality is vocabulary-sized, not corpus-sized. No operator
  * compares documents pairwise.
  *
  * Cache lifecycle: operators that feed one prepared table to several
  * consumers ([[evalNearDupReport]], [[sourceNovelty]],
  * [[sourceOverlapMatrix]]) `.cache()` it and return a LAZY result —
  * they cannot unpersist without re-executing their own plan. The
  * caller owns eviction: harness mains (Bench/Verify/QueryProbe) call
  * `Graft.evictAll` between queries; a long-lived session should do
  * the same on a cadence or storage memory accumulates until eviction
  * pressure (same contract as `Dedup` — see its scaladoc).
  */
object Corpus {

  /** Per-document top-k terms by TF-IDF (score desc, term asc for
    * determinism). idf = ln((N+1)/(df+1)) with N = corpus size — the
    * smoothed form that never divides by zero.
    *
    * The corpus size joins in via a broadcast single-row aggregate, so
    * the whole computation is one explode + two hash aggregates + a
    * window over per-document term lists.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"))
    val total = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }

  /** Inverted index: term → document frequency, total term frequency,
    * and the sorted posting list (joined to a string for portability).
    * One explode + one aggregate; posting lists stay distributed.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 2L): DataFrame = {
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(
        countDistinct(col(idCol)).as("df"),
        count(lit(1)).as("total_tf"),
        array_join(
          transform(sort_array(collect_set(col(idCol))), _.cast("string")), ",")
          .as("postings"))
      .filter(col("df") >= minDf)
  }

  /** Eval-set decontamination: for every training document, count the
    * distinct word n-gram shingles it shares with ANY document of the
    * eval set. A training doc with n_overlap > 0 is contaminated and
    * must be dropped before training.
    *
    * Candidate generation is an equi-join on the shingle value — the
    * eval side reduces to a distinct shingle set (eval sets are small:
    * broadcast in practice), so cost is one scan of the training corpus
    * plus a vocabulary-sized join. Never pairwise.
    *
    * `evalPred` selects the eval rows from `df` (train = the rest).
    */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
                    evalPred: org.apache.spark.sql.Column,
                    n: Int = 5): DataFrame = {
    val sh = df.select(col(idCol), evalPred.as("__is_eval"),
      explode(array_distinct(shingles(tokens(col(textCol)), n))).as("__s"))
    val evalShingles = sh.filter(col("__is_eval"))
      .select(col("__s")).distinct()
    val overlaps = sh.filter(!col("__is_eval"))
      .join(evalShingles, "__s")
      .groupBy(col(idCol))
      .agg(countDistinct(col("__s")).as("n_overlap"))
    df.filter(!evalPred)
      .select(col(idCol))
      .join(overlaps, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** Contamination REPORTING — the reviewer-facing counterpart of
    * [[decontaminate]] (which gates TRAIN docs): per EVAL document, how
    * many of its distinct word 13-grams collide with ANY training
    * document — the GPT-3-appendix audit (Brown et al. 2020, App. C
    * measure eval/train overlap with 13-gram collisions) that tells a
    * curation reviewer HOW contaminated a benchmark is, not just which
    * training rows to drop. Output per eval doc: (id, n_grams,
    * n_dirty, dirty_permille) — permille via floored integer division,
    * engine-identical (no round(x,6) doubles).
    *
    * Shape: one shingle explode over the whole corpus, the train side
    * reduced to its distinct shingle vocabulary, then a shingle-keyed
    * LEFT SEMI equi-join from the eval side — both shuffles key on the
    * shingle value (the q89 span-dup scaffold with the grouping
    * flipped to the eval doc). Never pairwise; at 100 TB the train
    * vocabulary dominates and partitions by shingle hash.
    */
  def evalOverlapReport(df: DataFrame, idCol: String, textCol: String,
                        evalPred: org.apache.spark.sql.Column,
                        n: Int = 13): DataFrame = {
    val sh = df.select(col(idCol), evalPred.as("__is_eval"),
      explode(array_distinct(shingles(tokens(col(textCol)), n))).as("__s"))
    val trainShingles = sh.filter(!col("__is_eval"))
      .select(col("__s")).distinct()
    val evalSh = sh.filter(col("__is_eval"))
    val total = evalSh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    val dirty = evalSh.join(trainShingles, Seq("__s"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dirty"))
    df.filter(evalPred)
      .select(col(idCol))
      .join(total, Seq(idCol), "left")
      .join(dirty, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dirty"), lit(0L)).as("n_dirty"))
      .withColumn("dirty_permille",
        when(col("n_grams") === 0, lit(0L))
          .otherwise(expr("(1000L * n_dirty) div n_grams")))
  }

  /** Per-slice rollup of [[evalOverlapReport]] — the one-page summary
    * a curation review reads per benchmark family / source: how many
    * eval docs exist, how many carry ≥1 train collision, the
    * contaminated share in floored permille, and the total collision
    * count. Integer units throughout. Shape: the per-doc report plus
    * one id-keyed equi-join to recover the slice column and a
    * |slices|-row aggregate — the report's two shingle-keyed shuffles
    * dominate at any scale.
    */
  def evalOverlapBySlice(df: DataFrame, idCol: String, textCol: String,
                         evalPred: org.apache.spark.sql.Column,
                         sliceCol: String, n: Int = 13): DataFrame = {
    val rep = evalOverlapReport(df, idCol, textCol, evalPred, n)
    rep.join(df.filter(evalPred).select(col(idCol), col(sliceCol)),
        Seq(idCol))
      .groupBy(col(sliceCol))
      .agg(count(lit(1)).as("n_eval_docs"),
        sum(when(col("n_dirty") > 0, 1L).otherwise(0L))
          .as("n_contaminated"),
        sum(col("n_dirty")).as("n_collisions"))
      .withColumn("contaminated_permille",
        expr("(1000L * n_contaminated) div n_eval_docs"))
  }

  /** The grams doing the contaminating: top-k colliding n-grams by
    * DISTINCT eval docs containing them, with the train-side document
    * frequency — [[evalOverlapReport]] says WHICH eval docs are dirty;
    * this names the n-grams responsible, so leaky boilerplate can be
    * scrubbed at the source instead of doc-dropping the eval set. The
    * same two vocabulary-keyed shuffles as the report (per-doc
    * distinct shingles make each count a doc count); top-k is
    * TakeOrderedAndProject on the total (n_eval_docs desc, gram asc)
    * key, never a global sort.
    */
  def evalOverlapTopGrams(df: DataFrame, idCol: String, textCol: String,
                          evalPred: org.apache.spark.sql.Column,
                          n: Int = 13, topK: Int = 20): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val sh = df.select(col(idCol), evalPred.as("__is_eval"),
      explode(array_distinct(shingles(tokens(col(textCol)), n)))
        .as("gram"))
    val trainDf = sh.filter(!col("__is_eval"))
      .groupBy(col("gram")).agg(count(lit(1)).as("train_df"))
    sh.filter(col("__is_eval"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n_eval_docs"))
      .join(trainDf, Seq("gram")) // inner join: colliding grams only
      .orderBy(col("n_eval_docs").desc, col("gram").asc)
      .limit(topK)
  }

  /** FUZZY contamination report — the near-dup companion of
    * [[evalOverlapReport]]: q231's exact 13-gram audit misses
    * paraphrased leakage (substitute one word and every 13-gram
    * containing it changes), so this finds train documents that are
    * NEAR-duplicates of eval documents via MinHash-LSH banding and
    * reports each (eval doc, train doc) pair with its VERIFIED exact
    * shingle Jaccard — the evidence row a benchmark audit attaches to
    * a contamination claim.
    *
    * Shape: one shingle pass over the corpus, band keys per document
    * (`bands` keys/doc — constant, not |doc|-sized), then a band-key
    * equi-join STRICTLY between the eval side and the train side
    * (never eval×eval or train×train), verify joins on the two id
    * keys. Identical candidate machinery to `Dedup.minhashLshPairs`
    * with the pair space restricted to the eval/train bipartition; at
    * 100 TB the eval side is benchmark-sized and its banded table
    * broadcasts, so the probe is one map-side join over train band
    * keys. Never pairwise; recall is the standard LSH band trade
    * (exact copies collide in every band).
    */
  def evalNearDupReport(df: DataFrame, idCol: String, textCol: String,
                        evalPred: org.apache.spark.sql.Column,
                        n: Int = 3, k: Int = 16, bands: Int = 4,
                        threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0,
      s"bands ($bands) must divide k ($k) or trailing signature rows are silently unused")
    val rowsPer = k / bands
    val sh = df.select(col(idCol).as("id"), evalPred.as("__is_eval"),
        array_distinct(shingles(tokens(col(textCol)), n)).as("shingle_set"))
      .cache()
    // md5 exactly once per shingle (the minhashLshPairs barrier), then
    // the k permutations run on the cached long array
    val hashed = sh.select(col("id"), col("__is_eval"),
      transform(col("shingle_set"), t => md5Long(t)).as("__hashes")).cache()
    val banded = hashed.select(col("id"), col("__is_eval"),
      explode(lshBandKeys(minhashFromHashes(col("__hashes"), k),
        bands, rowsPer)).as("band_key"))
    val cand = banded.filter(col("__is_eval")).as("x")
      .join(banded.filter(!col("__is_eval")).as("y"), Seq("band_key"))
      .select(col("x.id").as("eval_id"), col("y.id").as("train_id"))
      .distinct()
    cand
      .join(sh.filter(col("__is_eval"))
        .select(col("id").as("eval_id"), col("shingle_set").as("__sa")),
        "eval_id")
      .join(sh.filter(!col("__is_eval"))
        .select(col("id").as("train_id"), col("shingle_set").as("__sb")),
        "train_id")
      .withColumn("jaccard", round(jaccard(col("__sa"), col("__sb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("eval_id"), col("train_id"), col("jaccard"))
  }

  /** Per-source n-gram NOVELTY — "which feeds actually add content":
    * for every source, its distinct shingle vocabulary, how much of
    * that vocabulary appears in NO other source (floored permille),
    * and the redundant remainder. A feed whose grams all exist
    * elsewhere is a candidate to drop from the mix regardless of its
    * size — the cross-source companion of [[boilerplateNgrams]].
    *
    * Shape: one (source, gram) distinct, then TWO aggregates — a
    * |sources|-row gram count and a gram-keyed uniqueness aggregate
    * whose ns=1 rows attribute each globally-unique gram to its single
    * source (min(source) of one row IS that source) — combined by a
    * |sources|-row left join. The r9 form joined the per-gram source
    * counts BACK onto the (source, gram) table, shipping the sg-sized
    * probe through a second gram-keyed exchange plus a join; the
    * aggregate-and-attribute form produces identical numbers with ONE
    * gram-keyed exchange and no vocabulary-sized join (r9 verdict
    * item 4 — the cache-vs-ReusedExchange question dissolved by
    * removing the second consumer's bulk instead of caching it).
    */
  def sourceNovelty(df: DataFrame, textCol: String, srcCol: String,
                    n: Int = 3): DataFrame = {
    // cache: the (source, gram) distinct feeds BOTH aggregates —
    // uncached, the full tokenize+shingle+distinct pass runs twice
    // (r8 ADVICE; same convention as sourceOverlapMatrix). Lifecycle:
    // lazy, owned by the caller — harness mains evict via
    // Graft.evictAll between queries (see the class scaladoc note).
    val sg = df.select(col(srcCol).as("source"),
        explode(array_distinct(shingles(tokens(col(textCol)), n)))
          .as("gram"))
      .distinct()
      .cache()
    val perSource = sg.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"))
    // sg is (source, gram)-distinct, so count(*) per gram = number of
    // distinct sources holding it; at ns=1 the min IS the unique holder
    val uniq = sg.groupBy(col("gram"))
      .agg(count(lit(1)).as("__ns"), min(col("source")).as("__src"))
      .filter(col("__ns") === 1)
      .groupBy(col("__src")).agg(count(lit(1)).as("n_unique"))
    perSource.join(uniq, col("source") === col("__src"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty_permille",
        expr("(1000L * n_unique) div n_grams"))
  }

  /** DIRECTED source-overlap matrix — "who copies whom": for every
    * ordered source pair (a, b), the share of a's distinct shingle
    * vocabulary that also appears in b, in floored permille. Asymmetry
    * is the signal ([[tags.TagOps]]-style containment lifted to feeds):
    * a small feed fully contained in a large one is a mirror/subset
    * candidate (drop it); the large feed's low reverse share says the
    * copying ran one way. Complements [[sourceNovelty]] (uniqueness vs
    * ALL others, no direction) and the near-dup source matrix
    * (verified doc pairs, not vocabulary).
    *
    * Shape: one (source, gram) distinct, a gram-keyed self-equi-join
    * whose per-gram fan-out is bounded by |sources|² (never docs), one
    * |sources|²-row aggregate + a broadcast-sized totals join. Scale
    * cost is the vocabulary distinct; everything after is
    * source-cardinality-sized.
    */
  def sourceOverlapMatrix(df: DataFrame, textCol: String, srcCol: String,
                          n: Int = 3): DataFrame = {
    val sg = df.select(col(srcCol).as("source"),
        explode(array_distinct(shingles(tokens(col(textCol)), n)))
          .as("gram"))
      .distinct()
      .cache() // three consumers: both join sides + the totals
    val tot = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    sg.select(col("source").as("source_a"), col("gram"))
      .join(sg.select(col("source").as("source_b"), col("gram")), "gram")
      .filter(col("source_a") =!= col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(tot).withColumnRenamed("source", "source_a"),
        "source_a")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_grams"),
        expr("(1000L * n_shared) div n_grams").as("containment_permille"))
  }

  /** Marginal-value-of-data curve — "is MORE of this source worth
    * ingesting": each source's docs are split into `buckets` equal
    * id-ordered prefixes (ntile), and each bucket is credited with the
    * distinct shingles whose FIRST in-source occurrence it is. A feed
    * whose late buckets add ~no new grams has been exhausted — the
    * growing-prefix dedup-rate curve a curation review reads before
    * buying/crawling more of a source (Heaps-law per feed, bucketed).
    *
    * Shape: one per-source window rank (the standard distributed
    * per-partition sort), one (source, gram) min-bucket aggregate, one
    * (source, bucket) count — vocabulary-keyed; output is
    * |sources|×`buckets` rows.
    */
  def marginalNoveltyCurve(df: DataFrame, idCol: String, textCol: String,
                           srcCol: String, buckets: Int = 10,
                           n: Int = 3): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val w = Window.partitionBy(col(srcCol)).orderBy(col(idCol))
    // long bucket: DuckDB's NTILE is BIGINT and the driver's hash
    // canonicalization is type-sensitive on integers
    df.select(col(srcCol).as("source"),
        ntile(buckets).over(w).cast("long").as("bucket"), col(textCol))
      // fan back out after the per-source window: without this, the
      // explode AND both aggregates inherit the window's |sources|-way
      // partitioning (Spark skips the aggregate exchange because
      // {source} ⊆ the grouping keys) and the whole tail runs at
      // |sources| parallelism — measured 2.7× slower at 20 sources /
      // 32 cores. One tiny pre-explode exchange of doc-sized rows
      // restores cluster-wide parallelism; the (source, gram)
      // aggregate then gets its own vocabulary-keyed exchange
      .repartition(col("source"), col("bucket"))
      .select(col("source"), col("bucket"),
        explode(array_distinct(shingles(tokens(col(textCol)), n)))
          .as("gram"))
      .groupBy(col("source"), col("gram"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_new_grams"))
  }

  /** Bloom-filter decontamination — the 100 TB form of `decontaminate`:
    * the eval set's n-gram shingles compress into ONE fixed-size bit
    * array (`functions.BloomSketch`, default 32768 bits = 4 KiB
    * regardless of eval size), broadcast to every executor, and each
    * training shingle probes it with pure column arithmetic
    * (`Graft.bloomContains` — codegen'd, no UDF, no shuffle on the
    * probe side). Compare: exact `decontaminate` shuffles the full
    * eval-shingle vocabulary into an equi-join; here the "join" is a
    * broadcast blob + map-side bit tests, the standard production
    * shape for blocklist/benchmark screening at corpus scale.
    *
    * Semantics: NO false negatives (every truly contaminated shingle
    * is flagged); false positives at the textbook (1−e^(−kn/m))^k
    * rate, deterministic — the oracle replays the exact bit set, so
    * even the false positives hash-match. Output per train doc:
    * (id, n_shingles, n_flagged, flagged).
    */
  def bloomDecontaminate(df: DataFrame, idCol: String, textCol: String,
                         evalPred: org.apache.spark.sql.Column,
                         n: Int = 5, bits: Int = 32768,
                         hashes: Int = 3): DataFrame = {
    val sh = df.select(col(idCol), evalPred.as("__is_eval"),
      explode(array_distinct(shingles(tokens(col(textCol)), n))).as("__s"))
      .withColumn("__h", md5Long(col("__s")))
    val sketch = sh.filter(col("__is_eval"))
      .agg(graft.Graft.bloomSketch(col("__h"), bits, hashes).as("__bloom"))
    val probed = sh.filter(!col("__is_eval"))
      .crossJoin(broadcast(sketch))
      .withColumn("__hit",
        graft.Graft.bloomContains(col("__bloom"), col("__h"), bits, hashes))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_flagged"))
    df.filter(!evalPred)
      .select(col(idCol))
      .join(probed, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        (coalesce(col("n_flagged"), lit(0L)) > 0).as("flagged"))
  }

  /** Cross-document repeated-span detection (the signal behind exact
    * substring dedup, Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 — windowed-hash form): every
    * n-token rolling window of every document, counted per document,
    * with the fraction of windows that also occur in at least one OTHER
    * document. High dup_fraction = boilerplate / template / mirrored
    * content.
    *
    * Shape: explode windows → hash-aggregate by window value to find
    * the cross-doc duplicated window set (vocabulary-sized after the
    * Zipf head collapses into map-side partials) → semi-join back →
    * per-doc count. Two shuffles, both on window-value or doc-id keys;
    * never pairwise.
    */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    // two consumers (the dup-set aggregate and the semi-join probe)
    // read the exploded windows — cache them once (r13; lazy, so plan
    // build stays job-free); the per-doc TOTAL is just the array
    // length, a map-side column, not a third pass + shuffle over the
    // exploded rows (explode emits exactly size() rows per doc, and
    // both shapes yield 0 for empty/null text)
    val w = df.select(col(idCol),
      explode(shingles(tokens(col(textCol)), n)).as("__s"))
      .cache()
    val dupSet = w.groupBy(col("__s"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("__s"))
    val dup = w.join(dupSet, Seq("__s"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_windows"))
    df.select(col(idCol),
        coalesce(size(shingles(tokens(col(textCol)), n)).cast("long"),
          lit(0L)).as("n_windows"))
      .join(dup, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(when(coalesce(col("n_windows"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
            col("n_windows").cast("double")), 6).as("dup_fraction"))
  }

  /** Removal counterpart of [[spanDupStats]] — the "ExactSubstr" dedup
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), in windowed form: rewrite each document by
    * DELETING every token covered by an n-token window that also occurs
    * in at least one OTHER document. Boilerplate, templates, and
    * mirrored passages vanish from every copy; unique prose survives.
    * Docs shorter than n form one whole-doc window (mirror of
    * [[graft.functions.TextFunctions.shingles]]), so exact short
    * duplicates are fully removed too.
    *
    * Shape: explode per-start windows → hash-aggregate by window value
    * for the cross-doc duplicated set (vocabulary-sized after map-side
    * partials) → semi-join back → per-doc covered-position array →
    * equi-join to the docs and a pure map-side HOF rebuild
    * (`filter`/`transform` over the token array — codegen'd, no UDF).
    * All shuffles key on window-value or doc-id; never pairwise. The
    * covered array is bounded by doc length, so the membership filter
    * is O(len · |covered|) map-side work — at 100 TB the cost is the
    * same two shuffles as the stats pass plus one scan-shaped rewrite.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 8): DataFrame = {
    val base = df.select(col(idCol), tokens(col(textCol)).as("__tk"))
    val wins = base.select(col(idCol),
      explode(transform(
        sequence(lit(1), greatest(size(col("__tk")) - lit(n - 1), lit(1))),
        s => struct(s.as("s"),
          concat_ws(" ", slice(col("__tk"), s, lit(n))).as("w"))))
        .as("__win"))
      .select(col(idCol), col("__win.s").as("__s"), col("__win.w").as("__w"))
    val dupSet = wins.groupBy(col("__w"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("__w"))
    val covered = wins.join(dupSet, Seq("__w"), "left_semi")
      .groupBy(col(idCol))
      .agg(array_sort(array_distinct(flatten(collect_list(
        sequence(col("__s"), col("__s") + lit(n - 1)))))).as("__cov"))
    base.join(covered, Seq(idCol), "left")
      .withColumn("__cv", coalesce(col("__cov"), array().cast("array<int>")))
      .withColumn("__kept", filter(
        transform(col("__tk"), (t, i) => struct(t.as("t"), (i + lit(1)).as("p"))),
        x => !array_contains(col("__cv"), x.getField("p"))))
      .select(
        col(idCol),
        size(col("__tk")).cast("long").as("n_tokens"),
        (size(col("__tk")) - size(col("__kept"))).cast("long").as("n_removed"),
        round(when(size(col("__tk")) === 0, lit(0.0))
          .otherwise((size(col("__tk")) - size(col("__kept"))).cast("double") /
            size(col("__tk")).cast("double")), 6).as("removed_fraction"),
        concat_ws(" ", transform(col("__kept"), x => x.getField("t")))
          .as("text_clean"))
  }

  /** DSIR-style importance weights for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): hashed word n-gram features (sizes 1..n, md5 →
    * one of `buckets` buckets) estimate a target-domain and a raw
    * feature distribution with add-one smoothing; each document scores
    * the sum over its feature occurrences of ln(p_target(b)/p_raw(b)).
    * High weight = looks like the target domain — the resampling gate
    * that picks pretraining data matching a quality domain. Integer
    * nano-nat units (the [[graft.pipeline.TextAnalysis.unigramSurprisal]]
    * convention) make the fold bit-deterministic and the DuckDB oracle
    * exact.
    *
    * Shape: explode features → one hash-aggregate to the B-bucket count
    * table (B is a CONSTANT — like the Bloom blob, the model side stays
    * broadcast-sized at any corpus scale) → broadcast equi-join of
    * occurrences to bucket units → per-doc sum. Two scans of the
    * corpus, zero corpus-sized shuffles beyond the Zipf-absorbed
    * bucket aggregation.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, n: Int = 2,
                  buckets: Int = 1024): DataFrame = {
    val base = df.select(col(idCol), targetPred.as("__tgt"),
      tokens(col(textCol)).as("__tk"))
    val occ = base.select(col(idCol), col("__tgt"),
      explode(concat((1 to n).map(k => shingles(col("__tk"), k)): _*))
        .as("__f"))
      .select(col(idCol), col("__tgt"),
        pmod(md5Long(col("__f")), lit(buckets)).as("__b"))
    val counts = occ.groupBy(col("__b"))
      .agg(sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("__tc"),
        sum(when(!col("__tgt"), lit(1L)).otherwise(lit(0L))).as("__rc"))
    val totals = counts.agg(sum(col("__tc")).as("__tt"),
      sum(col("__rc")).as("__tr"))
    val units = counts.crossJoin(broadcast(totals))
      .select(col("__b"),
        round((log((col("__tc") + 1).cast("double") /
            (col("__tt") + lit(buckets)).cast("double")) -
          log((col("__rc") + 1).cast("double") /
            (col("__tr") + lit(buckets)).cast("double"))) * lit(1e9))
          .cast("long").as("__u"))
    val perDoc = occ.join(broadcast(units), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"), sum(col("__u")).as("weight_units"))
    base.select(col(idCol), col("__tgt")).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("__tgt").as("is_target"),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        coalesce(col("weight_units"), lit(0L)).as("weight_units"),
        round(when(coalesce(col("n_features"), lit(0L)) === 0, lit(0.0))
          .otherwise((col("weight_units").cast("double") / lit(1e9)) /
            col("n_features").cast("double")), 6).as("avg_log_ratio"))
  }

  /** Top-k vocabulary by collection frequency with cumulative coverage:
    * the tokenizer-design view of a corpus (how much of the token
    * stream the first k vocabulary entries explain). Rank order is
    * (tf desc, term asc) — total, deterministic.
    *
    * Scale shape: the explode + hash-aggregate reduces the corpus to
    * vocabulary size; the top-k then comes from `orderBy().limit(k)` —
    * TakeOrderedAndProject (per-partition heaps + a k-row merge), so
    * NO vocabulary-sized single-partition window exists anywhere (at
    * 100 TB the vocabulary is Heaps-law millions of rows — a global
    * ranking window over it would be the q100-class bottleneck this
    * avoids; the ranking/cumulative window that remains runs over the
    * k surviving rows). The stream total is a broadcast single-row
    * aggregate.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 100): DataFrame = {
    val counts = df
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum(col("tf")).as("__total"))
    val top = counts.orderBy(col("tf").desc, col("term").asc).limit(k)
    val ord = Window.orderBy(col("tf").desc, col("term").asc)
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("rank", row_number().over(ord))
      .withColumn("__cum", sum(col("tf")).over(cum))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("term"), col("tf"),
        round(col("__cum").cast("double") / col("__total").cast("double"), 6)
          .as("cum_share"))
  }

  /** BM25 relevance of every document against a fixed query-term list
    * (Robertson–Spärck Jones idf, the `ln(1 + (N-df+0.5)/(df+0.5))`
    * smoothed form), top-k documents per term.
    *
    * avgdl is computed as exact-integer token total / doc count (one
    * double division — reproducible across engines, unlike a streaming
    * double mean). The term filter lands BEFORE the tf aggregate, so
    * only query-term postings ever shuffle; corpus stats broadcast.
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75, topK: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col(idCol).asc)
    bm25Scored(df, idCol, textCol, queryTerms, k1, b)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("term"), col("rank"), col(idCol), col("tf"), col("score"))
  }

  /** Per-(document, term) 6-dp BM25 partial scores over `queryTerms` —
    * the shared posting computation behind `bm25Scores` (per-term
    * top-k) and `rrfHybridTopK` (per-document sum).
    */
  private def bm25Scored(df: DataFrame, idCol: String, textCol: String,
                         queryTerms: Seq[String], k1: Double,
                         b: Double): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__tk"))
    val stats = toks.agg(
      count(lit(1)).as("__n_docs"),
      sum(size(col("__tk")).cast("long")).as("__tok_total"))
    val posting = toks
      .select(col(idCol), size(col("__tk")).cast("long").as("dl"),
        explode(col("__tk")).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = posting.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("__df"))
    val avgdl = col("__tok_total").cast("double") / col("__n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("__n_docs") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val score = idf * (col("tf") * (lit(k1) + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    posting
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("score", round(score, 6))
  }

  /** Hybrid lexical + dense retrieval fused by reciprocal rank (RRF,
    * Cormack, Clarke & Buettcher, SIGIR 2009): the BM25 ranking of the
    * query terms and the cosine ranking against the query vector each
    * produce a top-N list; a document's fused score is
    * Σ 1/(kRrf + rank) over the lists it appears in. Rankings compare
    * exact integer micro-units (the 6-dp scores ×10⁶), so rank
    * assignment is engine-portable; ties break by id.
    *
    * Scale: each list is a TakeOrderedAndProject over its scoring plan
    * (BM25 = query-term postings only; dense = scan + broadcast query
    * row) — the global row_number windows run AFTER `.limit(topN)`, on
    * driver-bounded sets, never on the corpus (the q100 pattern). The
    * fusion join is a topN×topN full outer equi-join — trivial at any
    * corpus size.
    */
  def rrfHybridTopK(docs: DataFrame, docIdCol: String, textCol: String,
                    emb: DataFrame, embIdCol: String, vecCol: String,
                    queryTerms: Seq[String], queryVecId: Long,
                    k1: Double = 1.2, b: Double = 0.75,
                    kRrf: Int = 60, topN: Int = 20): DataFrame = {
    val lexRanked = bm25Scored(docs, docIdCol, textCol, queryTerms, k1, b)
      .groupBy(col(docIdCol))
      .agg(sum(round(col("score") * 1e6).cast("long")).as("lex_units"))
      .orderBy(col("lex_units").desc, col(docIdCol).asc)
      .limit(topN)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("lex_units").desc, col(docIdCol).asc)))
      .select(col(docIdCol).as("doc_id"), col("lex_rank"))
    val q = emb.filter(col(embIdCol) === queryVecId)
      .select(col(vecCol).as("__query_vec"))
    val denseRanked = emb.filter(col(embIdCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("sim_units", round(
        graft.similarity.SimilarityOps.sim6(col(vecCol), col("__query_vec"))
          * 1e6).cast("long"))
      .orderBy(col("sim_units").desc, col(embIdCol).asc)
      .limit(topN)
      .withColumn("dense_rank", row_number().over(
        Window.orderBy(col("sim_units").desc, col(embIdCol).asc)))
      .select(col(embIdCol).as("doc_id"), col("dense_rank"))
    lexRanked.join(denseRanked, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(kRrf) + col("dense_rank")), lit(0.0)), 6))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
  }

  /** Square-root temperature smoothing of the source mix — the
    * standard multilingual-sampling compromise between proportional
    * (starves small groups) and uniform (overfits them): target share
    * ∝ √n, i.e. the T=2 point of the `p^(1/T)` family. √ is the one
    * member of that family that is IEEE-correctly-rounded on every
    * engine (general `pow` is not); the per-group √n quantizes to
    * integer nano-units before the normalizing sum, so the sum is
    * exact integer arithmetic — order-free and engine-portable (a
    * double normalizer would pick up association-order ulps).
    *
    * Output per group: n_docs, `share` (actual), `target_share`
    * (√-smoothed), `weight` = target/actual (feed to a sampler).
    */
  /** Per-group doc counts with the corpus total attached — the shared
    * scaffold of the mix-weighting operators. The window input is the
    * GROUPED table (group-cardinality rows), never the corpus.
    */
  private def groupCounts(df: DataFrame, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n_docs"))
      .withColumn("__total",
        sum(col("n_docs")).over(Window.partitionBy()))

  /** Actual corpus share of a group (expects `groupCounts` columns). */
  private def shareCol = col("n_docs").cast("double") / col("__total")

  def temperatureMixWeights(df: DataFrame,
                            groupCols: Seq[String]): DataFrame = {
    val all = Window.partitionBy()
    val target = col("__squ").cast("double") / col("__sqtotal").cast("double")
    groupCounts(df, groupCols)
      .withColumn("__squ",
        round(sqrt(col("n_docs").cast("double")) * lit(1e9)).cast("long"))
      .withColumn("__sqtotal", sum(col("__squ")).over(all))
      .select(
        groupCols.map(col) ++ Seq(
          col("n_docs"),
          round(shareCol, 6).as("share"),
          round(target, 6).as("target_share"),
          round(target / shareCol, 6).as("weight")): _*)
  }

  /** Source-mix reweighting: per group (e.g. source × lang), the corpus
    * share and the sampling weight that would flatten the mix to uniform
    * across groups (weight = target_share / actual_share). The window
    * aggregates run over the GROUPED rows (group-count many), not the
    * corpus — cheap at any scale.
    */
  def domainMixWeights(df: DataFrame, groupCols: Seq[String]): DataFrame =
    groupCounts(df, groupCols)
      .withColumn("__n_groups", count(lit(1)).over(Window.partitionBy()))
      .select(
        groupCols.map(col) ++ Seq(
          col("n_docs"),
          round(shareCol, 6).as("share"),
          round((lit(1.0) / col("__n_groups")) / shareCol, 6).as("weight")): _*)

  /** Epoch planning under data constraints — the budgeting audit of a
    * token-bounded training run (Muennighoff et al., NeurIPS 2023:
    * repeating data beyond ~4 epochs stops helping, so a run whose
    * budget exceeds a source's unique tokens must cap repetition and
    * surface the shortfall). Budget = corpus total × budgetFactorMilli
    * / 1000, split uniformly across sources; per source, all integer
    * units: n_docs, avail_tokens, target_tokens, epochs_milli (1000 =
    * one pass, capped at maxEpochsMilli), effective_tokens after the
    * cap, shortfall_tokens. Floored integer division throughout —
    * engine-identical.
    *
    * Scale shape: one corpus scan → per-source aggregate; the global
    * windows run over the |sources|-row grouped table (bounded), so
    * cost is the scan at any corpus size.
    */
  def epochMixPlan(df: DataFrame, srcCol: String, textCol: String,
                   budgetFactorMilli: Int = 2000,
                   maxEpochsMilli: Int = 4000): DataFrame = {
    require(budgetFactorMilli > 0 && maxEpochsMilli > 0,
      "budgetFactorMilli and maxEpochsMilli must be > 0")
    val all = Window.partitionBy()
    df.select(col(srcCol).as("source"),
        size(tokens(col(textCol))).cast("long").as("__t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("avail_tokens"))
      .withColumn("__total", sum(col("avail_tokens")).over(all))
      .withColumn("__nsrc", count(lit(1)).over(all))
      .withColumn("target_tokens",
        expr(s"((__total * ${budgetFactorMilli}L) div 1000L) div __nsrc"))
      .withColumn("epochs_milli",
        when(col("avail_tokens") === 0, lit(0L)).otherwise(
          least(lit(maxEpochsMilli.toLong),
            expr("(1000L * target_tokens) div avail_tokens"))))
      .withColumn("effective_tokens",
        least(col("target_tokens"),
          expr("(avail_tokens * epochs_milli) div 1000L")))
      .withColumn("shortfall_tokens",
        col("target_tokens") - col("effective_tokens"))
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        col("target_tokens"), col("epochs_milli"),
        col("effective_tokens"), col("shortfall_tokens"))
  }

  /** Sparse TF-IDF cosine all-pairs over word n-gram shingle vectors —
    * the lexical twin of the embedding-cosine near-dup join (q31/q53):
    * documents are sparse vectors in shingle space, candidate pairs come
    * from the INVERTED INDEX (an equi-join on the shingle value — two
    * docs sharing no shingle have cosine 0 and are never compared), and
    * the dot product accumulates per-term partial products in one hash
    * aggregate. The classic all-pairs similarity-search shape (Bayardo
    * et al., WWW 2007), without the n² anywhere.
    *
    * Determinism (hash-match across engines and partitionings): idf
    * quantizes to integer micro-nats, the un-normalized weight
    * w = tf · idf_micro is an exact BIGINT, ‖w‖² sums exactly in
    * DECIMAL(38,0), each NORMALIZED coordinate quantizes to 1e6 integer
    * units (one IEEE divide + round per coordinate), and the dot product
    * is an exact integer sum of products — so the reported
    * cos = round(dot / 1e12, 6) and the threshold comparison are
    * bit-reproducible.
    *
    * Scale notes: join fan-out is Σ_t df_t² over the shingle vocabulary;
    * n-gram shingles keep df near 1 on natural text (unlike raw words,
    * whose Zipf head would dominate — same reasoning as the q42 shingle
    * join). `maxDf` drops super-frequent shingles from the VOCABULARY
    * (norms and dots consistently — boilerplate removal, the sparse
    * analogue of a stop-word list), bounding the worst-case fan-out at
    * Σ df ≤ maxDf · |vocab|. The weighted vectors materialize once
    * (localCheckpoint) — norm aggregate and index join both read them.
    */
  /** Unigram distribution drift between two corpus slices — the
    * train/serve-skew and corpus-version monitor: per term, the
    * add-one-smoothed KL-divergence contribution
    * p_A(t) · ln(p_A(t) / p_B(t)), ranked by drift (positive = newly
    * over-represented in slice A). `slicePred` selects slice A; the
    * complement is B. The top movers are the answer to "what changed
    * between yesterday's crawl and today's".
    *
    * Determinism: term counts and totals are exact integers; each
    * term's contribution is ONE double expression over those integers
    * (identical operand order in the oracle), quantized to integer
    * nano-nats for the ranking — partition- and engine-invariant.
    * Cost: one explode + one (term)-keyed aggregate + a broadcast
    * totals row; top-k via orderBy().limit() = TakeOrderedAndProject.
    */
  /** Exact phrase search through the shingle inverted index — the
    * "which documents contain this n-token phrase" lookup that rides
    * the SAME index the dedup pipeline already maintains. Candidates =
    * docs containing ALL of the phrase's n-gram shingles (explode +
    * literal IN filter + count-distinct — an index probe, never a
    * corpus scan per query); verify = one codegen'd boundary-padded
    * substring test on the token stream (shingle containment alone
    * can't prove contiguity). The phrase must span at least n tokens.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: String, n: Int = 3): DataFrame = {
    val pTokens = phrase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(pTokens.length >= n,
      s"phrase must have at least $n tokens for the $n-gram index")
    val pShingles = pTokens.sliding(n).map(_.mkString(" ")).toSeq.distinct
    val joined = pTokens.mkString(" ")
    // ONE corpus pass, no join (r13 — replaces the r12 two-scan shape
    // whose `when(__hit.isNotNull, …)` guard was dead code: __hit is a
    // non-nullable aggregate, so the conditional folded away and the
    // contiguity verify pushed below the join onto a SECOND full
    // corpus scan, r12 verdict item 1). The index-build side must
    // tokenize every document anyway, so the boundary-padded verify is
    // evaluated as one extra boolean in the SAME projection and rides
    // the exploded shingle rows; the aggregate then checks "all phrase
    // shingles present" AND the carried verify bit on candidate groups
    // only. Net: the probe-side scan, its text exchange, and the join
    // are gone — at any scale the query is exactly one tokenize pass
    // plus index-probe-sized aggregation.
    // one shared token-array TREE (not two equal-looking trees whose
    // fresh lambda-variable ids defeat subexpression elimination)
    val tk = tokens(col(textCol))
    val verified = concat(lit(" "), array_join(tk, " "), lit(" "))
      .contains(s" $joined ")
    df.select(col(idCol).as("id"), verified.as("__ok"),
        explode(array_distinct(shingles(tk, n))).as("__s"))
      .filter(col("__s").isin(pShingles.map(lit): _*))
      .groupBy(col("id"))
      .agg(countDistinct(col("__s")).as("__hit"),
        first(col("__ok")).as("__ok"))
      .filter(col("__hit") === pShingles.length && col("__ok"))
      .select(col("id").as(idCol))
  }

  /** Deterministic TF-IDF document tags: the k most distinctive terms
    * per document (term count in doc × corpus idf, micro-nat
    * integers) — the offline fallback/baseline for an LLM tagger (the
    * reference's E6 enrichment generates tags by model call; this
    * produces comparable keyword tags from corpus statistics alone,
    * reproducibly). One explode + (doc, term) aggregate + vocabulary
    * idf equi-join + a per-doc window over the doc's own terms.
    */
  def tfidfTags(df: DataFrame, idCol: String, textCol: String,
                k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // corpus size rides as a broadcast single-row aggregate (the
    // termDriftTopK idiom) — no driver-side action at plan-build time
    val nRow = df.agg(count(lit(1)).as("__n"))
    val terms = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    val idf = df
      .select(explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nRow))
      .withColumn("__idf_micro",
        round(log((col("__n") + lit(1)).cast("double") /
          (col("__df") + lit(1)).cast("double")) * lit(1e6)).cast("long"))
    val tf = terms.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val w = Window.partitionBy(col("id"))
      .orderBy((col("__tf") * col("__idf_micro")).desc, col("term").asc)
    tf.join(idf.select(col("term"), col("__idf_micro")), Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"),
        col("__tf").as("tf"),
        (col("__tf") * col("__idf_micro")).as("score_micro"))
  }

  /** Stop-word discovery: terms whose document frequency exceeds
    * `dfShare` of the corpus, with their share of the raw TOKEN stream
    * — the data-driven stop list a retrieval/BM25 stack prunes (and
    * the prefix-filter join's Zipf head made visible). One distinct-
    * term aggregate + one occurrence aggregate + a broadcast totals
    * row.
    */
  def stopwordProfile(df: DataFrame, textCol: String,
                      dfShare: Double = 0.5): DataFrame = {
    require(dfShare > 0 && dfShare <= 1, "dfShare in (0, 1]")
    // the df gate is an explicit FLOOR on both engines: Spark's long
    // cast truncates but DuckDB's CAST(x AS BIGINT) rounds-to-nearest,
    // so a fractional dfShare·n (0.5 × odd corpus) would put the two
    // gates one apart and flip boundary terms. n itself rides as a
    // broadcast totals row — no driver-side action at plan-build.
    val nRow = df.agg(count(lit(1)).as("__nn"))
    val dfCounts = df
      .select(explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val occ = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_occurrences"))
    val tot = occ.agg(sum(col("n_occurrences")).as("__t"))
    dfCounts.crossJoin(broadcast(nRow))
      .filter(col("doc_freq") >= floor(lit(dfShare) * col("__nn")).cast("long"))
      .join(occ, Seq("term"))
      .crossJoin(broadcast(tot))
      .select(col("term"), col("doc_freq"), col("n_occurrences"),
        round(col("n_occurrences").cast("double") /
          col("__t").cast("double"), 6).as("stream_share"))
  }

  /** Heaps-law vocabulary growth curve: cumulative distinct terms vs
    * cumulative tokens at fixed doc-id checkpoints — sub-linear growth
    * is the healthy-corpus signature (a LINEAR curve means unbounded
    * novelty: boilerplate ids, hashes, or noise). Exact at scale
    * WITHOUT prefix re-scans: a term's first-occurrence doc
    * (min doc id per term) makes "distinct terms by checkpoint c" one
    * bounded comparison per term; token counts aggregate per doc once.
    * Cost: one term aggregate + one doc aggregate + a
    * |checkpoints|-row broadcast join.
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  checkpointEvery: Long): DataFrame = {
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val firstDoc = df
      .select(col(idCol).as("__id"), explode(array_distinct(
        tokens(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(min(col("__id")).as("__first"))
    val docToks = df.select(col(idCol).as("__id"),
      size(tokens(col(textCol))).cast("long").as("__nt"))
    // guard: sequence(a, b, step) with b < a throws in Spark where
    // DuckDB's range() returns empty — a corpus smaller than one
    // checkpoint interval must yield zero rows, not a runtime error
    val cps = df.agg(max(col(idCol)).as("__mx"))
      .select(explode(when(col("__mx") >= checkpointEvery,
        sequence(lit(checkpointEvery), col("__mx"), lit(checkpointEvery)))
        .otherwise(typedLit(Array.empty[Long]))).as("checkpoint"))
    val vocab = cps.join(firstDoc,
        col("__first") <= col("checkpoint"), "left")
      .groupBy(col("checkpoint"))
      .agg(count(col("term")).as("distinct_terms"))
    val toks = cps.join(docToks, col("__id") <= col("checkpoint"), "left")
      .groupBy(col("checkpoint"))
      .agg(coalesce(sum(col("__nt")), lit(0L)).as("total_tokens"))
    vocab.join(toks, "checkpoint")
  }

  /** Cluster labeling: the k most DISTINCTIVE terms per document
    * cluster — within-cluster term count × corpus idf (micro-nat
    * integers), ranked per cluster — the "what is this near-dup family
    * about?" summary a dedup report ships next to [[graft.pipeline.Dedup]]'s
    * clusters. One explode + one (cluster, term) aggregate + a
    * vocabulary-keyed idf equi-join + a per-cluster window over the
    * cluster's own terms.
    *
    * `clusters`: (id, component). Scoring: score = count ·
    * idf_micro, idf = ln((N+1)/(df+1)) quantized to integer
    * micro-nats; ties break lexicographically.
    */
  def clusterLabels(df: DataFrame, idCol: String, textCol: String,
                    clusters: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // the idf aggregate and the per-cluster counts both consume the
    // exploded term list; deliberately NOT barriered (r13): a cache()
    // here severs the stats under the idf join and demotes it from
    // broadcast to sort-merge (measured — plan went 8 Exchange/2 Window
    // to 10/3), and a checkpoint would run jobs at plan build (the r6
    // defect-class pin covers this function). The duplicated tokenize
    // is the cheaper side of that trade.
    val terms = df.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
    // corpus size rides as a broadcast single-row aggregate (the
    // tfidfTags idiom) — no driver-side action at plan-build time
    val nRow = df.agg(count(lit(1)).as("__n"))
    val idf = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nRow))
      .withColumn("__idf_micro",
        round(log((col("__n") + lit(1)).cast("double") /
          (col("__df") + lit(1)).cast("double")) * lit(1e6)).cast("long"))
    val ct = terms.join(clusters, Seq("id"))
      .groupBy(col("component"), col("term"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("component"))
      .orderBy((col("__c") * col("__idf_micro")).desc, col("term").asc)
    ct.join(idf.select(col("term"), col("__idf_micro")), Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("component"), col("rank"), col("term"),
        col("__c").as("n_docs"),
        (col("__c") * col("__idf_micro")).as("score_micro"))
  }

  /** Keyword-in-context (KWIC): every occurrence of an n-token phrase
    * with `window` tokens of context on each side — the snippet view
    * behind [[phraseSearch]]'s hit list (search result rendering, PII
    * review, dedup auditing). One posexplode over candidate docs'
    * token streams (candidates from the same index probe as
    * phraseSearch, so the scan never touches non-matching docs) and a
    * boundary-exact token-slice join.
    */
  def keywordInContext(df: DataFrame, idCol: String, textCol: String,
                       phrase: String, window: Int = 2,
                       n: Int = 3): DataFrame = {
    require(window >= 0, "window must be >= 0")
    val pTokens = phrase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val plen = pTokens.length
    val hits = phraseSearch(df, idCol, textCol, phrase, n)
    df.join(hits, Seq(idCol))
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("__tk"),
        posexplode(col("__tk")).as(Seq("__pos", "__t")))
      .filter(col("__t") === pTokens.head)
      .filter(
        array_join(slice(col("__tk"), col("__pos") + 1, lit(plen)), " ") ===
          pTokens.mkString(" "))
      .select(col(idCol), col("__pos").as("pos"),
        array_join(slice(col("__tk"),
          greatest(col("__pos") + 1 - window, lit(1)),
          when(col("__pos") + 1 - window < 1,
            col("__pos") + window + plen)
            .otherwise(lit(window * 2 + plen))), " ").as("context"))
  }

  /** Duplication profile: the histogram of exact-duplicate family
    * sizes — "how duplicated is this corpus?" in one table
    * (family_size → families, docs, share of corpus). Two hash
    * aggregates; the histogram is at most ⌈log-ish⌉ distinct sizes.
    */
  def duplicationProfile(df: DataFrame, textCol: String): DataFrame = {
    val fams = df.groupBy(md5(col(textCol)).as("__h"))
      .agg(count(lit(1)).as("family_size"))
    val tot = df.agg(count(lit(1)).as("__n"))
    fams.groupBy(col("family_size"))
      .agg(count(lit(1)).as("n_families"))
      .crossJoin(broadcast(tot))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_docs"),
        round((col("family_size") * col("n_families")).cast("double") /
          col("__n").cast("double"), 6).as("corpus_share"))
  }

  /** Boilerplate detector: the top-k word n-grams by cross-document
    * frequency (distinct documents containing the gram, df ≥ minDf) —
    * navigation chrome, license headers and template sentences surface
    * here long before they dominate a training mix (the C4/RefinedWeb
    * line-dedup motivation, shingle-shaped). Complements
    * [[spanDupStats]]: that asks "how much of each DOC is duplicated
    * span"; this names the GRAMS doing the duplicating. One explode
    * over per-doc DISTINCT shingles + one vocabulary-keyed count;
    * top-k is TakeOrderedAndProject, never a global sort. df is exact
    * integer; (df desc, gram asc) is a total order so the cut is
    * deterministic in both engines.
    */
  def boilerplateNgrams(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, minDf: Long = 2L,
                        topK: Int = 20): DataFrame = {
    require(n >= 1 && minDf >= 1 && topK >= 1,
      "n, minDf and topK must be >= 1")
    df.select(col(idCol).as("__id"),
        explode(array_distinct(shingles(tokens(col(textCol)), n)))
          .as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("gram").asc)
      .limit(topK)
  }

  /** Chi-square test of independence between two categorical columns —
    * [[mutualInformationCells]]'s hypothesis-testing twin (is the
    * dependence SIGNIFICANT, not just nonzero?). Per-cell terms are
    * (O·n − r·c)² / (r·c·n) computed from exact integer counts — the
    * square rides DECIMAL(38,0) (O·n reaches n² — past int64 at
    * cluster scale) — then quantized to integer micro so the cell SUM
    * is order-independent (a raw double Σ would be partition-
    * dependent). The sum runs over the FULL kx·ky grid: an EMPTY
    * cell's Pearson term (0−E)²/E = r·c/n is nonzero — and largest
    * exactly when dependence is strongest — so summing observed cells
    * only would understate χ² while dof still assumed the full grid.
    * The grid is marginal × marginal (category-count-sized, never
    * data-sized). Output: one row (n, n_cells, dof, chi2_micro) with
    * n_cells = kx·ky.
    */
  def chiSquare(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // NULL categories are excluded up front: a NULL cell can never
    // match the (x, y) equi-join below, so it would inflate the
    // marginals and n while its observed count read as 0, skewing
    // every expected term (ADVICE r6)
    val d0 = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val cells = d0.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("__o"))
    val mx = d0.groupBy(col(xCol)).agg(count(lit(1)).as("__cx"))
    val my = d0.groupBy(col(yCol)).agg(count(lit(1)).as("__cy"))
    val tot = d0.agg(count(lit(1)).as("__n"))
    val nx = mx.agg(count(lit(1)).as("__kx"))
    val ny = my.agg(count(lit(1)).as("__ky"))
    mx.crossJoin(broadcast(my))
      .join(cells, Seq(xCol, yCol), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__d",
        col("__o").cast("decimal(38,0)") * col("__n") -
          col("__cx").cast("decimal(38,0)") * col("__cy"))
      .withColumn("__term_micro",
        round((col("__d") * col("__d")).cast("double") /
          (col("__cx").cast("double") * col("__cy").cast("double")) /
          col("__n").cast("double") * lit(1e6)).cast("long"))
      .agg(max(col("__n")).as("n"), count(lit(1)).as("n_cells"),
        sum(col("__term_micro")).as("chi2_micro"))
      .crossJoin(broadcast(nx)).crossJoin(broadcast(ny))
      .select(col("n"), col("n_cells"),
        ((col("__kx") - 1) * (col("__ky") - 1)).as("dof"),
        col("chi2_micro"))
  }

  /** Collocation mining: top-k adjacent-token bigrams by PMI — the
    * classic multi-word-expression detector ("new york", "machine
    * learning") used to audit tokenizer merges and build phrase
    * vocabularies. All probabilities come from the BIGRAM stream
    * (c_x = bigrams with first token x, c_y = second token y, N =
    * total bigrams) so the estimate is self-consistent;
    * pmi_nano = round(ln(c_xy·N / (c_x·c_y))·10⁹) with the
    * [[termDriftTopK]] operand-order discipline. `minCount` guards the
    * low-frequency PMI explosion (hapax pairs score arbitrarily high).
    *
    * Scale: one explode + three vocabulary-keyed aggregates + two
    * vocabulary equi-joins + one broadcast total; top-k is
    * TakeOrderedAndProject.
    */
  def collocationsTopK(df: DataFrame, textCol: String, minCount: Long,
                       topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be >= 1")
    val bi = df.select(tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
          |  (a, b) -> named_struct('x', a, 'y', b))""".stripMargin)).as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
    val cxy = bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
    val cx = bi.groupBy(col("x")).agg(count(lit(1)).as("__cx"))
    val cy = bi.groupBy(col("y")).agg(count(lit(1)).as("__cy"))
    val tot = bi.agg(count(lit(1)).as("__n"))
    cxy.filter(col("c_xy") >= minCount)
      .join(cx, Seq("x")).join(cy, Seq("y"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi_nano",
        round(log((col("c_xy") * col("__n")).cast("double") /
          (col("__cx") * col("__cy")).cast("double")) * lit(1e9))
          .cast("long"))
      .orderBy(col("pmi_nano").desc, col("x").asc, col("y").asc)
      .limit(topK)
      .select(col("x"), col("y"), col("c_xy"), col("pmi_nano"))
  }

  /** Skip-gram co-occurrence counts (the GloVe / word2vec count
    * table): for every token position, the ordered (center, context)
    * pairs within a forward window of `window` positions, aggregated
    * to (w_a, w_b, n_pairs) and gated by `minCount`. Forward-only
    * pairs keep every unordered co-occurrence counted exactly once at
    * each distance (the symmetric table is the union with the swap —
    * a reader's one-line derivation, not a second scan).
    *
    * Shape: pairs are built MAP-SIDE — per offset k one
    * `zip_with(slice(tk, 1, n−k), slice(tk, 1+k, n−k), pair)` (the
    * [[collocationsTopK]] bigram idiom generalized to a window), the
    * `window` branch arrays concatenated and exploded in place — so
    * the corpus is scanned ONCE, there is no join at all, and the
    * single shuffle is the final (w_a, w_b) count. Vocabulary² never
    * materializes, only observed pairs. At 100 TB: token-count ×
    * window rows through one keyed aggregate, linear in corpus size.
    */
  def skipgramCooccurrence(df: DataFrame, textCol: String,
                           window: Int = 2, minCount: Long = 1): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val branches = (1 to window).map { k =>
      expr(
        s"""zip_with(slice(__tk, 1, greatest(size(__tk) - $k, 0)),
           |  slice(__tk, ${k + 1}, greatest(size(__tk) - $k, 0)),
           |  (a, b) -> named_struct('x', a, 'y', b))""".stripMargin)
    }
    df.select(tokens(col(textCol)).as("__tk"))
      .select(explode(concat(branches: _*)).as("__b"))
      .groupBy(col("__b.x").as("w_a"), col("__b.y").as("w_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)
  }

  /** Pointwise mutual-information cells between two categorical
    * columns — the feature-association / corpus-composition profile
    * (is `lang` independent of `source`? which cells drive the
    * dependence?). Per cell: count and the MI contribution
    * p(x,y)·ln(p(x,y)/(p(x)p(y))), quantized to integer nano-nats with
    * the [[termDriftTopK]] operand-order discipline so the oracle
    * replays it bit-exactly; Σ mi_nano over cells ≈ the MI of the pair.
    *
    * Scale notes: one |X|·|Y|-cell aggregate + two marginal aggregates
    * (all map-side-combining) + one single-row broadcast total; the
    * marginal joins broadcast when the domains are small (always, for
    * real categorical columns).
    */
  def mutualInformationCells(df: DataFrame, xCol: String,
                             yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("c_xy"))
    val mx = df.groupBy(col(xCol)).agg(count(lit(1)).as("__cx"))
    val my = df.groupBy(col(yCol)).agg(count(lit(1)).as("__cy"))
    val tot = df.agg(count(lit(1)).as("__n"))
    cells
      .join(broadcast(mx), Seq(xCol))
      .join(broadcast(my), Seq(yCol))
      .crossJoin(broadcast(tot))
      .withColumn("mi_nano",
        round((col("c_xy").cast("double") / col("__n").cast("double")) *
          log((col("c_xy") * col("__n")).cast("double") /
            (col("__cx") * col("__cy")).cast("double")) *
          lit(1e9)).cast("long"))
      .select(col(xCol), col(yCol), col("c_xy"), col("mi_nano"))
  }

  def termDriftTopK(df: DataFrame, textCol: String, slicePred: Column,
                    topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val terms = df.select(slicePred.as("__a"),
      explode(tokens(col(textCol))).as("term"))
    val counts = terms.groupBy(col("term")).agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("c_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("c_b"))
    val tot = counts.agg(sum(col("c_a")).as("__na"),
      sum(col("c_b")).as("__nb"), count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(tot))
      .withColumn("drift_nano",
        round(((col("c_a") + 1).cast("double") /
            (col("__na") + col("__v")).cast("double")) *
          log(((col("c_a") + 1) * (col("__nb") + col("__v"))).cast("double") /
            ((col("c_b") + 1) * (col("__na") + col("__v"))).cast("double")) *
          lit(1e9)).cast("long"))
      .orderBy(col("drift_nano").desc, col("term").asc)
      .limit(topK)
      .select("term", "c_a", "c_b", "drift_nano")
  }

  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxDf: Long = Long.MaxValue): DataFrame = {
    // every downstream shuffle key and comparison (tf aggregate, df
    // aggregate, the inverted-index self-join) is the term — hashing
    // the shingle string to its 60-bit md5 fold up front replaces
    // ~30-byte string keys with 8-byte longs (10× smoke: wall 24.4 s →
    // 12.9 s; shuffle 561 → 464 MB — the dot-product pair aggregate,
    // keyed by (id_a, id_b), dominates what remains). A fold collision
    // merges two shingles identically in both engines (the oracle
    // replays the same fold), so results stay hash-exact; at ~10⁹-term
    // vocabularies collisions are rare enough (birthday ~0.4 events)
    // to be quality-neutral.
    val terms = df.select(col(idCol).as("id"),
        explode(shingles(tokens(col(textCol)), n)).as("__t"))
      .select(col("id"),
        conv(substring(md5(col("__t")), 1, 15), 16, 10).cast("long")
          .as("term"))
    val tf = terms.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") <= maxDf)
    val total = df.agg(count(lit(1)).as("n_docs"))
    // w = tf · round(ln((N+1)/(df+1))·1e6): exact BIGINT per coordinate
    val weighted = tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("w", col("tf") *
        round(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) * lit(1e6))
          .cast("long"))
      .select("id", "term", "w")
      .localCheckpoint()
    val norms = weighted.groupBy(col("id"))
      .agg(sum((col("w") * col("w")).cast("decimal(38,0)")).as("norm2"))
    // normalized coordinate in 1e6 integer units. Lazy plan barrier
    // (r13, guide §3/§5): both sides of the inverted-index self-join
    // below are THIS table under different aliases, and the differing
    // exprIds defeat ReuseExchange — without the barrier the
    // norm-aggregate + join subtree executed twice. Lazy, so plan
    // build stays job-free (the PlanBuildJobsSpec invariant).
    val q = weighted.join(norms, "id")
      .select(col("id"), col("term"),
        round(col("w").cast("double") / sqrt(col("norm2").cast("double"))
          * lit(1e6)).cast("long").as("q"))
      .localCheckpoint(eager = false)
    val dots = q.select(col("id").as("id_a"), col("term"), col("q").as("qa"))
      .join(q.select(col("id").as("id_b"), col("term"), col("q").as("qb")),
        "term")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum((col("qa") * col("qb")).cast("decimal(38,0)")).as("dot"))
    dots
      .withColumn("cos", round(col("dot").cast("double") / lit(1e12), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
