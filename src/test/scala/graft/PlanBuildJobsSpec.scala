package graft

/** Closes the recurring "eager driver action at plan-build time" defect
  * class (r5: tfidfTags, r6: clusterLabels — the same idiom two
  * functions apart). Building a query's DataFrame must not RUN anything:
  * an eager `df.count()`/`collect()` in an operator body executes a
  * full scan before the caller ever asks for a row, once per plan
  * build, outside the optimizer's view. This spec constructs every
  * driver-contract plan under a listener and asserts ZERO Spark jobs
  * run at plan-build time outside an explicit allowlist naming each
  * query's DOCUMENTED eager seam — iterative convergence loops (the
  * rounds ARE the algorithm), `localCheckpoint` reuse barriers (eager
  * by design so a shared expensive input materializes once), and the
  * bounded scalar probes (Dedup's scale switch, Stats' histogram
  * bounds / quantile edges).
  *
  * Attribution is race-free under sbt's parallel suites: each plan
  * build runs inside a thread-local job group (`pbq-<name>`) measured by
  * [[SparkWork]], so only jobs submitted BY that build are counted, and
  * its sentinel-job barrier orders the listener bus before the count is
  * read.
  */
class PlanBuildJobsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** query → its documented eager seam. Anything NOT here must build
    * its plan without a single job. Grep anchors: Components loop
    * (`graph/Components.scala`), PageRank/HITS/LPA/SSSP/k-core/BFS/walk
    * loops (`graph/`), the Lloyd kernel behind k-means and the PQ
    * codebook fit (`SimilarityOps.lloyd`),
    * BPE training (`pipeline/Bpe.scala:108`), Dedup scale switch
    * (`pipeline/Dedup.scala:421`) and selection checkpoint
    * (`Dedup.scala:91`), Stats histogram bounds / quantile edges
    * (`pipeline/Stats.scala:44,222`), and the per-query
    * `localCheckpoint` reuse barriers in the packs.
    */
  private val allow: Map[String, String] = Map(
    // connected-components round loops (+ consumers of a CC input)
    "q37_connected_components" -> "Components loop",
    "q38_cluster_sizes" -> "Components loop",
    "q39_neardup_clusters" -> "Components loop",
    "q73_cluster_members" -> "Components loop",
    "q74_lsh_components" -> "Components loop",
    "q238_family_histogram" -> "Components loop",
    "q202_incremental_cc" -> "Components loop",
    "q224_partition_quality" -> "Components loop + checkpoint",
    "q227_cluster_evolution" -> "Components loop + checkpoint",
    "q180_group_split" -> "Components loop over LSH edges",
    "q230_split_leakage" -> "Components loop + edge checkpoint",
    "q212_cluster_labels" -> "Components loop over ngram pairs",
    "q144_entity_resolution" -> "FastSS checkpoint + Components loop",
    "q199_golden_record" -> "FastSS checkpoint + Components loop",
    "q200_curation_decisions" -> "ngram pairs + Components loop",
    "q215_quality_keepers" -> "ngram pairs + Components loop",
    "q194_graph_features" -> "PageRank + Components loops",
    // other iterative graph/clustering loops
    "q98_pagerank" -> "PageRank loop",
    "q103_pagerank_weighted" -> "PageRank loop",
    "q108_personalized_pagerank" -> "PageRank loop",
    "q178_hits" -> "HITS loop",
    "q122_label_propagation" -> "LPA round loop",
    "q147_sssp" -> "SSSP frontier loop",
    "q135_kcore" -> "k-core peel loop",
    "q104_bfs_hops" -> "BFS frontier loop",
    "q150_walks" -> "random-walk step loop",
    "q118_kmeans_fit" -> "Lloyd kernel: seed collect + one job per round",
    "q155_mutual_knn" -> "kNN edge checkpoint",
    "q217_ann_recall" -> "exact top-k localCheckpoint (annRecall)",
    "q247_ivfpq_recall" -> "exact top-k localCheckpoint (q217's sibling)",
    "q250_ivfpq_nprobe" -> "exact top-k + scored-candidate localCheckpoint",
    "q251_ivfpq_residual" ->
      "raw + residual ladders: exact top-k + scored-candidate localCheckpoints",
    "q256_ivfpq_trained" ->
      ("q251's checkpoints + the trained arm's two Lloyd kernel fits " +
        "(kmeansCentroids, pqCodebookFit: a seed collect and one job " +
        "per round each; the models are local relations)"),
    // BPE merge training
    "q158_bpe_merges" -> "BPE merge loop",
    "q163_bpe_vocab" -> "BPE merge loop",
    "q185_bpe_encode" -> "BPE merge loop",
    "q232_tokenizer_fertility" -> "BPE merge loop",
    // bounded scalar probes + selection checkpoints in dedup/text ops
    "q42_ngram_jaccard_pairs" -> "Dedup scale-switch scalar",
    "q255_simhash_auto" ->
      ("simhashPairsAuto width probe: ONE count() sizes the chunk keys " +
        "from n (the naturalBits policy) — documented in its scaladoc"),
    "q166_winnowing" -> "Dedup selection checkpoint",
    "q188_sorted_neighborhood" -> "Dedup selection checkpoint",
    "q190_jaro_winkler" -> "Dedup selection checkpoint",
    "q146_tfidf_cosine" -> "doc-vector checkpoint (Corpus:933)",
    // Stats histogram bounds (min/max/count head) + quantile edges
    "q95_hist_quantiles" -> "Stats histogram bounds",
    "q132_quantile_bins" -> "Stats histogram bounds + edges",
    "q154_winsorize" -> "Stats histogram bounds + edges",
    "q171_rfm" -> "Stats histogram bounds + edges",
    "q96_zorder_layout" ->
      ("ZOrder global row number (Components.withGlobalRowNumber: " +
        "range-sort sample + zipWithIndex offsets, ZOrder.scala:57)"),
    "q123_dsir_resample" -> "Stats quantile edges + checkpoint",
    // localCheckpoint reuse barriers in event analytics / sketches
    "q161_kmv_setops" -> "sketch checkpoint (EventsPack:355)",
    "q189_autocorr" -> "series checkpoint (EventAnalytics:874)",
    "q197_period_changes" -> "period checkpoint (EventAnalytics:785)",
    "q210_linear_attribution" -> "touch checkpoint (EventAnalytics:702)",
    "q126_funnel" -> "touch checkpoint (EventAnalytics:702)",
    // graph feature tables over a checkpointed LSH edge set
    "q134_clustering_coef" -> "adjacency checkpoint (Affinity:53)",
    "q145_copurchase" -> "adjacency checkpoint (Affinity:53)",
    "q226_assortativity" -> "edge checkpoint (Traversals:311)",
    "q101_incremental_lsh" -> "band-probe checkpoint (Dedup:596)",
    "q221_minhash_accuracy" -> "pair checkpoint (Dedup:249)",
    // the corpus-postings barrier is localCheckpoint(eager = false) —
    // LAZY by intent, but under AQE even a lazy checkpoint materializes
    // its intermediate shuffle stages at build (AdaptiveSparkPlanExec
    // resolves the final plan to hand the checkpoint its RDD). The
    // barrier must stay a checkpoint (not cache) because its purpose is
    // severing AQE's pre-explode size estimate (r12: the unbarriered
    // join broadcast the exploded postings and rebuilt the pipeline in
    // one task). Latent before r13: the async stage submission raced
    // this spec's per-query snapshot, so the count was only sometimes
    // observed.
    "q92_incremental_dedup" ->
      "corpus postings checkpoint (Dedup crossCorpusDedup)",
  )

  /** Exact plan-build job counts of the graph-loop and Lloyd queries at
    * sf0.001 (an allowlisted query is otherwise only held to "n > 0"): a
    * loop round that gains a Spark action changes its count and fails
    * here.
    */
  private val exactJobs: Map[String, Int] = Map(
    "q37_connected_components" -> 6,
    "q38_cluster_sizes" -> 9,
    "q98_pagerank" -> 11,
    "q103_pagerank_weighted" -> 11,
    "q108_personalized_pagerank" -> 11,
    "q178_hits" -> 12,
    "q122_label_propagation" -> 6,
    "q147_sssp" -> 11,
    "q135_kcore" -> 6,
    "q104_bfs_hops" -> 13,
    "q150_walks" -> 7,
    "q224_partition_quality" -> 10,
    // the AQE job of the spread embeddings shuffle, the seed collect and
    // one job per round (iters = 2)
    "q118_kmeans_fit" -> 4,
  )

  test("plan build runs zero jobs outside the documented allowlist") {
    Graft.install(spark)
    val sc = spark.sparkContext
    // pre-warm the Tables memo: the FIRST touch of each parquet table
    // runs one footer/schema-inference job plus the spread probe —
    // one-time IO setup, memoized per session, not operator behavior
    Tables.all.foreach(t => Tables(spark, sf, t))
    val work = new SparkWork(sc)
    try {
      val counts = SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) =>
          // plan build ONLY — no action on the result
          name -> work.measure(s"pbq-$name")(fn(spark, sf))._3.jobs
      }
      val offenders = counts.filter { case (name, n) =>
        n > 0 && !allow.contains(name)
      }
      assert(offenders.isEmpty,
        s"plan-build Spark jobs outside the allowlist: $offenders — an " +
          "operator is running an eager driver action (count/collect) " +
          "while its DataFrame is being CONSTRUCTED; fold the scalar " +
          "into a broadcast single-row aggregate (the tfidfTags idiom), " +
          "or add the query here ONLY with a documented seam")
      val inexact = counts.collect {
        case (name, n) if exactJobs.get(name).exists(_ != n) =>
          s"$name: $n (expected ${exactJobs(name)})"
      }
      assert(inexact.isEmpty,
        s"loop plan-build job counts moved: $inexact — a loop round " +
          "gained or lost a Spark action")
    } finally work.close()
  }

  /** Unit-level pins for the two fixed operators: on in-memory inputs
    * (LocalRelation — no IO jobs possible) their plan build must run
    * NOTHING. The contract queries wrapping them ride allowlisted CC
    * inputs, so only a unit test can pin the operator itself.
    */
  test("tfidfTags and clusterLabels build their plans with zero jobs") {
    import spark.implicits._
    val work = new SparkWork(spark.sparkContext)
    try {
      val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"),
        (3L, "epsilon zeta")).toDF("doc_id", "text")
      val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L))
        .toDF("id", "component")
      val (_, _, unit) = work.measure("pbu-unit") {
        graft.pipeline.Corpus.tfidfTags(docs, "doc_id", "text", 3)
        graft.pipeline.Corpus.clusterLabels(docs, "doc_id", "text",
          clusters, 3)
      }
      assert(unit.jobs == 0,
        "tfidfTags/clusterLabels ran a job during plan build — the " +
          "eager corpus count is back (r5/r6 finding)")
    } finally work.close()
  }
}
