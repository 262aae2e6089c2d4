package graft.tools

import org.apache.spark.sql.functions._
import graft.SparkWork

/** Opt-in scale smoke (not part of the driver contract): runs the eight
  * pipelines the 100 TB claim rests on — q74's LSH candidate graph →
  * connected components, q98's integer PageRank, q118's 2-round Lloyd
  * k-means fit, q122's 2-round label propagation, q92/q101's
  * incremental batch-vs-corpus dedup, q113's PQ ADC search (code-only
  * scan + broadcast LUT), and q114's Bloom decontamination
  * (constant-size broadcast filter) — on GENERATED tables `copies`× the sf0.1 data,
  * recording wall time, per-stage shuffle bytes, and peak task memory.
  * Evidence that the loops scale as designed rather than just
  * asserting it.
  *
  * The replicas use deterministic per-copy perturbations (id offset +
  * small element-wise delta for vectors; verbatim text for documents —
  * the crawl-corpus duplication pattern), so neighbor structure is
  * preserved without creating degenerate identical-vector megaclusters.
  *
  * The one knob that MUST grow with the data is the LSH band-key space:
  * a fixed 4-bit key (16 buckets/band, right for 2k vectors) would put
  * n/16 vectors in every bucket and the candidate set grows O(n²/16).
  * The smoke sizes bitsPerBand so expected bucket occupancy stays
  * ~constant (≈500), exactly what a production deployment does —
  * candidate volume then grows ~linearly with n.
  *
  * Two replica modes separate WORKLOAD growth from ENGINE scaling:
  *   - `dense` (default): per-copy element perturbation keeps every
  *     copy within LSH threshold of its source, so each vector gains
  *     ~`copies` near-twins — the verified edge set grows
  *     ~quadratically in `copies`. A worst-case densification stress.
  *   - `constant`: each copy multiplies its vectors elementwise by a
  *     deterministic per-copy ±1 (Rademacher) pattern. A common sign
  *     pattern cancels in every inner product, so WITHIN-copy cosines
  *     equal the base corpus's exactly, while CROSS-copy cosines
  *     decorrelate to ~N(0, 1/√dim) — far below the 0.4 threshold at
  *     dim 64. Graph degree stays constant as n grows: the curve in
  *     this mode is the engine's own scaling, not the workload's.
  *
  * Usage: tools/scale_smoke.sh [sfDir] [copies] [mode] [only] [bits]
  *   copies=10  → ~sf1-equivalent  (20k vectors)
  *   copies=100 → ~sf10-equivalent (200k vectors, ~6M corpus shingle rows)
  *   mode = dense | constant (writes artifacts/scale_smoke.json /
  *     artifacts/scale_smoke_constant.json; constant at copies≠100 stamps the
  *     multiplier into the name, e.g. scale_smoke_constant_1000x.json)
  *   only = optional comma list of sections (cc,pagerank,kmeans,lpa,
  *     dedup,pq_adc,ivfpq,bloom,editdist,tfidfcos,curation,
  *     contamination,binarydedup,simhash) — a deep soak at 1000× runs
  *     just the dominant pipelines instead of all fourteen
  *   bits = optional bitsPerBand OVERRIDE for the LSH band key. The
  *     default sizes the key space to n (constant bucket occupancy —
  *     what production does), but a cross-decade shuffle-ratio
  *     comparison needs both points at the SAME width: the r6 soak's
  *     300× point (11 bits) vs 1000× point (12 bits) left the CC curve
  *     ambiguous. Overridden runs stamp `_b<bits>` into the filename
  *     so they never clobber the natural-width artifacts.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val mode = args.drop(2).headOption.getOrElse("dense")
    require(mode == "dense" || mode == "constant", s"unknown mode $mode")
    val SectionNames = Set("cc", "pagerank", "kmeans", "lpa", "dedup",
      "pq_adc", "ivfpq", "bloom", "editdist", "tfidfcos", "curation",
      "contamination", "binarydedup", "simhash", "simhashwide")
    // "all" = run every section (the explicit spelling lets the shell
    // pass a bits override without the positional slot shifting)
    val only: Set[String] = args.drop(3).headOption
      .filter(_ != "all")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val bitsOverride: Option[Int] = args.drop(4).headOption.map(_.toInt)
    // band keys ride the multi-word signature (r12), so widths past the
    // old one-long 63/bands cap are legal; 40 is still far beyond any
    // occupancy the soak ladder needs
    bitsOverride.foreach(b => require(b >= 4 && b <= 40,
      s"bits override $b outside the sane band-key range [4,40]"))
    // a typo'd section name must fail HERE, not silently disable every
    // section and waste an hours-long soak window
    val unknown = only -- SectionNames
    require(unknown.isEmpty,
      s"unknown sections $unknown — valid: ${SectionNames.toSeq.sorted.mkString(",")}")
    def enabled(name: String): Boolean = only.isEmpty || only(name)
    val spark = graft.Graft.localSession(32)

    val work = new SparkWork(spark.sparkContext)

    val vectorSections =
      Seq("cc", "pagerank", "kmeans", "lpa", "pq_adc", "ivfpq")
        .exists(enabled)
    val base = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n0 = if (vectorSections) base.count() else 0L
    // deterministic copies: copy c shifts ids by c*n0 and perturbs
    // element i by ((i*31 + c*17) % 7 - 3) * 0.002 — neighborhoods
    // survive, copies stay distinct
    lazy val embN = (0 until copies).map { c =>
      val shiftedId = (col("vec_id") + lit(c.toLong * n0)).as("vec_id")
      val replica =
        if (mode == "constant")
          // Rademacher sign per (element, copy) via Murmur3: common
          // within a copy (inner products unchanged), decorrelated
          // across copies (cross cosines ~N(0, 1/sqrt(dim)))
          transform(col("embedding"), (x, i) =>
            (x * when(pmod(hash(i, lit(c)), lit(2)) === 0, 1.0f).otherwise(-1.0f))
              .cast("float"))
        else
          transform(col("embedding"),
            (x, i) => (x + ((i * 31 + lit(c * 17)) % 7 - 3).cast("float") * 0.002f)
              .cast("float"))
      base.select(shiftedId, replica.as("embedding"))
    }.reduce(_ unionAll _).cache()
    val n = if (vectorSections) embN.count() else 0L

    // size the band-key space to the data: ~500 vectors per bucket per
    // band keeps the verify join linear in n (see scaladoc). The policy
    // itself lives in SimilarityOps.naturalBits (r10 order #2) so
    // operators share it instead of hard-coding widths.
    val bitsPerBand = bitsOverride.getOrElse(
      graft.similarity.SimilarityOps.naturalBits(n))

    val fields = scala.collection.mutable.ListBuffer[String]()

    // flush measured sections to a .partial sidecar as they complete:
    // an hours-long soak that dies in section 8 (heap, host eviction)
    // must not lose sections 1-7 — the r7 all-sections 1000x run
    // OOM'd in the corpus half and left NOTHING of the 2h vector half
    def flushPartial(outFile: String): Unit = {
      val json =
        s"""{"metric":"scale_smoke_partial","sf_dir":"$sfDir","mode":"$mode","copies":$copies,""" +
          s""""bits_per_band":$bitsPerBand,""" +
          fields.map(_ + ",").mkString.dropRight(1) + "}"
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile + ".partial"),
        (json + "\n").getBytes("UTF-8"))
    }

    // partial runs get their sections stamped into the NAME so they can
    // never clobber the canonical all-sections artifact for that scale
    val suffix =
      (if (only.isEmpty) "" else "_" + only.toSeq.sorted.mkString("_")) +
        bitsOverride.fold("")(b => s"_b$b")
    val outFile = "artifacts/" + (
      if (mode == "constant" && copies != 100)
        s"scale_smoke_constant_${copies}x$suffix.json"
      else if (mode == "constant") s"scale_smoke_constant$suffix.json"
      else s"scale_smoke$suffix.json")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("artifacts"))

    // each section runs in its own job group; the run totals add every
    // section's work to the ungrouped set-up work (replica builds, counts)
    var sectionsWork = SparkWork.Work()
    def measure[A](section: String)(f: => A): (A, Double, SparkWork.Work) = {
      val r = work.measure(section)(f)
      sectionsWork += r._3
      r
    }
    // full-materialization forcing for report/decision-table plans:
    // `df.count()` lets Catalyst ELIMINATE cardinality-preserving outer
    // joins (build side with unique keys — every aggregate/distinct on
    // the join key), so the r6/r7 dedup section and curation's near-dup
    // branch measured PRUNED plans. toRdd executes the query's own
    // physical plan with every output column, like the gate's parquet
    // dump, and counts rows without collecting them.
    def forceAll(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    // --- q74 shape: LSH candidate edges → RDD pointer-jumping CC.
    // Fixed-point adequacy is MEASURED, not assumed (r5 verdict): after
    // convergence every candidate edge must connect same-labeled
    // vertices — a nonzero violation count means the loop stopped short
    // and the run fails loudly ---
    if (enabled("cc")) {
      val ((ccRows, ccViol, ccRounds), ccSec, ccW) = measure("cc") {
        val pairs = graft.similarity.SimilarityOps.lshCandidatePairs(
            embN, "vec_id", "embedding", threshold = 0.4,
            bands = 3, bitsPerBand = bitsPerBand)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint() // CC and the fixed-point audit both read it
        // rounds are part of the record: total CC shuffle is
        // (rounds × linear label exchange) + candidate join, and
        // rounds grow O(log diameter) across decades — a cross-decade
        // byte ratio is only interpretable per round
        val (labels0, rounds) = graft.graph.Components
          .connectedComponentsFastCounted(embN.select("vec_id"), pairs)
        val labels = labels0.localCheckpoint()
        val rows = labels.count()
        val viol = pairs
          .join(labels.select(col("id").as("id_a"),
            col("component").as("__la")), Seq("id_a"))
          .join(labels.select(col("id").as("id_b"),
            col("component").as("__lb")), Seq("id_b"))
          .filter(col("__la") =!= col("__lb")).count()
        (rows, viol, rounds)
      }
      require(ccViol == 0L,
        s"CC did NOT reach a fixed point: $ccViol cross-component edges")
      fields += s""""cc_rows":$ccRows,"cc_label_violations":$ccViol,"cc_rounds":$ccRounds,"cc_sec":${f"$ccSec%.2f"},"cc_shuffle_bytes":${ccW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q98 shape: 3-iteration integer PageRank over the same graph ---
    if (enabled("pagerank")) {
      val (prRows, prSec, prW) = measure("pagerank") {
      val pairs = graft.similarity.SimilarityOps.lshCandidatePairs(
        embN, "vec_id", "embedding", threshold = 0.4,
        bands = 3, bitsPerBand = bitsPerBand)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint() // candidate pipeline runs once (r5 query fix)
      val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      // default 1e12 scale caps at ~9e4 vertices; micro-unit scale has
      // overflow headroom to ~9e10 (see PageRank scaladoc)
        graft.graph.PageRank.run(embN.select("vec_id"), sym.toDF("src", "dst"),
          iters = 3, scale = 1000000L).count()
      }
      fields += s""""pagerank_rows":$prRows,"pagerank_sec":${f"$prSec%.2f"},"pagerank_shuffle_bytes":${prW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q118 shape: 2-round Lloyd k-means fit on the shared Lloyd
    // kernel. The points are persisted once; each round is one
    // treeAggregate of per-centroid sums and counts against the
    // broadcast k×d model, so a round moves k×d partial sums, never
    // vectors — cost linear in n, model size constant ---
    if (enabled("kmeans")) {
      val (kmRows, kmSec, kmW) = measure("kmeans") {
        graft.similarity.SimilarityOps.kmeansFit(
          embN, "vec_id", "embedding", k = 256, iters = 2).count()
      }
      fields += s""""kmeans_rows":$kmRows,"kmeans_sec":${f"$kmSec%.2f"},"kmeans_shuffle_bytes":${kmW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q122 shape: 2-round synchronous label propagation over the
    // LSH graph — per round one neighbor-label equi-join + the
    // packed-argmax HashAggregate; the loop shuffle carries only
    // (id, label) pairs ---
    if (enabled("lpa")) {
      val (lpRows, lpSec, lpW) = measure("lpa") {
        val pairs = graft.similarity.SimilarityOps.lshCandidatePairs(
          embN, "vec_id", "embedding", threshold = 0.4,
          bands = 3, bitsPerBand = bitsPerBand)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
        val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
        graft.graph.Components.labelPropagation(
          embN.select(col("vec_id").as("id")), sym.toDF("src", "dst"),
          iters = 2).count()
      }
      fields += s""""lpa_rows":$lpRows,"lpa_sec":${f"$lpSec%.2f"},"lpa_shuffle_bytes":${lpW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q92/q101 shape: incremental batch-vs-corpus dedup. Corpus =
    // copies× documents replicated VERBATIM under shifted ids (the crawl
    // duplication pattern: every batch doc has `copies` exact twins);
    // batch = one near-dup copy (one token appended, so the MinHash band
    // probe must do real work, not just the md5 exact gate) ---
    val corpusSections =
      Seq("dedup", "bloom", "editdist", "tfidfcos", "curation",
        "contamination", "binarydedup", "simhash", "simhashwide")
        .exists(enabled)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val d0 = if (corpusSections) docs.count() else 0L
    lazy val corpusN = (0 until copies).map { c =>
      docs.select((col("doc_id") + lit(c.toLong * d0)).as("doc_id"), col("text"))
    }.reduce(_ unionAll _).cache()
    // the replicated corpus size is copies×d0 by construction — record
    // it whenever ANY corpus section ran (a tfidfcos-only run must not
    // stamp 0 docs into the scaling-curve record); the count() below is
    // only the cache materialization for the sections that reuse corpusN
    val nCorpus = if (corpusSections) copies.toLong * d0 else 0L
    if (enabled("dedup") || enabled("bloom")) corpusN.count()
    lazy val batch = docs.select(
      (col("doc_id") + lit(copies.toLong * d0)).as("doc_id"),
      concat(col("text"), lit(" smokebatch")).as("text"))
    if (enabled("dedup")) {
      val (ddRows, ddSec, ddW) = measure("dedup") {
        forceAll(graft.pipeline.Dedup.crossCorpusDedupLsh(
          corpusN, batch, "doc_id", "text"))
      }
      fields += s""""dedup_rows":$ddRows,"dedup_sec":${f"$ddSec%.2f"},"dedup_shuffle_bytes":${ddW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q48 shape: SimHash chunk-blocked near-dup pairs at the
    // naturalBits-derived width (r10 order sheet #2 — the old fixed
    // 24-bit sketch had 64-value chunk keys and went quadratic at
    // sf0.1). Corpus: per-copy LETTER-ROTATED replicas — within a copy
    // every token is rotated the same way, so within-copy sketch
    // relations (incl. the base corpus's natural near-dups) are
    // preserved exactly, while cross-copy token hashes decorrelate —
    // the text analogue of the vector sections' Rademacher replicas
    // (verbatim twins would make the OUTPUT quadratic by construction
    // and measure the workload, not the blocking). Candidates =
    // Σ_buckets C(n_b, 2) via one aggregate — the same fan-out count
    // the since-deleted EdgeProbe/BlobProbe took (artifacts/edge_probe*.json,
    // artifacts/blob_probe*.json) — and must stay ~n × occupancy across
    // the decade; pairs is the operator's real output ---
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    val digits = "0123456789"
    def rot(s: String, k: Int): String =
      s.drop(k % s.length) + s.take(k % s.length)
    // transform keyspace (r11 ADVICE): lower/upper/digit rotations keyed
    // by INDEPENDENT digits of c (c%26, (c/26)%26, (c/676)%10) give
    // 26×26×10 = 6,760 distinct transforms — no two copies share one at
    // any soak scale this engine runs (the old k1=(c*7+3)%26,
    // k2=(c/26)%10 pair repeated every 260 copies, so a 1000× run had
    // ~740 verbatim twin corpora inflating output pairs superlinearly);
    // the c/6760 salt token is the backstop beyond that
    lazy val corpusSim = (0 until copies).map { c =>
      val k1 = (c * 7 + 3) % 26
      val k3 = ((c / 26) * 11 + 5) % 26
      val k2 = (c / 676) % 10
      val rotated = translate(col("text"), lower + upper + digits,
        rot(lower, k1) + rot(upper, k3) + rot(digits, k2))
      docs.select((col("doc_id") + lit(c.toLong * d0)).as("doc_id"),
        (if (c / 6760 == 0) rotated
         else concat(rotated, lit(s" zsalt${c / 6760}"))).as("text"))
    }.reduce(_ unionAll _)
    // (the simhash/simhashwide sections run AFTER the vector half's
    // embN.unpersist — r11 ADVICE: an all-sections run at high copy
    // counts must not hold the replicated-vector cache and the sketch
    // cache simultaneously, the r7 OOM mechanism)

    // --- q113 shape: PQ ADC search over the replicated vectors. Codes
    // are 8×10-bit per vector vs 64 floats — the scan-side compression
    // an ANN index ships; the LUT is broadcast and the probe is an
    // equi-join on (sub, code) + integer sums, so cost is one pass over
    // codes regardless of dimensionality ---
    if (enabled("pq_adc")) {
      val (pqRows, pqSec, pqW) = measure("pq_adc") {
        graft.similarity.SimilarityOps.pqAdcTopK(
          embN, "vec_id", "embedding", queryId = 0L,
          m = 8, nCodes = 256, k = 10).count()
      }
      fields += s""""pq_adc_rows":$pqRows,"pq_adc_sec":${f"$pqSec%.2f"},"pq_adc_shuffle_bytes":${pqW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q252 shape: the IVF-PQ SERVING path from a PREBUILT PERSISTED
    // index (r11 order sheet #3 — the r10/r11 smoke re-built the index
    // inside every serve run and inferred probe cost by subtraction).
    // The index is WRITTEN once, partitioned by `centroid` (the 100 TB
    // layout: a probe's broadcast centroid join dynamic-partition-prunes
    // the scan to the shortlisted cells' files), then probe-only
    // wall/shuffle is measured DIRECTLY at nprobe ∈ {1, 4} — that
    // number IS the deployment cost at this corpus size ---
    if (enabled("ivfpq")) {
      val nCents = 256
      val ixDir = java.nio.file.Files
        .createTempDirectory("ivfpq_idx").toString
      val (ixRows, ixSec, ixW) = measure("ivfpq_index") {
        graft.similarity.SimilarityOps.ivfPqIndex(
            embN, "vec_id", "embedding", nCentroids = nCents, m = 8,
            nCodes = 16)
          // one shuffle to co-locate each cell -> one file per cell
          // (32 tasks x 256 dirs would otherwise write 8k tiny files)
          .repartition(col("centroid"))
          .write.mode("overwrite").partitionBy("centroid").parquet(ixDir)
        spark.read.parquet(ixDir).count()
      }
      val ixBytes = {
        def du(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
        du(new java.io.File(ixDir))
      }
      fields += s""""ivfpq_index_rows":$ixRows,"ivfpq_index_sec":${f"$ixSec%.2f"},"ivfpq_index_shuffle_bytes":${ixW.shuffleWriteBytes},"ivfpq_index_disk_bytes":$ixBytes"""
      flushPartial(outFile)
      val idx = spark.read.parquet(ixDir)
      // the serve plan's QUERY side (batch vectors, ≤nCents centroid
      // rows, ≤nCodes codebook rows — every emb reference filters to
      // id < nCents) is a small MATERIALIZED table in a deployment;
      // passing the raw copies-way replica union instead made the
      // first measured "probe-only" number mostly plan overhead —
      // every task deserializing a 300-branch union subplan ×4
      // references (the r10 EdgeProbe task-binary mechanism, recorded
      // in SURVEY.md), 94.8 s at 300× against 1.9 MB of actual probe
      // shuffle
      val qside = embN.filter(col("vec_id") < math.max(nCents, 64))
        .localCheckpoint(true)
      for (p <- Seq(1, 4)) {
        val (svRows, svSec, svW) = measure(s"ivfpq_serve$p") {
          forceAll(graft.similarity.SimilarityOps.ivfPqBatchTopKIndexed(
            idx, qside, "vec_id", "embedding",
            queryPred = col("vec_id") < 64,
            nCentroids = nCents, m = 8, nCodes = 16, k = 10, nprobe = p))
        }
        fields += s""""ivfpq_serve${p}_rows":$svRows,"ivfpq_serve${p}_sec":${f"$svSec%.2f"},"ivfpq_serve${p}_shuffle_bytes":${svW.shuffleWriteBytes}"""
        flushPartial(outFile)
      }
      qside.unpersist(blocking = false)
    }
    // ivfpq is the LAST consumer of the replicated-vector cache: drop
    // it before the corpus sections so the text half of an all-sections
    // run doesn't pay the vector half's heap (the r7 OOM mechanism)
    if (vectorSections) embN.unpersist(blocking = true)

    // --- q48 shape: SimHash chunk-blocked near-dup pairs at the
    // naturalBits-derived width on the letter-rotated corpus ---
    if (enabled("simhash")) {
      val chunks = 4
      val chunkBits = graft.similarity.SimilarityOps.naturalBits(
        nCorpus, targetOccupancy = 16.0, floor = 6, cap = 60 / chunks)
      val shBits = chunks * chunkBits
      val ((shCand, shPairs), shSec, shW) = measure("simhash") {
        val sh = graft.pipeline.Dedup.simhashTable(
          corpusSim, "doc_id", "text", bits = shBits).cache()
        val mask = (1L << chunkBits) - 1
        val cand = sh.select(explode(array((0 until chunks).map { ci =>
            struct(lit(ci).as("ci"),
              shiftright(col("simhash"), ci * chunkBits).bitwiseAND(mask)
                .as("cv"))
          }: _*)).as("__ck"))
          .groupBy(col("__ck")).agg(count(lit(1)).as("__n"))
          .agg(sum(expr("__n * (__n - 1) div 2")).as("__pairs"))
          .collect()(0).getLong(0)
        val pairs = forceAll(graft.pipeline.Dedup.simhashPairs(
          corpusSim, "doc_id", "text", bits = shBits, chunks = chunks,
          maxDist = 3))
        sh.unpersist(blocking = false)
        (cand, pairs)
      }
      fields += s""""simhash_bits":$shBits,"simhash_candidates":$shCand,"simhash_rows":$shPairs,"simhash_sec":${f"$shSec%.2f"},"simhash_shuffle_bytes":${shW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q253 shape: MULTI-WORD SimHash (4 words × 60 bits, one chunk
    // per word) on the same letter-rotated corpus — the blocking whose
    // 2^60-value word keys cannot saturate (the r11 single-long section
    // measured candidates re-entering the quadratic regime at 300×
    // where the 60-bit cap froze the chunk width at 2^15 values) ---
    if (enabled("simhashwide")) {
      val words = 4
      val bpw = 60
      val ((swCand, swPairs), swSec, swW) = measure("simhashwide") {
        val sh = graft.pipeline.Dedup.simhashTableWide(
          corpusSim, "doc_id", "text", words, bpw).cache()
        val cand = sh.select(posexplode(col("simhash")).as(Seq("wi", "wv")))
          .groupBy(col("wi"), col("wv")).agg(count(lit(1)).as("__n"))
          .agg(sum(expr("__n * (__n - 1) div 2")).as("__pairs"))
          .collect()(0).getLong(0)
        val pairs = forceAll(graft.pipeline.Dedup.simhashPairsWide(
          corpusSim, "doc_id", "text", words, bpw, maxDist = 3))
        sh.unpersist(blocking = false)
        (cand, pairs)
      }
      fields += s""""simhashwide_words":$words,"simhashwide_candidates":$swCand,"simhashwide_rows":$swPairs,"simhashwide_sec":${f"$swSec%.2f"},"simhashwide_shuffle_bytes":${swW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q114 shape: Bloom decontamination. The eval side (the base
    // corpus, fixed size) collapses into ONE bit array — 512 KiB here,
    // sized to its ~n·50 shingles so kn/m stays ~0.2, and CONSTANT as
    // `copies` grows; the probe side (all replicas) grows with copies
    // but is pure map-side bit tests ---
    if (enabled("bloom")) {
      val (blRows, blSec, blW) = measure("bloom") {
        graft.pipeline.Corpus.bloomDecontaminate(
          corpusN.unionByName(batch), "doc_id", "text",
          evalPred = col("doc_id") < d0, bits = 1 << 22).count()
      }
      fields += s""""bloom_rows":$blRows,"bloom_sec":${f"$blSec%.2f"},"bloom_shuffle_bytes":${blW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }
    // bloom is the last consumer of the verbatim-replica cache
    if (enabled("dedup") || enabled("bloom"))
      corpusN.unpersist(blocking = true)

    // --- q133 shape: FastSS edit-distance-1 join over replicated
    // customer names. Each copy prefixes its names with a fixed-width
    // copy index ("007-Customer#..."), so within-copy pairs replicate
    // the base workload and cross-copy pairs exist only between copy
    // indexes one digit apart — candidate degree stays ~CONSTANT as
    // copies grow (the engine-scaling mode), and the variant equi-join
    // is the thing being measured ---
    if (enabled("editdist")) {
      val cust = graft.Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_name"))
      val c0 = cust.count()
      val custN = (0 until copies).map { c =>
        cust.select((col("c_custkey") + lit(c.toLong * c0)).as("c_custkey"),
          concat(lit(f"$c%03d-"), col("c_name")).as("c_name"))
      }.reduce(_ unionAll _)
      val (edRows, edSec, edW) = measure("editdist") {
        graft.pipeline.Dedup.editDistancePairs(custN, "c_custkey", "c_name")
          .count()
      }
      fields += s""""editdist_rows":$edRows,"editdist_sec":${f"$edSec%.2f"},"editdist_shuffle_bytes":${edW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q146 shape: sparse TF-IDF cosine all-pairs via the inverted
    // index. Replicas tag every WORD with the copy index, so every
    // shingle is copy-local: within-copy pairs replicate the base
    // workload exactly and cross-copy candidates are zero — shingle
    // df (and so the Σ df² join fan-out) stays constant as copies
    // grow. The term equi-join + integer dot aggregate is the thing
    // being measured ---
    lazy val corpusTagged = (0 until copies).map { c =>
      docs.select((col("doc_id") + lit(c.toLong * d0)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"c${c}_$$1").as("text"))
    }.reduce(_ unionAll _)
    if (enabled("tfidfcos")) {
      val (tcRows, tcSec, tcW) = measure("tfidfcos") {
        graft.pipeline.Corpus.tfidfCosinePairs(
          corpusTagged, "doc_id", "text", n = 3, threshold = 0.5).count()
      }
      fields += s""""tfidfcos_rows":$tcRows,"tfidfcos_sec":${f"$tcSec%.2f"},"tfidfcos_shuffle_bytes":${tcW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q200 shape: the full curation DECISION TABLE — exact keeper
    // rule (md5 group), MinHash-LSH near-dup flag (band equi-join) and
    // the length gate folded into one per-doc row. Corpus = the copy-
    // tagged replicas (shingles copy-local → near-dup candidate degree
    // constant in copies) + a verbatim re-append of copy 0, so every
    // copy-0 doc gains exactly ONE exact twin (the crawl-duplicate
    // pattern) and all three gates do real work ---
    if (enabled("curation")) {
      // persist the tagged input: THREE consumers read it (the exact
      // md5 aggregate, the near-dup shingle pipeline, the final
      // decision join) and uncached each re-runs the copies-branch
      // regexp-tag union — pure map-side CPU that trebles the wall
      // with no shuffle signature, the r8 1000× wall-gap suspect.
      // MEMORY_AND_DISK (spill, never drop-and-recompute) so a quiet
      // re-measure isolates the engine's own scaling; the timed block
      // pays the one materialization honestly.
      val curInput = corpusTagged.unionAll(
        corpusTagged.filter(col("doc_id") < d0)
          .select((col("doc_id") + lit((copies.toLong + 1) * d0)).as("doc_id"),
            col("text")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (cuRows, cuSec, cuW) = measure("curation") {
        val exact = curInput.groupBy(md5(col("text")).as("__h"))
          .agg(min(col("doc_id")).as("__keeper"))
        val near = graft.pipeline.Dedup.minhashLshPairs(curInput,
            "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
          .withColumn("__near", lit(true))
        forceAll(curInput.join(exact, md5(col("text")) === col("__h"))
          .join(near, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("doc_id") =!= col("__keeper")).as("exact_dup"),
            coalesce(col("__near"), lit(false)).as("near_dup"),
            (length(col("text")) < 100).as("too_short")))
      }
      curInput.unpersist(blocking = true)
      fields += s""""curation_rows":$cuRows,"curation_sec":${f"$cuSec%.2f"},"curation_shuffle_bytes":${cuW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q231 shape: the eval-overlap contamination REPORT. Train =
    // the copy-tagged replicas (every copy contributes its own shingle
    // vocabulary, so the train distinct-vocab shuffle grows ~linearly
    // with copies — the 100 TB direction); eval = a verbatim re-append
    // of copy 0 under fresh ids (fixed benchmark-sized probe side,
    // fully colliding with copy 0's grams so the left-semi join does
    // real work). Two vocabulary-keyed shuffles, never pairwise ---
    if (enabled("contamination")) {
      val evalSlice = corpusTagged.filter(col("doc_id") < d0)
        .select((col("doc_id") + lit(copies.toLong * d0)).as("doc_id"),
          col("text"))
      val input = corpusTagged.unionAll(evalSlice)
      val (ctRows, ctSec, ctW) = measure("contamination") {
        forceAll(graft.pipeline.Corpus.evalOverlapReport(input, "doc_id",
          "text", evalPred = col("doc_id") >= copies.toLong * d0, n = 13))
      }
      fields += s""""contamination_rows":$ctRows,"contamination_sec":${f"$ctSec%.2f"},"contamination_shuffle_bytes":${ctW.shuffleWriteBytes}"""
      flushPartial(outFile)
    }

    // --- q241/q242 shape: BINARY near-dup banding (byte-histogram
    // sign-LSH → band equi-join → exact cosine verify). Blob (doc,
    // copy) = 8 byte runs whose values and lengths are Murmur3-derived
    // from the BASE doc id + run + copy index, so byte histograms are
    // diverse (sign buckets stay occupancy-constant as n grows — text
    // histograms would all collapse into one bucket and measure a
    // quadratic workload, not the engine) and copies decorrelate like
    // constant mode's Rademacher trick. A verbatim re-append of copy 0
    // under fresh ids (the expressions hash the pre-shift id, so the
    // bytes repeat exactly) plants d0 exact twins — the verify tail is
    // non-vacuous. The banded self-join + inline verify is the thing
    // measured, toRdd-forced ---
    if (enabled("binarydedup")) {
      val nBlobs = (copies.toLong + 1) * d0
      val blobBits = bitsOverride.getOrElse(
        graft.similarity.SimilarityOps.naturalBits(nBlobs))
      // 64 histogram bins, not the operator's 16-bin default: the
      // sign-cell count of b hyperplanes in a bins-dim space caps the
      // band-key population, and 16-dim histograms saturate ~12k keys
      // (the since-deleted BlobProbe: at 10x/b12 ALL 12,288 keys are
      // occupied and candidates go quadratic from there). The histogram width is
      // the second key-space knob and must grow with the corpus like
      // bitsPerBand does; 64 bins keeps occupancy bounded through the
      // soak ladder (12.2k buckets, max 191 at 10x).
      def blobs(c: Int, idShift: Long) = {
        val body = concat((0 until 8).map { j =>
          expr(s"repeat(char(pmod(hash(doc_id, $j, $c), 256)), " +
            s"pmod(hash(doc_id, $j, $c, 7), 32) + 1)")
        }: _*)
        docs.select((col("doc_id") + lit(idShift)).as("doc_id"),
          encode(body, "ISO-8859-1").as("bin"))
      }
      val blobN = (0 until copies).map(c => blobs(c, c.toLong * d0))
        .reduce(_ unionAll _)
        .unionAll(blobs(0, copies.toLong * d0)) // exact twins of copy 0
      val (bnRows, bnSec, bnW) = measure("binarydedup") {
        forceAll(graft.pipeline.Dedup.binaryNearDupPairs(
          blobN, "doc_id", "bin", bins = 64, threshold = 0.999,
          bands = 3, bitsPerBand = blobBits))
      }
      fields += s""""binarydedup_rows":$bnRows,"binarydedup_sec":${f"$bnSec%.2f"},"binarydedup_shuffle_bytes":${bnW.shuffleWriteBytes},"binarydedup_bits":$blobBits"""
      flushPartial(outFile)
    }

    val runWork = sectionsWork + work.take("")
    work.close()
    val json =
      s"""{"metric":"scale_smoke","sf_dir":"$sfDir","mode":"$mode","copies":$copies,""" +
        s""""sections":"${if (only.isEmpty) "all" else only.toSeq.sorted.mkString("+")}",""" +
        s""""n_vectors":$n,"n_corpus_docs":$nCorpus,"bits_per_band":$bitsPerBand,""" +
        fields.map(_ + ",").mkString +
        s""""shuffle_write_bytes":${runWork.shuffleWriteBytes},""" +
        s""""peak_task_memory_bytes":${runWork.peakExecMemBytes}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    // the final artifact supersedes the sidecar — remove it so a
    // completed soak is distinguishable on disk from one that died
    // after its last section (ADVICE r7)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(outFile + ".partial"))
    println(json)
    spark.stop()
  }
}
