package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graft.ExpressionColumns
import graft.functions.{BloomSketch, ByteHistogram, CmsSketch, CosineSimilarity, ExifOrientationExpr, FlacStreaminfo, HyperplaneSignatureExpr, HyperplaneSignatureWideExpr, JaroWinklerSim, JpegDimsExpr, KmvSketch, Mp3Header, Mp4Meta, PngDimsExpr, WebpDimsExpr}

/** graft's native Catalyst expressions as Columns, the engine's session
  * settings, and storage eviction.
  *
  * Every builder below constructs its expression directly, so the column
  * resolves on any session: nothing is registered, and plans show each
  * expression by its `prettyName` (`cosine_sim`, `kmv_sketch`, …).
  */
object Graft {

  /** The session every harness main runs on: `local[cores]` with as many
    * shuffle partitions, UTC session time, no UI, WARN logging, and
    * [[install]]'s settings. `cores` defaults to `SPARK_GRAFT_CPUS`, else 32.
    */
  def localSession(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
  }

  /** Apply the engine's session settings to `spark`. The native
    * expressions need no set-up; a deployment that wants other values
    * sets either conf after this call.
    */
  def install(spark: SparkSession): SparkSession = {
    // Engine session tuning (r12 optimization round, measured at sf0.1
    // and reasoned for scale; both are semantics-preserving):
    //
    // 1. InferFiltersFromGenerate synthesizes `size(e) > 0 AND
    //    isnotnull(e)` under every explode(e). For this engine's
    //    generators e is a tokenize/shingle/slice HOF chain, so the
    //    inferred filter re-evaluates the full chain TWICE per input
    //    row, and predicate pushdown drags it below the
    //    parallelism-restoring exchange into the scan stage
    //    (single-task on single-row-group files: q196 3.7 s of 3.9,
    //    q92 3.3 s of 4.2 at sf0.1). The filter can only drop rows
    //    whose generator output is empty — rows a non-outer Generate
    //    drops anyway — so excluding the rule changes cost, never
    //    results. Measured: q196 3.9→1.1 s, q92 4.2→2.2 s,
    //    q208 4.4→1.5 s.
    // 2. AQE coalescing sizes post-shuffle partitions by COMPRESSED
    //    bytes. Short-string text shuffles (n-gram/token aggregates)
    //    compress ~10× and carry heavy per-row compute, so the 1 MiB
    //    default floor coalesces them to ONE task (q244: a 3.7 s
    //    serial stage in a 4 s query). 64k keeps such stages parallel
    //    while still folding genuinely empty partitions; at scale
    //    partitions dwarf either floor and the setting is inert.
    val inferRule =
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val prior = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .filter(_.nonEmpty)
    if (!prior.exists(_.contains(inferRule)))
      spark.conf.set("spark.sql.optimizer.excludedRules",
        prior.map(_ + ",").getOrElse("") + inferRule)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "64k")
    spark
  }

  /** Evict everything a query (or an operator that caches-and-returns:
    * prepared shingles, CC labels, checkpoint blocks) left in executor
    * storage: plan-keyed DataFrame caches AND raw RDD persists. Harness
    * mains (Bench/Verify/QueryProbe) call this between queries so
    * storage stays flat across a 100+ query session — safe THERE
    * because every plan is rebuilt from scratch after the call.
    *
    * A caller that still HOLDS DataFrames built before the call must
    * pass `includeCheckpointed = false`: a `localCheckpoint`ed RDD
    * (PageRank's edge cache, BFS frontiers, …) has its lineage
    * truncated, so unpersisting it makes any live plan that references
    * it permanently unrecoverable ("Checkpoint block not found"), where
    * plain cached data would just recompute. Long-lived API servers
    * evicting on a cadence are exactly this case.
    */
  def evictAll(spark: SparkSession, includeCheckpointed: Boolean = true): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    try spark.sparkContext.getPersistentRDDs.values
      .filter(includeCheckpointed || !_.isCheckpointed)
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
  }

  private def native(e: Expression): Column = ExpressionColumns.column(e)
  private def nativeAgg(f: AggregateFunction): Column =
    ExpressionColumns.column(f.toAggregateExpression())
  private def expr(c: Column): Expression = ExpressionColumns.expression(c)

  /** Cosine similarity of two numeric-array columns (native codegen),
    * with the reference's guards: 0.0 on dimension mismatch or a
    * zero-norm side. Bit-identical to `VectorFunctions.cosine`.
    */
  def cosineSim(a: Column, b: Column): Column =
    native(CosineSimilarity(expr(a), expr(b)))

  /** Jaro-Winkler string similarity (native codegen expression). */
  def jaroWinkler(a: Column, b: Column): Column =
    native(JaroWinklerSim(expr(a), expr(b)))

  /** EXIF orientation (1–8) of a JPEG binary column; NULL when absent
    * (native codegen expression, pure header byte walk).
    */
  def exifOrientation(bin: Column): Column =
    native(ExifOrientationExpr(expr(bin)))

  /** FLAC STREAMINFO struct (channels, sample_rate, bits_per_sample,
    * total_samples, duration_micros) of a binary column; NULL when the
    * payload is not FLAC (native codegen expression, header byte walk).
    */
  def flacStreaminfo(bin: Column): Column = native(FlacStreaminfo(expr(bin)))

  /** MP3 frame-header struct (channels, sample_rate) of a binary
    * column; NULL when not accepted as MP3 (native codegen expression,
    * two-frame sniff shared with `Multimodal.decodeMp3`).
    */
  def mp3Header(bin: Column): Column = native(Mp3Header(expr(bin)))

  /** ISO-BMFF movie struct (brand, width, height, timescale,
    * duration_micros) of a binary column; NULL when the payload is not
    * ISO-BMFF (native codegen expression, box walk shared with
    * `Multimodal.decodeVideo`).
    */
  def mp4Meta(bin: Column): Column = native(Mp4Meta(expr(bin)))

  /** WebP dimension struct (variant, width, height) of a binary
    * column; NULL when the payload is not WebP (native codegen
    * expression, RIFF walk shared with `Multimodal.decodeWebp`).
    */
  def webpDims(bin: Column): Column = native(WebpDimsExpr(expr(bin)))

  /** PNG IHDR struct (width, height, bit_depth, color_type) of a
    * binary column; NULL when the payload is not PNG (native codegen
    * expression, IHDR walk shared with `Multimodal.decodePng`).
    */
  def pngDims(bin: Column): Column = native(PngDimsExpr(expr(bin)))

  /** JPEG SOF struct (width, height, precision, n_components) of a
    * binary column; NULL when the payload is not JPEG (native codegen
    * expression, segment walk shared with `Multimodal.decodeJpeg`).
    */
  def jpegDims(bin: Column): Column = native(JpegDimsExpr(expr(bin)))

  /** KMV distinct-count sketch over a pre-hashed bigint column. */
  def kmvSketch(hashed: Column, k: Int): Column =
    nativeAgg(KmvSketch(expr(hashed), k))

  /** Count-min sketch (flattened depth×width counters) over a
    * pre-hashed bigint column.
    */
  def cmsSketch(hashed: Column, depth: Int, width: Int): Column =
    nativeAgg(CmsSketch(expr(hashed), depth, width))

  /** Normalized byte histogram of a binary column (native codegen). */
  def byteHistogram(bin: Column, bins: Int): Column =
    native(ByteHistogram(expr(bin), bins))

  /** Sign-LSH hyperplane signature of a numeric-array column (native
    * codegen, one fused loop for all bits; optional mean-centering for
    * all-nonnegative populations). Bit-identical to
    * `VectorFunctions.hyperplaneSignatureHof`.
    */
  def hyperplaneSig(v: Column, bits: Int, center: Boolean = false): Column =
    native(HyperplaneSignatureExpr(expr(v), bits, center))

  /** Multi-word sign-LSH signature (`array<long>`, native codegen, one
    * fused loop for all words×bitsPerWord bits). Bit-identical to
    * `VectorFunctions.hyperplaneSignatureWideHof` and to word-boundary
    * slices of the single-long form.
    */
  def hyperplaneSigWide(v: Column, words: Int, bitsPerWord: Int,
                        center: Boolean = false): Column =
    native(HyperplaneSignatureWideExpr(expr(v), words, bitsPerWord, center))

  /** Bloom filter (packed bit words) over a pre-hashed bigint column. */
  def bloomSketch(hashed: Column, bits: Int, hashes: Int): Column =
    nativeAgg(BloomSketch(expr(hashed), bits, hashes))

  /** Bloom membership probe: true iff ALL `hashes` addressed bits are
    * set — pure column arithmetic (element_at + mask), no UDF, so the
    * probe side stays inside whole-stage codegen. Same universal-hash
    * family as the sketch update. No false negatives; false positives
    * at the textbook (1−e^(−kn/m))^k rate, deterministically
    * reproducible in any engine that replays the bit arithmetic.
    */
  def bloomContains(sketch: Column, hashed: Column,
                    bits: Int, hashes: Int): Column = {
    import org.apache.spark.sql.functions._
    (0 until hashes).map { i =>
      val bit = pmod(
        (hashed * (2L * i + 1L) + (i.toLong * i + 98765L)),
        lit(graft.functions.TextFunctions.MinhashP)) % bits
      val word = element_at(sketch, (floor(bit / 64) + 1).cast("int"))
      val mask = call_function("shiftleft", lit(1L), (bit % 64).cast("int"))
      word.bitwiseAND(mask) =!= 0L
    }.reduce(_ && _)
  }

  /** CMS inner product: min over depth rows of Σ_buckets a[d][w]·b[d][w]
    * — the classic equi-join SIZE estimate |A ⋈ B| (Alon-Matias-Szegedy
    * F₂/join-size line; overestimates by hash-collision mass, never
    * under). Two constant-size sketches stand in for scanning either
    * table: the optimizer-statistics primitive for join planning at
    * 100 TB. Pure column arithmetic over the two counter arrays
    * (transform + aggregate HOFs) — no UDF, replayable in any engine
    * that rebuilds the counter matrix.
    */
  def cmsInnerProduct(skA: Column, skB: Column,
                      depth: Int, width: Int): Column = {
    import org.apache.spark.sql.functions._
    (0 until depth).map { d =>
      aggregate(
        transform(sequence(lit(d * width + 1), lit((d + 1) * width)),
          j => element_at(skA, j.cast("int")) * element_at(skB, j.cast("int"))),
        lit(0L), (acc, x) => acc + x)
    }.reduce(least(_, _))
  }

  /** CMS point estimate: min over rows of the addressed counter.
    * `hashed` is the probe key's md5Long; same universal-hash family as
    * the sketch update (a=2i+1, b=i²+98765 mod P mod width).
    */
  def cmsEstimate(sketch: Column, hashed: Column,
                  depth: Int, width: Int): Column = {
    import org.apache.spark.sql.functions._
    (0 until depth).map { i =>
      val bucket = pmod(
        (hashed * (2L * i + 1L) + (i.toLong * i + 98765L)),
        lit(graft.functions.TextFunctions.MinhashP)) % width
      element_at(sketch, (bucket + i * width + 1).cast("int"))
    }.reduce(least(_, _))
  }
}
