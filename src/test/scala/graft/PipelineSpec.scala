package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.pipeline.{Dedup, TextAnalysis}
import graft.similarity.SimilarityOps

/** Invariant tests for the training-data pipeline operators (SURVEY §5
  * test pyramid, level 1): dedup recall on exact duplicates, signature
  * invariances, set-similarity-join equivalence to the naive definition.
  * The DuckDB oracle (graft.Verify + tools/validate.py) is the stronger
  * cross-engine gate; these pin the algebraic properties.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over a lazy cat"),   // near dup
    (4L, "completely different content about spark engines"),
    (5L, "")).toDF("doc_id", "text")

  test("exactDedup: duplicate texts collapse to one keeper (min id)") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.length == 4, "4 distinct contents")
    assert(out.contains((2L, 1L)), "dup pair keeps min id as keeper")
  }

  test("binary dedup on real image bytes: exact md5 grouping, histogram " +
    "near-dup pairs the perturbed re-render and not the different image") {
    Graft.install(spark)
    // uncompressed BMP renders so the byte distribution IS the pixel
    // distribution (a DEFLATE-compressed container would whiten it)
    def bmp(rgb: Int, perturb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) img.setRGB(x, y, rgb)
      // perturb a few pixels: a light edit that keeps the distribution
      for (i <- 0 until perturb) img.setRGB(i, 0, 0xffffff)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "bmp", out), "JDK BMP writer")
      out.toByteArray
    }
    val blobA = bmp(0x0a141e, 0)
    val blobA3 = bmp(0x0a141e, 4)   // near-dup: 4 of 4096 pixels differ
    val blobB = bmp(0xc86432, 0)    // different image entirely
    val blobs = Seq((1L, blobA), (2L, blobA), (3L, blobA3), (4L, blobB))
      .toDF("id", "bin")
    val exact = Dedup.binaryExactDedup(blobs, "id", "bin")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._2).toSeq
    assert(exact == Seq(
      (2L, 1L, 2L * blobA.length),  // ids 1+2: one family, keeper 1
      (1L, 3L, blobA3.length.toLong),
      (1L, 4L, blobB.length.toLong)), s"unexpected exact families: $exact")
    val pairs = Dedup.binaryNearDupPairs(blobs, "id", "bin",
        bins = 16, threshold = 0.999, bands = 3, bitsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"perturbed render must pair with both exact copies: $pairs")
    assert(pairs.contains((1L, 2L)), "exact copies are trivially near-dups")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"the different image must not pair at 0.999: $pairs")
    // one-vs-all probe agrees: doc 4 ranks last from doc 1's blob
    val topk = Dedup.binaryNearDupTopK(blobs, "id", "bin", queryId = 1L,
        bins = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(topk.map(_._1) == Seq(2L, 3L, 4L), s"rank order: $topk")
    assert(topk.head._2 == 1.0 && topk(1)._2 >= 0.999 && topk(2)._2 < 0.999,
      s"cosine ladder: $topk")
  }

  test("binaryNearDupPairs: sound vs the naive histogram-cosine " +
    "definition (verified candidates only) and complete for identical " +
    "blobs (equal histograms collide in every band)") {
    Graft.install(spark)
    val slice = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 60)
      .select(col("doc_id").as("id"),
        encode(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""), "UTF-8")
          .as("bin"))
    // the testdata has no verbatim text twins at sf0.001 — replicate
    // the slice under shifted ids so every blob has one exact twin
    // (the crawl-duplicate pattern)
    val real = slice.unionByName(
      slice.select((col("id") + 1000L).as("id"), col("bin")))
    val t = 0.98
    val fast = Dedup.binaryNearDupPairs(real, "id", "bin",
        bins = 16, threshold = t, bands = 3, bitsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hist = Dedup.binaryHistograms(real, "id", "bin", bins = 16)
      .localCheckpoint()
    val naive = hist.as("a").crossJoin(hist.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("s", SimilarityOps.sim6(col("a.hist"), col("b.hist")))
      .filter(col("s") >= t)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast.subsetOf(naive),
      s"LSH-blocked pairs must be verified (no false positives): ${fast -- naive}")
    // exact blob twins (the testdata has verbatim duplicate texts)
    // have EQUAL histograms -> identical signatures -> every band
    // collides -> guaranteed recall
    val twins = real.as("a").join(real.as("b"),
        md5(col("a.bin")) === md5(col("b.bin")) && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(twins.nonEmpty, "fixture slice must contain exact duplicates")
    assert(twins.subsetOf(fast),
      s"exact twins missing from the blocked pairs: ${twins -- fast}")
  }

  test("ngramJaccardPairs matches the naive crossJoin definition") {
    val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val naive = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("j", round(TextFunctions.jaccard(col("a.shingle_set"), col("b.shingle_set")), 6))
      .filter(col("j") >= 0.1)
      .select(col("a.id"), col("b.id"), col("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == naive)
    assert(fast.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 },
      "exact duplicates have jaccard 1.0")
  }

  test("ngramJaccardPairsPrefix == ngramJaccardPairs (exact pruning, " +
       "no recall loss) on fixtures AND real documents") {
    def pairs(f: (org.apache.spark.sql.DataFrame, String, String, Int, Double) =>
        org.apache.spark.sql.DataFrame, df: org.apache.spark.sql.DataFrame,
        id: String, t: Double) =
      f(df, id, "text", 3, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.1, 0.5, 0.8)) {
      assert(pairs(Dedup.ngramJaccardPairsPrefix, docs, "doc_id", t) ==
        pairs(Dedup.ngramJaccardPairs, docs, "doc_id", t), s"t=$t fixtures")
    }
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(pairs(Dedup.ngramJaccardPairsPrefix, real, "doc_id", 0.5) ==
      pairs(Dedup.ngramJaccardPairs, real, "doc_id", 0.5),
      "identical pair set on the real corpus")
  }

  test("minhashLshPairs: exact duplicates are always candidates (sig equality)") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      "identical docs share every band key")
  }

  test("nearDupSourceMatrix: verified pairs roll up per unordered " +
    "source pair") {
    // three exact copies (identical signatures ⇒ certain candidates,
    // jaccard 1.0 ⇒ certain survivors) split across two feeds, plus
    // unique docs in both feeds that must not appear at all
    val withSrc = Seq(
      (1L, "feedA", "alpha beta gamma delta epsilon zeta"),
      (2L, "feedB", "alpha beta gamma delta epsilon zeta"),
      (3L, "feedA", "alpha beta gamma delta epsilon zeta"),
      (4L, "feedB", "wholly unrelated content one two three"),
      (5L, "feedA", "another unique document four five six")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.nearDupSourceMatrix(withSrc, "doc_id", "text",
        "source", n = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    // pairs: (1,2) A×B, (1,3) A×A, (2,3) A×B
    assert(out == Map(("feedA", "feedA") -> 1L, ("feedA", "feedB") -> 2L),
      s"unexpected matrix: $out")
  }

  test("simhash: identical docs get identical sketches; pairs report hamming 0") {
    val sk = Dedup.simhashTable(docs, "doc_id", "text", bits = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sk(1L) == sk(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", bits = 24,
        chunks = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
  }

  test("naturalBits: occupancy policy — exact values, clamps, and " +
       "simhashPairsAuto finds the planted near-dup at the derived width") {
    // 2^b buckets reach target occupancy 500 at n = 500 * 2^b
    assert(SimilarityOps.naturalBits(1L) == 4, "floor clamp")
    assert(SimilarityOps.naturalBits(500L * 16) == 4)
    assert(SimilarityOps.naturalBits(500L * 16 + 1) == 5)
    assert(SimilarityOps.naturalBits(500L * (1 << 12)) == 12)
    assert(SimilarityOps.naturalBits(Long.MaxValue) == 16, "cap clamp")
    assert(SimilarityOps.naturalBits(5000L, 16.0, floor = 6, cap = 15) == 9,
      "q48-shaped corpus: 5,000 docs at occupancy 16 -> 9-bit chunks")
    // auto width on the fixture corpus: identical docs still pair at
    // hamming 0 (identical sketches at ANY width), near-identical
    // blocking semantics preserved
    val pairs = Dedup.simhashPairsAuto(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)), "exact dup pairs at hamming 0")
  }

  test("simhashPairsWide at (4 words x 12 bits) is EXACTLY simhashPairs " +
       "at (48 bits, 4 chunks): same sign mix, word = chunk") {
    val wide = Dedup.simhashPairsWide(docs, "doc_id", "text",
        words = 4, bitsPerWord = 12, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val narrow = Dedup.simhashPairs(docs, "doc_id", "text",
        bits = 48, chunks = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wide == narrow, s"wide/narrow divergence: $wide vs $narrow")
    // and the sketch words really are the single-long sketch's chunks
    val sk = Dedup.simhashTable(docs, "doc_id", "text", bits = 48)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wk = Dedup.simhashTableWide(docs, "doc_id", "text",
        words = 4, bitsPerWord = 12)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for ((id, s) <- sk; w <- 0 until 4)
      assert(wk(id)(w) == ((s >> (w * 12)) & 0xfffL),
        s"word $w of doc $id diverges from the 48-bit sketch slice")
    // identical docs collide in every word at the wide scale config too
    val pairs = Dedup.simhashPairsWide(docs, "doc_id", "text",
        words = 4, bitsPerWord = 60, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)), "exact dups at hamming 0 of 240")
  }

  test("bpeTokenCount: exact piece arithmetic; empty text costs 0") {
    val out = Seq((1L, "hello world!"), (2L, "abcdefgh 12345"), (3L, ""))
      .toDF("id", "text")
      .select(col("id"), TextFunctions.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // hello(2) + world(2) + !(1) = 5 ; abcdefgh(2) + 12345(2) = 4
    assert(out == Map(1L -> 5L, 2L -> 4L, 3L -> 0L))
  }

  test("dimVarianceProfile: exact quantized sums, floored variance, " +
    "dead dimension reads zero") {
    val emb = Seq(
      (1L, Array(1.0f, 0.5f, 0.25f)),
      (2L, Array(1.0f, -0.5f, 0.25f)),
      (3L, Array(1.0f, 0.0f, 0.25f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.dimVarianceProfile(emb, "embedding")
      .orderBy(col("dim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // dim 0: constant 1e6 → var 0 (dead dim); dim 1: q = {5e5, -5e5, 0},
    // var = (3·5e11 − 0) / 9 = 166_666_666_666 (floored);
    // dim 2: constant 250000 → var 0
    assert(out == Seq(
      (0L, 3L, 3000000L, 0L, 1000000L, 1000000L),
      (1L, 3L, 0L, 166666666666L, -500000L, 500000L),
      (2L, 3L, 750000L, 0L, 250000L, 250000L)),
      s"unexpected profile: $out")
  }

  test("hyperplaneSignature: deterministic and invariant to positive scaling") {
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 2.0f, 0.1f)),
      (2L, Seq(1.0f, -2.0f, 4.0f, 0.2f)), // 2 × vector 1
      (3L, Seq(-0.5f, 1.0f, -2.0f, -0.1f))) // −1 × vector 1
      .toDF("id", "v")
    val sig = vecs.select(col("id"),
        VectorFunctions.hyperplaneSignature(col("v"), 12).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sig(1L) == sig(2L), "cosine-identical vectors share the signature")
    assert(sig(1L) != sig(3L), "opposite vector flips bits")
    assert(sig.values.forall(s => s >= 0 && s < (1L << 12)))
  }

  test("hyperplaneSignature: native codegen expression is bit-identical " +
       "to the HOF fallback, centered and uncentered") {
    Graft.install(spark)
    // real embeddings (mixed-sign floats) + byte histograms (the
    // all-nonnegative population centering exists for) + edge vectors
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val hist = Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(200)
      .select(col("doc_id").as("id"),
        Graft.byteHistogram(encode(col("text"), "UTF-8"), 64).as("v"))
    val edges = Seq(
      (9000001L, Seq.empty[Float]),            // d = 0: signature 0
      (9000002L, Seq(0f, 0f, 0f)),             // zero vector
      (9000003L, Seq(-1f, -2f, -3f)),          // all-negative
      (9000004L, Seq(5f))).toDF("id", "v")     // single element
    for (df <- Seq(emb, hist, edges); center <- Seq(false, true)) {
      // the pre-r10 interpreted spelling, kept as the reference
      val hofCol = VectorFunctions.hyperplaneSignatureHof(col("v"), 48, center)
      val pairs = df.select(col("id"),
        VectorFunctions.hyperplaneSignature(col("v"), 48, center)
          .as("native"),
        hofCol.as("hof"))
      assert(pairs.filter(col("native") =!= col("hof")).count() == 0,
        s"native/HOF signature divergence (center=$center) on ${df.columns.mkString(",")}")
    }
  }

  test("hyperplaneSignature: native==HOF on randomized float vectors " +
       "(property-style, r10 order #7) and on null-containing arrays") {
    Graft.install(spark)
    // seeded generator: varied dims (incl. 0), magnitudes across 6
    // decades, sign mixes, exact zeros — the band-key drift guard for
    // future codegen edits beyond the three fixture classes
    val rnd = new scala.util.Random(0xC0FFEE)
    val rows = (0 until 400).map { id =>
      val d = rnd.nextInt(96) // 0..95
      val scale = math.pow(10.0, rnd.nextInt(7) - 3).toFloat
      val v = Seq.fill(d) {
        val x = (rnd.nextFloat() - (if (rnd.nextBoolean()) 0.75f else 0.25f)) * scale
        if (rnd.nextInt(13) == 0) 0f else x
      }
      (id.toLong, v)
    }
    val df = rows.toDF("id", "v").repartition(7)
    for (center <- Seq(false, true); bits <- Seq(1, 24, 63)) {
      val hofCol = VectorFunctions.hyperplaneSignatureHof(col("v"), bits, center)
      val diverged = df.select(col("id"),
          VectorFunctions.hyperplaneSignature(col("v"), bits, center)
            .as("native"),
          hofCol.as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(diverged == 0,
        s"native/HOF divergence on random vectors (center=$center, bits=$bits)")
    }
    // null ELEMENTS (containsNull=true, the Parquet default): the HOF
    // fold nulls every projection -> signature 0L; the native path must
    // agree (r10 ADVICE medium) instead of reading null slots as 0.0
    val withNulls = df.select(col("id"),
      transform(col("v"), (x, i) =>
        when(pmod(col("id") + i, lit(5)) === 0, lit(null)).otherwise(x)
          .cast("float")).as("v"))
    for (center <- Seq(false, true)) {
      val hofCol = VectorFunctions.hyperplaneSignatureHof(col("v"), 48, center)
      val out = withNulls.select(col("id"),
        VectorFunctions.hyperplaneSignature(col("v"), 48, center)
          .as("native"),
        hofCol.as("hof"))
      assert(out.filter(col("native") =!= col("hof")).count() == 0,
        s"native/HOF divergence on null-element vectors (center=$center)")
      // and the agreed value for a vector that actually CONTAINS a
      // null element IS 0L
      assert(withNulls.filter(exists(col("v"), _.isNull))
        .select(VectorFunctions.hyperplaneSignature(col("v"), 48, center)
          .as("native"))
        .filter(col("native") =!= 0L).count() == 0,
        "null-containing vectors must collapse to signature 0")
    }
  }

  test("hyperplaneSignatureWide: word w IS the single-long signature's " +
       "w-th slice (the SimHash-twin pin), native==HOF, null collapse, " +
       "and band keys survive past the one-long cap") {
    Graft.install(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val hist = Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(200)
      .select(col("doc_id").as("id"),
        Graft.byteHistogram(encode(col("text"), "UTF-8"), 64).as("v"))
    val edges = Seq(
      (9000001L, Seq.empty[Float]),
      (9000002L, Seq(0f, 0f, 0f)),
      (9000003L, Seq(-1f, -2f, -3f)),
      (9000004L, Seq(5f))).toDF("id", "v")
    // 1) slice equality wherever words×bitsPerWord fits one long: the
    //    lshCandidatePairs band-key routing through the wide form is
    //    byte-identical to the old shift-and-mask slices exactly when
    //    this holds (same global bit index mix)
    for (df <- Seq(emb, hist, edges); center <- Seq(false, true);
         (words, bpw) <- Seq((4, 12), (3, 4), (2, 31))) {
      val mask = (1L << bpw) - 1
      val diverged = df.select(
          VectorFunctions.hyperplaneSignature(col("v"), words * bpw, center)
            .as("narrow"),
          VectorFunctions.hyperplaneSignatureWide(col("v"), words, bpw, center)
            .as("wide"))
        .filter((0 until words).map { w =>
          element_at(col("wide"), w + 1) =!=
            shiftright(col("narrow"), w * bpw).bitwiseAND(lit(mask))
        }.reduce(_ || _))
        .count()
      assert(diverged == 0,
        s"wide($words,$bpw) diverges from single-long slices (center=$center)")
    }
    // 2) native codegen == HOF fallback, INCLUDING a width no single
    //    long can hold (4×20 = 80 bits) and null-element arrays
    val rnd = new scala.util.Random(0xBEEF12)
    val rows = (0 until 200).map { id =>
      val d = rnd.nextInt(96)
      val v = Seq.fill(d)((rnd.nextFloat() - 0.5f) *
        math.pow(10.0, rnd.nextInt(5) - 2).toFloat)
      (id.toLong, v)
    }
    val rdf = rows.toDF("id", "v").repartition(5)
    val withNulls = rdf.select(col("id"),
      transform(col("v"), (x, i) =>
        when(pmod(col("id") + i, lit(7)) === 0, lit(null)).otherwise(x)
          .cast("float")).as("v"))
    for (df <- Seq(rdf, withNulls); center <- Seq(false, true)) {
      val hofCol = VectorFunctions.hyperplaneSignatureWideHof(col("v"), 4, 20, center)
      val out = df.select(col("id"),
        VectorFunctions.hyperplaneSignatureWide(col("v"), 4, 20, center)
          .as("native"),
        hofCol.as("hof"))
      assert(out.filter(col("native") =!= col("hof")).count() == 0,
        s"wide native/HOF divergence (center=$center)")
    }
    // null-containing vectors collapse to ALL-ZERO words (the single-
    // long form's 0L, word-wise)
    assert(withNulls.filter(exists(col("v"), _.isNull))
      .select(VectorFunctions.hyperplaneSignatureWide(col("v"), 4, 20)
        .as("w"))
      .filter(exists(col("w"), _ =!= 0L)).count() == 0,
      "null-containing vectors must collapse to all-zero words")
    // 3) the routed operator still finds planted twins BEYOND the old
    //    bands×bitsPerBand ≤ 63 cap: identical vectors agree in every
    //    64-bit-total band key
    val twins = emb.limit(50).unionAll(
      emb.limit(50).select((col("id") + 1000000L).as("id"), col("v")))
    val pairs = SimilarityOps.lshCandidatePairs(twins, "id", "v",
        threshold = 0.999, bands = 4, bitsPerBand = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length >= 50 &&
      pairs.count(p => p._2 == p._1 + 1000000L) == 50,
      s"planted twins must all collide at 4x16-bit bands, got ${pairs.length}")
  }

  test("ivfTopK: results come from the query's block, sorted by sim desc") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assigned = SimilarityOps.assignToCentroids(emb, "vec_id", "embedding", 4)
    val qc = assigned.filter(col("vec_id") === 0).select("centroid")
      .collect()(0).getLong(0)
    val out = SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
        queryId = 0L, nCentroids = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length <= 5 && out.nonEmpty)
    assert(out.forall(_._2 == qc), "all hits share the query's centroid")
    assert(out.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      "descending similarity")
    assert(!out.exists(_._1 == 0L), "self excluded")
  }

  test("ivfPqBatchTopK at nprobe=nCentroids reduces to full ADC " +
       "(pqAdcTopK) for a single query; encoding ladder is well-formed") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // probing EVERY cell removes the IVF prune, so batch serving must
    // reproduce the unpruned ADC ranking exactly
    val full = SimilarityOps.pqAdcTopK(emb, "vec_id", "embedding",
        queryId = 0L, m = 8, nCodes = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val batch = SimilarityOps.ivfPqBatchTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") === 0L, nCentroids = 4, m = 8,
        nCodes = 16, k = 5, nprobe = 4)
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    assert(batch == full,
      s"all-cells batch serving must equal full ADC: $batch vs $full")
    // encoding ladder: one row per (encoding, nprobe), recall bounded
    val ladder = SimilarityOps.ivfPqEncodingLadder(emb, "vec_id",
        "embedding", queryPred = col("vec_id") < 5, nCentroids = 4,
        m = 8, nCodes = 16, k = 3, nprobes = Seq(1, 4))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(5)))
    assert(ladder.map(_._1).toSet ==
      Set(("raw", 1L), ("raw", 4L), ("residual", 1L), ("residual", 4L)))
    assert(ladder.forall { case (_, p) => p >= 0 && p <= 1000 })
    // more probes can never lower recall (nested prefixes)
    val byEnc = ladder.toMap
    assert(byEnc(("raw", 4L)) >= byEnc(("raw", 1L)))
    assert(byEnc(("residual", 4L)) >= byEnc(("residual", 1L)))
  }

  test("asofJoin matches the naive latest-at-or-before definition; no match => null") {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L), (3L, 50L, 103L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 10L, "a"), (1L, 15L, "b"), (2L, 7L, "c"))
      .toDF("k", "t", "pay")
    val out = graft.operators.AsofJoin
      .asofJoin(left, right, "k", "t", payload = Seq("pay"))
      .collect().map(r => (r.getLong(2), Option(r.getString(3)))).toMap
    assert(out == Map(
      100L -> Some("a"),  // equal time matches (<= semantics)
      101L -> Some("b"),  // latest prior
      102L -> None,       // right row is later -> no match
      103L -> None))      // key has no right rows at all
  }

  test("rangeJoin matches the naive BETWEEN join, boundaries inclusive") {
    val pts = Seq((1L, 10L, 100L), (1L, 25L, 101L), (1L, 31L, 102L), (2L, 10L, 103L))
      .toDF("k", "t", "pid")
    val ivs = Seq((1L, 10L, 30L, "A"), (1L, 20L, 26L, "B"), (2L, 11L, 12L, "C"))
      .toDF("k", "s", "e", "iv")
    val fast = graft.operators.RangeJoin
      .rangeJoin(pts, ivs, "k", "t", "s", "e", binWidth = 7)
      .select("pid", "iv")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val naive = pts.join(ivs, "k")
      .filter(col("t") >= col("s") && col("t") <= col("e"))
      .select("pid", "iv")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fast == naive)
    assert(fast == Set((100L, "A"), (101L, "A"), (101L, "B")),
      "inclusive bounds; out-of-window and other-key points excluded")
  }

  test("kmv_sketch: exact below k, (k-1)P/h_k beyond, merge across partitions") {
    Graft.install(spark)
    // 8 distinct values, k=64 -> exact count
    val small = spark.range(1, 9).select((col("id") * 1000).as("h"))
      .agg(Graft.kmvSketch(col("h"), 64)).collect()(0).getDouble(0)
    assert(small == 8.0)
    // hashes 1..1000 over 8 partitions -> 64th smallest is 64;
    // estimate = 63 * P / 64 regardless of partitioning (merge-safe)
    val big = spark.range(1, 1001, 1, 8).select(col("id").as("h"))
      .agg(Graft.kmvSketch(col("h"), 64)).collect()(0).getDouble(0)
    assert(big == 63.0 * 2147483647L / 64.0)
    // duplicates don't inflate the estimate
    val dup = spark.range(1, 1001, 1, 8)
      .select(explode(array(col("id"), col("id"), col("id"))).as("h"))
      .agg(Graft.kmvSketch(col("h"), 64)).collect()(0).getDouble(0)
    assert(dup == big)
  }

  test("saltedJoin == plain join (row multiset), including skewed keys") {
    val probe = Seq.tabulate(100)(i => (if (i < 80) 1L else i.toLong, i.toLong))
      .toDF("k", "p") // 80% of rows share key 1 (skew)
    val build = Seq((1L, "hot"), (85L, "cold"), (999L, "unmatched"))
      .toDF("k", "b")
    val fast = graft.operators.SaltedJoin.saltedJoin(probe, build, "k", r = 8)
      .select("k", "p", "b").collect().map(_.toString).sorted.toSeq
    val plain = probe.join(build, "k")
      .select("k", "p", "b").collect().map(_.toString).sorted.toSeq
    assert(fast == plain)
    assert(fast.size == 81, "80 hot-key rows + 1 cold")
  }

  test("Sampling: hash gate is deterministic, partition-invariant, " +
       "stratum rates monotone") {
    import graft.pipeline.Sampling
    val ids = spark.range(0, 2000).select(col("id").as("doc_id"),
      (col("id") % 3).cast("string").as("lang"))
    val once = Sampling.sampleByHash(ids, col("doc_id"), 300)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.sampleByHash(ids.repartition(7), col("doc_id"), 300)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once == again, "same split across runs AND repartitionings")
    assert(once.size > 400 && once.size < 800, s"~30% kept, got ${once.size}")
    // nested splits: a 100‰ sample is a subset of the 300‰ sample
    val tighter = Sampling.sampleByHash(ids, col("doc_id"), 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tighter.subsetOf(once), "hash gates nest (bucket < r1 < r2)")
    // stratified: per-stratum counts follow the configured rates
    val strat = Sampling.stratifiedSample(ids, col("doc_id"), col("lang"),
      Map("0" -> 800), defaultPermille = 100)
    val byLang = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("0") > byLang.getOrElse("1", 0L) * 3,
      "800‰ stratum keeps far more than 100‰ strata")
  }

  test("normalizeText: idempotent; collapses case/punct/whitespace variants") {
    val df = Seq(
      (1L, "  Hello,   World!!  "),
      (2L, "hello world"),
      (3L, "HELLO\t\nWORLD")).toDF("doc_id", "text")
    val out = TextAnalysis.normalized(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.values.toSet == Set("hello world"),
      "cosmetic variants collapse to one canonical form")
    // idempotence: normalizing the normalized text is a no-op
    val twice = TextAnalysis.normalized(
      TextAnalysis.normalized(df, "doc_id", "text")
        .select(col("doc_id"), col("norm_text").as("text")),
      "doc_id", "text").collect()
    assert(twice.forall(r => !r.getBoolean(2)), "second pass changes nothing")
  }

  test("filterDecision: first failing rule wins; ok rows keep") {
    val df = Seq(
      (1L, "short"),                                        // < 100 chars
      (2L, ("x " * 9).trim),                                // short AND few tokens -> too_short first
      (3L, "a" * 150),                                      // 1 token -> too_few_tokens
      (4L, ("112233 445566 " * 20).trim),                   // alpha 0 -> low_alpha
      (5L, ("meaningful words compose this sentence " * 5).trim)) // ok
      .toDF("doc_id", "text")
    val out = TextAnalysis.filterDecision(df, "doc_id", "text",
        minChars = 100, maxChars = 20000, minTokens = 20, minAlphaRatio = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(out(1) == ("too_short", false))
    assert(out(2) == ("too_short", false), "ordered CASE: first rule wins")
    assert(out(3) == ("too_few_tokens", false))
    assert(out(4) == ("low_alpha", false))
    assert(out(5) == ("ok", true))
  }

  test("updateCentroids: member means match a driver-side recompute") {
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(1f, 0.2f)), (3L, Seq(0.1f, 1f)))
      .toDF("vec_id", "embedding")
    val assigned = SimilarityOps.assignToCentroids(emb, "vec_id", "embedding", 2)
      .select("vec_id", "centroid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = Map(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
      2L -> Seq(1.0, 0.2), 3L -> Seq(0.1, 1.0))
    val expect = assigned.groupBy(_._2).flatMap { case (c, members) =>
      val vs = members.keys.map(vecs).toSeq
      (1 to 2).map { pos =>
        val m = vs.map(v => v(pos - 1).toFloat.toDouble).sum / vs.size
        (c, pos) -> BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val got = SimilarityOps.updateCentroids(emb, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == expect)
  }

  test("cms_sketch: estimate >= exact for every key, partition-invariant, " +
       "never-colliding keys exact") {
    Graft.install(spark)
    val n = 500
    // zipf-ish: key k appears n/k times
    val rows = (1 to 50).flatMap(k => Seq.fill(n / k)(s"key$k"))
    val df = rows.toDF("tok")
      .select(col("tok"), TextFunctions.md5Long(col("tok")).as("h"))
    def run(d: org.apache.spark.sql.DataFrame) = {
      val sk = d.agg(Graft.cmsSketch(col("h"), 4, 256).as("sk"))
      d.groupBy("tok", "h").agg(count(lit(1)).as("exact"))
        .crossJoin(broadcast(sk))
        .select(col("tok"), col("exact"),
          Graft.cmsEstimate(col("sk"), col("h"), 4, 256).as("est"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    val out = run(df)
    assert(out.forall { case (_, exact, est) => est >= exact },
      "CMS never undercounts")
    assert(out.count { case (_, exact, est) => est == exact } > out.length / 2,
      "most keys don't collide in all 4 rows at this load factor")
    // merge correctness: same sketch whatever the partitioning
    val out2 = run(df.repartition(13))
    assert(out.sortBy(_._1).sameElements(out2.sortBy(_._1)),
      "element-wise merge is partition-invariant")
  }

  test("quality/language/fingerprint: empty text is scored, not crashed") {
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .filter(col("doc_id") === 5).collect()(0)
    assert(q.getDouble(1) == 0.0 && q.getDouble(2) == 0.0)
    val l = TextAnalysis.languageId(docs, "doc_id", "text")
      .filter(col("doc_id") === 5).collect()(0)
    assert(l.getString(2) == "unknown")
    val f = TextAnalysis.fingerprints(docs, "doc_id", "text")
      .filter(col("doc_id") === 5).collect()(0)
    assert(f.getLong(1) == 0L)
  }

  test("funnelTimes: ordered semantics — earlier out-of-order steps don't count") {
    import spark.implicits._
    val ev = Seq(
      (1L, 5L, "click"), (1L, 10L, "view"), (1L, 20L, "click"),
      (1L, 30L, "purchase"),
      (2L, 5L, "purchase"), (2L, 10L, "view"),
      (3L, 7L, "click"))
      .toDF("user_id", "ts_ns", "event_type")
    val out = graft.operators.EventAnalytics
      .funnelTimes(ev, "user_id", "ts_ns", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 10L, 20L, 30L),  // click@5 precedes the view — ignored
      (2L, 10L, -1L, -1L)), // purchase@5 precedes the view — no conversion
      "user 3 never enters the funnel (no view)")
  }

  test("cohortRetention: cohort by first period, distinct-active shares") {
    import spark.implicits._
    val ev = Seq((1L, 5L), (1L, 25L), (2L, 12L), (2L, 15L), (3L, 3L), (3L, 14L))
      .toDF("user_id", "ts_ns")
    val out = graft.operators.EventAnalytics
      .cohortRetention(ev, "user_id", "ts_ns", periodLength = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (0L, 0L, 2L, 2L, 1.0),  // users 1,3 in cohort 0, both active at start
      (0L, 1L, 1L, 2L, 0.5),  // user 3 returns in period 1
      (0L, 2L, 1L, 2L, 0.5),  // user 1 returns in period 2
      (1L, 0L, 1L, 1L, 1.0))) // user 2 alone in cohort 1
  }

  test("stickiness: trailing-window distinct actives via explode, no range join") {
    import spark.implicits._
    val ev = Seq((1L, 5L), (1L, 15L), (2L, 15L), (2L, 25L))
      .toDF("user_id", "ts_ns")
    val out = graft.operators.EventAnalytics
      .stickiness(ev, "user_id", "ts_ns", periodLength = 10L, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 1L, 1L, 1.0),
      (1L, 2L, 2L, 1.0),
      (2L, 1L, 2L, 0.5)),  // day 2: only u2 active, window saw u1+u2
      "window rows beyond the last active day drop with the inner join")
  }

  test("transitionMatrix: per-user lag pairs, per-prev normalized") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"), (1L, 3L, 30L, "a"),
      (2L, 4L, 10L, "a"), (2L, 5L, 20L, "a"))
      .toDF("user_id", "event_id", "ts_ns", "event_type")
    val out = graft.operators.EventAnalytics
      .transitionMatrix(ev, "user_id", "ts_ns", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      ("a", "a", 1L, 0.5), ("a", "b", 1L, 0.5), ("b", "a", 1L, 1.0)))
  }

  test("rollingAnomaly: exact integer window sums, null z on zero variance") {
    import spark.implicits._
    // periods (len 10): p0 1 event, p1 3 events, p2 2 events
    val ev = Seq(5L, 11L, 12L, 13L, 21L, 22L).map(("x", _))
      .toDF("k", "ts_ns")
    val out = graft.operators.EventAnalytics
      .rollingAnomaly(ev, "k", "ts_ns", periodLength = 10L, window = 3)
      .select("period", "n", "w_n", "w_sum", "z_num", "z_den2", "z")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) Double.NaN else r.getDouble(6)))
      .sortBy(_._1)
    // p0: w=[1] var 0 -> null; p1: w=[1,3] z=(2*3-4)/sqrt(2*10-16)=1.0;
    // p2: w=[1,3,2] z=(3*2-6)/sqrt(3*14-36)=0.0
    assert((out(0)._1, out(0)._2, out(0)._3, out(0)._4) == ((0L, 1L, 1L, 1L))
      && out(0)._5 == 0L && out(0)._6 == 0L && out(0)._7.isNaN)
    assert(out(1) == ((1L, 3L, 2L, 4L, 2L, 4L, 1.0)))
    assert(out(2) == ((2L, 2L, 3L, 6L, 0L, 6L, 0.0)))
  }

  test("scd2History: repeats collapse; intervals chain; last row open") {
    import spark.implicits._
    val log = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "a"),  // repeat collapses
      (1L, 3L, 3L, "b"), (1L, 4L, 4L, "a"),
      (2L, 5L, 9L, "x"))
      .toDF("user_id", "event_id", "ts_ns", "event_type")
    val out = graft.operators.EventAnalytics
      .scd2History(log, "user_id", "ts_ns", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      (1L, "a", 1L, 3L, false), (1L, "b", 3L, 4L, false),
      (1L, "a", 4L, -1L, true), (2L, "x", 9L, -1L, true)))
  }

  test("gapFill: holes zero-fill inside each key's span, not outside") {
    import spark.implicits._
    val ev = Seq(("x", 1L), ("x", 5L), ("x", 25L), ("y", 12L))
      .toDF("k", "ts_ns")
    val out = graft.operators.EventAnalytics
      .gapFill(ev, "k", "ts_ns", periodLength = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      ("x", 0L, 2L), ("x", 1L, 0L), ("x", 2L, 1L), ("y", 1L, 1L)))
  }

  test("growthAccounting: new vs returning split; cumulative base") {
    import spark.implicits._
    val ev = Seq((1L, 5L), (1L, 15L), (2L, 15L), (2L, 16L))
      .toDF("user_id", "ts_ns")
    val out = graft.operators.EventAnalytics
      .growthAccounting(ev, "user_id", "ts_ns", periodLength = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 1L, 1L, 0L, 1L),   // u1 appears
      (1L, 2L, 1L, 1L, 2L)))  // u2 new, u1 returns
  }

  test("topPaths: sessions bound sequences; short sessions emit none") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "c"),
      (1L, 4L, 4L, "d"),
      (2L, 5L, 1L, "a"), (2L, 6L, 2L, "b"),           // session of 2: no path
      (2L, 7L, 100L, "c"), (2L, 8L, 101L, "d"), (2L, 9L, 102L, "e"))
      .toDF("user_id", "event_id", "ts_ns", "event_type")
    val out = graft.operators.EventAnalytics
      .topPaths(ev, "user_id", "ts_ns", "event_id", "event_type",
        gapNs = 10L, pathLen = 3, topK = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "a>b>c", 1L), (2, "b>c>d", 1L), (3, "c>d>e", 1L)),
      "user 2's first session is too short; the gap splits its paths")
  }

  test("sessionStats: gap splits sessions; single-event session is a bounce") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 20L),
      (2L, 4L, 100L))
      .toDF("user_id", "event_id", "ts_ns")
    val out = graft.operators.EventAnalytics
      .sessionStats(ev, "user_id", "ts_ns", "event_id", gapNs = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 1L, 1L, 2L, 2L, 1L, false),   // events 1,2 share a session
      (1L, 2L, 20L, 20L, 1L, 0L, true),  // the 18ns gap opens session 2
      (2L, 1L, 100L, 100L, 1L, 0L, true)))
  }

  test("incrementalComponents: delta fold equals full recompute") {
    import spark.implicits._
    // existing: {1,2} labeled 1; {3} and {4} singletons; 5 untouched
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 5L))
      .toDF("id", "component")
    val delta = Seq((2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = graft.graph.Components
      .incrementalComponents(labels, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 5L)),
      "merged components take the min of mins; untouched 5 is unchanged")
    // intra-component delta edge is a no-op
    val noop = graft.graph.Components
      .incrementalComponents(labels, Seq((1L, 2L)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(noop.toSeq == labels.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
  }

  test("aucByGroup: per-cohort midranks match the single-group AUC") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, false), ("a", 2L, false), ("a", 2L, true), ("a", 3L, true),
      ("b", 1L, false), ("b", 2L, false), ("b", 3L, true), ("b", 4L, true))
      .toDF("g", "s", "lbl")
    val out = graft.pipeline.Stats.aucByGroup(df, "g", "s", "lbl")
      .collect().map(r => (r.getString(0), r.getDouble(3))).sortBy(_._1)
    assert(out.toSeq == Seq(("a", 0.875), ("b", 1.0)),
      "cohort a reproduces the q175 tie case; cohort b separates perfectly")
  }

  test("auc: midrank tie handling matches the pairwise definition") {
    import spark.implicits._
    // pairs (pos, neg): (2,1)=1, (2,2)=0.5, (3,1)=1, (3,2)=1 -> 3.5/4
    val df = Seq((1L, false), (2L, false), (2L, true), (3L, true))
      .toDF("s", "lbl")
    val r = graft.pipeline.Stats.auc(df, "s", "lbl").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == (2L, 2L, 0.875))
    val perfect = Seq((1L, false), (2L, false), (3L, true), (4L, true))
      .toDF("s", "lbl")
    assert(graft.pipeline.Stats.auc(perfect, "s", "lbl")
      .collect()(0).getDouble(2) == 1.0)
  }

  test("keywordInContext: boundary clamps and mid-doc windows") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c x"),              // hit at pos 0: left clamp
      (2L, "z z a b c z z"),        // mid-doc full window
      (3L, "a b x c"))              // no hit
      .toDF("doc_id", "text")
    val out = graft.pipeline.Corpus
      .keywordInContext(docs, "doc_id", "text", "a b c", window = 2, n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 0, "a b c x"), (2L, 2, "z z a b c z z")))
  }

  test("stopwordProfile: df gate and token-stream shares") {
    import spark.implicits._
    val docs = Seq("the cat", "the dog", "the bird", "rare term")
      .toDF("text")
    val out = graft.pipeline.Corpus.stopwordProfile(docs, "text", 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq == Seq(("the", 3L, 3L, 0.375)),
      "only 'the' clears the 50% df gate; 3 of 8 stream tokens")
  }

  test("stopwordProfile: fractional df gate FLOORS (odd corpus × 0.5)") {
    import spark.implicits._
    // n=3, dfShare=0.5 -> gate floor(1.5)=1 on BOTH engines; a
    // round-to-nearest gate (2) would drop the df=1 terms
    val docs = Seq("the cat", "the dog", "the").toDF("text")
    val out = graft.pipeline.Corpus.stopwordProfile(docs, "text", 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq(("cat", 1L), ("dog", 1L), ("the", 3L)))
  }

  test("vocabGrowth: corpus smaller than one checkpoint yields 0 rows") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    // max(doc_id)=2 < checkpointEvery=10: Spark's sequence(10, 2, 10)
    // would throw 'Illegal sequence boundaries'; the guard returns the
    // DuckDB range() semantics — an empty checkpoint set
    assert(graft.pipeline.Corpus
      .vocabGrowth(docs, "doc_id", "text", checkpointEvery = 10L)
      .count() == 0L)
  }

  test("vocabGrowth: cumulative distinct terms via first-occurrence docs") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "d"), (4L, "a"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Corpus
      .vocabGrowth(docs, "doc_id", "text", checkpointEvery = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((2L, 3L, 4L), (4L, 4L, 6L)),
      "checkpoint 2: vocab {a,b,c} over 4 tokens; checkpoint 4: +d")
  }

  test("tfidfTags: rare repeated terms out-rank corpus-wide commons") {
    import spark.implicits._
    val docs = Seq((1L, "zebra zebra common"), (2L, "common apple"),
      (3L, "common pear")).toDF("doc_id", "text")
    val out = graft.pipeline.Corpus.tfidfTags(docs, "doc_id", "text", k = 2)
      .filter(col("id") === 1L)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.head == (1, "zebra", 2L),
      "tf=2 on a df=1 term beats the df=3 'common'")
    assert(out(1)._2 == "common")
  }

  test("diurnalProfile: hour buckets and within-key shares") {
    import spark.implicits._
    val h = 3600L * 1000 * 1000 * 1000
    val ev = Seq(("a", 0L), ("a", h / 2), ("a", 5 * h), ("a", 25 * h))
      .toDF("k", "ts")
    val out = graft.operators.EventAnalytics.diurnalProfile(ev, "k", "ts")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((0L, 2L, 0.5), (1L, 1L, 0.25), (5L, 1L, 0.25)),
      "hour 25 wraps to hour 1; two events share hour 0")
  }

  test("clusterLabels: distinctive terms rank by count x idf") {
    import spark.implicits._
    val docs = Seq((1L, "zebra apple"), (2L, "zebra banana"),
      (3L, "apple banana common")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val out = graft.pipeline.Corpus
      .clusterLabels(docs, "doc_id", "text", clusters, k = 2)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    // zebra: 2 cluster docs x idf(df=2) beats apple/banana (1 doc each)
    assert(out.head == (1, "zebra", 2L))
    assert(out(1)._2 == "apple", "count ties break lexicographically")
  }

  test("embeddingDrift: identical slices give cosine 1.0 and zero diffs") {
    import spark.implicits._
    val emb = Seq((0L, Seq(1f, 2f)), (1L, Seq(1f, 2f)),
      (2L, Seq(-1f, 3f)), (3L, Seq(-1f, 3f)))
      .toDF("vec_id", "embedding")
    val r = graft.similarity.SimilarityOps
      .embeddingDrift(emb, "vec_id", "embedding", col("vec_id") % 2 === 0)
      .collect()(0)
    assert((r.getDouble(0), r.getLong(1), r.getLong(2)) == (1.0, 0L, 0L))
  }

  test("minhashAccuracy: identical docs estimate 1.0 with zero error") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "a b c d f")).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup
      .minhashAccuracy(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(t => (t._1, t._2))
    val exactPair = out.find(t => t._1 == 1L && t._2 == 2L).get
    assert(exactPair._3 == 1.0 && exactPair._4 == 1.0 &&
      exactPair._5 == 0.0,
      "identical shingle sets: exact and estimated Jaccard both 1.0")
    assert(out.forall(t => t._5 >= 0.0 && t._5 <= 1.0),
      "errors are absolute and bounded")
  }

  test("dupEvidence: shared count, jaccard and the sorted sample") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d e")).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup
      .dupEvidence(docs, "doc_id", "text", n = 3, threshold = 0.5, sampleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
    assert(out.toSeq == Seq((1L, 2L, 2L, 0.666667, "a b c|b c d")))
  }

  test("linearAttribution: session-scoped equal credit, later sessions " +
    "excluded") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 1L, "view"), (1L, 2L, 2L, "click"), (1L, 3L, 3L, "purchase"),
      (1L, 4L, 100L, "view"),                 // next session: no credit
      (2L, 5L, 1L, "purchase"))               // conversion w/o touches
      .toDF("user_id", "event_id", "ts_ns", "event_type")
    val out = graft.operators.EventAnalytics
      .linearAttribution(ev, "user_id", "ts_ns", "event_id", "event_type",
        Seq("view", "click"), "purchase", gapNs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(4))).sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq((1L, 3L, 1L, 0.5), (1L, 3L, 2L, 0.5)),
      "both same-session touches get 1/2; user 2 converts organically")
  }

  test("funnelRates: step counts and step-to-step rates") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"),
      (2L, 1L, "view"), (2L, 2L, "click"),
      (3L, 1L, "view"),
      (4L, 1L, "click"))  // never enters: no view
      .toDF("user_id", "ts_ns", "event_type")
    val out = graft.operators.EventAnalytics
      .funnelRates(ev, "user_id", "ts_ns", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).sortBy(_._1)
    assert(out.toSeq == Seq((1, "view", 3L, -1.0),
      (2, "click", 2L, 0.666667), (3, "purchase", 1L, 0.5)))
  }

  test("churnLabels: recency measured against the corpus horizon") {
    import spark.implicits._
    val ev = Seq((1L, 0L, "view"), (1L, 50L, "purchase"),
      (2L, 80L, "view"), (2L, 100L, "view")).toDF("user_id", "ts", "t")
    val out = graft.operators.EventAnalytics
      .churnLabels(ev, "user_id", "ts", "t", "purchase", churnNs = 30L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 50L, 50L, true),   // last seen 50ns before horizon
      (2L, 2L, 0L, 20L, 0L, false)))
  }

  test("behaviorEntropy: uniform two-type mix scores ln2 in nano-nats") {
    import spark.implicits._
    val ev = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "a"))
      .toDF("user_id", "t")
    val out = graft.operators.EventAnalytics
      .behaviorEntropy(ev, "user_id", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, 2L, 693147180L), (2L, 2L, 1L, 0L)),
      "two cells of 0.5*ln2 nano-rounded; single-type user scores 0")
  }

  test("giniByGroup: uniform values score 0; full concentration 2/3 at n=3") {
    import spark.implicits._
    val df = Seq(("u", 1L, 1L), ("u", 1L, 2L), ("u", 1L, 3L),
      ("c", 0L, 4L), ("c", 0L, 5L), ("c", 4L, 6L)).toDF("g", "v", "id")
    val out = graft.pipeline.Stats.giniByGroup(df, "g", "v", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(("c", 3L, 0.666667), ("u", 3L, 0.0)))
  }

  test("ngramContainmentPairs: quoted subset scores 1.0 one way only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),            // shingles {abc, bcd}
      (2L, "a b c d e f"))        // shingles {abc, bcd, cde, def}
      .toDF("doc_id", "text")
    val out = graft.pipeline.Dedup
      .ngramContainmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)),
      "1 ⊂ 2 gives C(1→2)=1.0; C(2→1)=0.5 is under the threshold")
  }

  test("rendezvousShards: growing n to n+1 moves ~1/(n+1) of records") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("id")
    val s8 = graft.pipeline.Export.rendezvousShards(df, "id", 8)
    val s9 = graft.pipeline.Export.rendezvousShards(df, "id", 9)
      .select(col("id"), col("shard").as("s9"))
    val moved = s8.join(s9, "id")
      .filter(col("s9") =!= col("shard")).count()
    val rate = moved.toDouble / 2000.0
    assert(rate > 0.05 && rate < 0.18,
      s"HRW resize movement ~1/9, got $rate (mod-sharding would be ~0.89)")
    // the survivors keep their EXACT shard — the defining property
    val stayed = s8.join(s9, "id").filter(col("s9") === col("shard"))
    assert(stayed.count() == 2000 - moved)
    // contrast: mod-sharding moves almost everything on resize
    val modMoved = df.filter(pmod(col("id"), lit(8)) =!=
      pmod(col("id"), lit(9))).count()
    assert(modMoved.toDouble / 2000.0 > 0.8)
  }

  test("qualityKeepers: longest copy wins, ties to the smallest id") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (4L, 7L))
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("id", "component")
    val out = graft.pipeline.Dedup
      .qualityKeepers(docs, "doc_id", "n_chars", clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 2L, 50L), (4L, 1L, 4L, 7L)),
      "doc 2 beats doc 3 on the id tie; singleton keeps itself")
  }

  test("shardManifest: checksums are mergeable across deliveries") {
    import spark.implicits._
    val a = (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
    val b = (40L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    def m(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Export.shardManifest(df, "id", 4, col("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    val whole = m(a.unionAll(b))
    val merged = (m(a) ++ m(b)).groupBy(_._1).map { case (s, rows) =>
      (s, rows.map(_._2).sum,
        rows.map(r => BigInt(r._3)).sum.mod(BigInt(1L << 60)).toLong)
    }.toSeq.sortBy(_._1)
    assert(whole == merged, "manifest(A ∪ B) folds from the two manifests")
  }

  test("collocationsTopK: frequent pair ranks; hapax pairs are gated") {
    import spark.implicits._
    val docs = (Seq.fill(5)("new york is big") :+ "rare pair").toDF("text")
    val out = graft.pipeline.Corpus.collocationsTopK(docs, "text",
        minCount = 5L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.length == 3 && out.forall(_._3 == 5L),
      "only the 5x bigrams survive minCount; 'rare pair' (1x) is gated")
    assert(out.map(t => (t._1, t._2)).toSet ==
      Set(("new", "york"), ("york", "is"), ("is", "big")))
  }

  test("groupedMedian: lower-median convention, exact attained value") {
    import spark.implicits._
    val df = Seq(("g1", 1L, 1L), ("g1", 3L, 2L), ("g1", 2L, 3L),
      ("g2", 4L, 4L), ("g2", 1L, 5L), ("g2", 3L, 6L), ("g2", 2L, 7L))
      .toDF("g", "v", "id")
    val out = graft.pipeline.Stats.groupedMedian(df, "g", "v", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(("g1", 3L, 2L), ("g2", 4L, 2L)),
      "odd n takes the middle; even n takes the LOWER middle")
  }

  test("prioritySamplePerGroup: k weighted exemplars per stratum, " +
    "partition-invariant") {
    import spark.implicits._
    val df = (0L until 60L).map(i => (i, s"g${i % 3}", 1.0 + (i % 5)))
      .toDF("id", "grp", "w")
    val out = graft.pipeline.Sampling
      .prioritySamplePerGroup(df, col("id"), "w", Seq("grp"), k = 4)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(4)))
    assert(out.groupBy(_._1).forall(_._2.length == 4),
      "every group yields exactly k rows")
    val again = graft.pipeline.Sampling
      .prioritySamplePerGroup(df.repartition(7), col("id"), "w",
        Seq("grp"), k = 4)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(4)))
    assert(out.sortBy(t => (t._1, t._3)).toSeq ==
      again.sortBy(t => (t._1, t._3)).toSeq,
      "selection and ranks are partition-invariant")
  }

  test("psiProfile: identical distributions score exactly zero; " +
    "a shift scores positive") {
    import spark.implicits._
    val same = (0 until 100).flatMap(i => Seq((i % 10, true), (i % 10, false)))
      .toDF("v", "a")
    val z = graft.pipeline.Stats.psiProfile(same, "v", col("a"), bins = 4)
      .collect().map(_.getLong(3))
    assert(z.forall(_ == 0L), "equal per-bin counts give exact-zero PSI")
    val shifted = ((0 until 100).map(i => (i % 10, true)) ++
      (0 until 100).map(i => (i % 10 + 5, false))).toDF("v", "a")
    val psi = graft.pipeline.Stats.psiProfile(shifted, "v", col("a"), bins = 4)
      .collect().map(_.getLong(3)).sum
    assert(psi > 200000000L, s"a 5-unit location shift is a large PSI ($psi)")
  }

  test("sortedNeighborhoodPairs: rank-window candidates, exact verify") {
    import spark.implicits._
    val df = Seq((1L, "aa"), (2L, "ab"), (4L, "zz"), (3L, "ac"))
      .toDF("id", "name")
    val out = graft.pipeline.Dedup
      .sortedNeighborhoodPairs(df, "id", "name", window = 2, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1)),
      "zz is within the window of ab/ac but fails the distance verify")
  }

  test("autocorr: alternating series gives negative lag-1, positive lag-2") {
    import spark.implicits._
    // daily counts [2, 4, 2, 4]: dev = [-4, 4, -4, 4]
    val rows = for {
      (p, n) <- Seq((0L, 2), (1L, 4), (2L, 2), (3L, 4))
      i <- 1 to n
    } yield ("a", p * 10L + i)
    val out = graft.operators.EventAnalytics
      .autocorr(rows.toDF("k", "ts"), "k", "ts", periodLength = 10L,
        lags = Seq(1, 2))
      .collect().map(r => (r.getInt(2), r.getDouble(3))).sortBy(_._1)
    assert(out.toSeq == Seq((1, -0.75), (2, 0.5)),
      "num/den over exact integer deviations: -48/64 and 32/64")
  }

  test("overlapJoin: multi-bin overlaps emit exactly once; touch = 0") {
    import spark.implicits._
    val a = Seq((1L, 0L, 250L), (2L, 400L, 500L)).toDF("aid", "s", "e")
    val b = Seq((9L, 240L, 400L), (8L, 300L, 500L)).toDF("bid", "bs", "be")
    val out = graft.operators.Intervals
      .overlapJoin(a, "s", "e", b, "bs", "be", binNs = 100L)
      .select("aid", "bid", "overlap_ns")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    // (1,9): bins {0,1,2}x{2,3,4} share bin 2 only once; overlap 10
    // (2,8): overlap 100; (2,9): touch at 400 -> overlap 0; (1,8): none
    assert(out.toSeq == Seq((1L, 9L, 10L), (2L, 8L, 100L), (2L, 9L, 0L)))
  }

  test("annRecall: one-block IVF recovers the exact top-k (recall 1.0)") {
    import spark.implicits._
    val emb = (0L until 20L).map(i =>
      (i, Seq((i % 5).toFloat + 1f, (i % 3).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val out = graft.similarity.SimilarityOps
      .annRecall(emb, "vec_id", "embedding", col("vec_id") < 3,
        nCentroids = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    assert(out.length == 3 && out.forall(_._2 == 1.0),
      "a single block holds the full corpus, so IVF == exact")
  }

  test("knnOutliers: the isolated vector ranks first by mean kNN sim") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.01f)),
      (2L, Seq(1f, -0.01f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = graft.similarity.SimilarityOps
      .knnOutliers(emb, "vec_id", "embedding",
        nCentroids = 1, k = 3, bottomK = 2)
      .collect().map(_.getLong(0))
    assert(out.head == 3L, "the orthogonal vector is the top outlier")
  }

  test("groupSplit: a group never straddles splits; permilles must sum") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, i % 50)).toDF("id", "grp")
    val out = graft.pipeline.Sampling.groupSplit(df, "grp",
      Seq(("train", 800), ("val", 100), ("test", 100)))
    val maxSplitsPerGroup = out.groupBy("grp")
      .agg(countDistinct(col("split")).as("k"))
      .agg(max(col("k"))).collect()(0).getLong(0)
    assert(maxSplitsPerGroup == 1L, "every group lands in exactly one split")
    assert(out.count() == 300L, "assignment never drops rows")
    intercept[IllegalArgumentException] {
      graft.pipeline.Sampling.groupSplit(df, "grp", Seq(("train", 500)))
    }
  }

  test("mutualInformationCells: independent columns score zero; PMI exact") {
    import spark.implicits._
    val indep = Seq(("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"))
      .toDF("x", "y")
    val z = graft.pipeline.Corpus.mutualInformationCells(indep, "x", "y")
      .collect().map(_.getLong(3))
    assert(z.forall(_ == 0L), "uniform independent grid has zero PMI")
    val dep = Seq(("a", "c"), ("a", "c"), ("b", "d"), ("b", "d"))
      .toDF("x", "y")
    val out = graft.pipeline.Corpus.mutualInformationCells(dep, "x", "y")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2))
    // (2/4)·ln(2·4/(2·2))·1e9 = 0.5·ln2·1e9 = 346573590
    assert(out.toSeq == Seq(("a", "c", 2L, 346573590L),
      ("b", "d", 2L, 346573590L)))
  }

  test("cusumChangepoint: level shift peaks the integer cusum at the shift") {
    import spark.implicits._
    // counts per period: [1, 1, 5, 5] -> dev = [-8,-8,8,8] (x4 scale),
    // cusum = [-8,-16,-8,0]: the changepoint is period 1 (|..|=16)
    val ev = (Seq.fill(1)(0L) ++ Seq.fill(1)(10L) ++
        Seq.fill(5)(20L) ++ Seq.fill(5)(30L))
      .map(t => ("a", t)).toDF("k", "ts_ns")
    val r = graft.operators.EventAnalytics
      .cusumChangepoint(ev, "k", "ts_ns", periodLength = 10L)
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (4L, 12L, 1L, 16L))
  }

  test("holtForecast: hand-traced level/trend recurrence and forecast") {
    import spark.implicits._
    // counts [4, 8, 12]: l=[4e6, 5e6, 6937500], b=[0, 250000, 671875]
    val ev = (Seq.fill(4)(0L) ++ Seq.fill(8)(10L) ++ Seq.fill(12)(20L))
      .map(t => ("a", t)).toDF("k", "ts_ns")
    val out = graft.operators.EventAnalytics
      .holtForecast(ev, "k", "ts_ns", periodLength = 10L,
        alphaDen = 4, horizon = 2)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 4000000L, 0L, 8281250L),
      (1L, 5000000L, 250000L, 8281250L),
      (2L, 6937500L, 671875L, 8281250L)),
      "forecast = last level + horizon * last trend, one value per key")
  }

  test("languageIdConfusion: cells and within-actual rates") {
    import spark.implicits._
    val docs = Seq(
      ("the the", "en"),   // predicted en   (recall hit)
      ("zz zz", "en"),     // predicted other (miss)
      ("zz", "fr"),        // predicted other (true negative)
      ("", "fr"))          // predicted unknown
      .toDF("text", "lang")
    val out = graft.pipeline.TextAnalysis
      .languageIdConfusion(docs, "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      ("en", "en", 1L, 0.5), ("en", "other", 1L, 0.5),
      ("other", "other", 1L, 0.5), ("other", "unknown", 1L, 0.5)))
  }

  test("phraseSearch: shingle candidates need the contiguity verify") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x a b c d y"),        // contains the phrase
      (2L, "a b c x b c d"),      // both shingles, NOT contiguous
      (3L, "a b x c d"))          // neither shingle
      .toDF("doc_id", "text")
    val out = graft.pipeline.Corpus
      .phraseSearch(docs, "doc_id", "text", "a b c d", n = 3)
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L),
      "doc 2 passes the index probe but fails the substring verify")
  }

  test("chiSquare: uniform grid scores zero with dof 1") {
    import spark.implicits._
    val indep = Seq(("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"))
      .toDF("x", "y")
    val r = graft.pipeline.Corpus.chiSquare(indep, "x", "y").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (4L, 4L, 1L, 0L))
  }

  test("packingStats: sequences, last fill and utilization, hand-traced") {
    import spark.implicits._
    // one shard (numShards=1): chunks of 10+10+5 tokens, budget 8:
    // total 25 -> ceil(25/8)=4 sequences, last fill 25%8=1,
    // utilization floor(1000*25/32)=781
    val chunks = Seq((1L, 0, 10L), (1L, 1, 10L), (2L, 0, 5L))
      .toDF("doc_id", "chunk_idx", "n")
    val r = graft.pipeline.Chunking
      .packingStats(chunks, "doc_id", "n", budget = 8, numShards = 1)
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == (3L, 25L, 4L, 1L, 781L))
    // exact multiple: 16 tokens, budget 8 -> 2 sequences, last fill 8
    // (a full final sequence must not report 0), utilization 1000
    val exact = Seq((1L, 0, 16L)).toDF("doc_id", "chunk_idx", "n")
    val e = graft.pipeline.Chunking
      .packingStats(exact, "doc_id", "n", budget = 8, numShards = 1)
      .collect()(0)
    assert((e.getLong(3), e.getLong(4), e.getLong(5)) == (2L, 8L, 1000L))
    // an IDLE shard is capacity waste and must appear as a zero row,
    // not be silently absent: one doc, four shards -> 4 rows, 3 empty
    val one = Seq((1L, 0, 5L)).toDF("doc_id", "chunk_idx", "n")
    val all = graft.pipeline.Chunking
      .packingStats(one, "doc_id", "n", budget = 8, numShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(all.length == 4 && all.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(all.count(_._2 == 0L) == 3 && all.map(_._2).sum == 5L)
  }

  test("skipgramCooccurrence: forward-window pairs, hand-traced") {
    import spark.implicits._
    // "a b c a" with window 2: forward pairs are
    // (a,b),(a,c) from pos1, (b,c),(b,a) from pos2, (c,a) from pos3
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    val out = graft.pipeline.Corpus
      .skipgramCooccurrence(docs, "text", window = 2, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(("a", "b", 1L), ("a", "c", 1L),
      ("b", "a", 1L), ("b", "c", 1L), ("c", "a", 1L)))
    // window never crosses documents: two one-token docs -> no pairs
    val split = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(graft.pipeline.Corpus
      .skipgramCooccurrence(split, "text", 2, 1).count() == 0L)
  }

  test("readabilityProfile: hand-counted sentences/words/vowel groups") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello world. It is good?"), // s=2, w=5, v=6 (e,o|o|i|i|oo)
      (2L, ""),                          // fragment floor: s=1, w=0, v=0
      (3L, "abc def"))                   // s=1, w=2, v=2 (a|e)
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis
      .readabilityProfile(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      // flesch_milli = 206835 - (1015*w)//s - (84600*v)//w, all floored
      (1L, 2L, 5L, 6L, 2500L, 1200L, 206835L - 2537L - 101520L),
      (2L, 1L, 0L, 0L, 0L, 0L, 206835L),
      (3L, 1L, 2L, 2L, 2000L, 1000L, 206835L - 2030L - 84600L)))
  }

  test("chiSquare: empty cells contribute their r·c/n expected term") {
    import spark.implicits._
    // perfect association: (a,c),(b,d) observed; (a,d),(b,c) EMPTY.
    // Each of the 4 grid cells contributes (O·n−r·c)²/(r·c·n) = 0.5,
    // so χ² = n = 2 — an observed-cells-only sum would halve it to 1
    // exactly where dependence is strongest (the r5 ADVICE finding)
    val assoc = Seq(("a", "c"), ("b", "d")).toDF("x", "y")
    val r = graft.pipeline.Corpus.chiSquare(assoc, "x", "y").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (2L, 4L, 1L, 2000000L),
      "n_cells is the FULL kx·ky grid; chi2 = 2.0 in micro units")
  }

  test("chiSquare: NULL categories are excluded from n, marginals and " +
    "the grid (the r6 ADVICE finding)") {
    import spark.implicits._
    // same perfect 2×2 association plus rows with a NULL side; if the
    // NULL rows leaked into the marginals the expected terms (and n)
    // would shift while their observed cells stayed 0
    val assoc = Seq(
      (Some("a"), Some("c")), (Some("b"), Some("d")),
      (None, Some("c")), (Some("a"), None), (None, None)
    ).toDF("x", "y")
    val r = graft.pipeline.Corpus.chiSquare(assoc, "x", "y").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (2L, 4L, 1L, 2000000L),
      "identical to the all-non-null fixture: NULL rows contribute nothing")
  }

  test("periodChanges: calendar lag, not positional — gaps give NULL") {
    import spark.implicits._
    val rows = (Seq.fill(10)(0L) ++ Seq.fill(20)(10L) ++ Seq.fill(5)(30L))
      .map(t => ("a", t)).toDF("k", "ts")
    val out = graft.operators.EventAnalytics
      .periodChanges(rows, "k", "ts", periodLength = 10L,
        dayLag = 1, weekLag = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
      .sortBy(_._1)
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((0L, 10L, -1L), (1L, 20L, 10L), (3L, 5L, -1L)),
      "period 3 has no period-2 base: prev_day is NULL, not period 1's value")
    assert(out(1)._4 == 1.0)
  }

  test("profileDrift: identical slices are stable; drift is flagged") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
    val same = graft.pipeline.Stats.profileDrift(a, a, Seq("id", "v"))
      .collect().map(r => (r.getString(0), r.getDouble(11), r.getBoolean(12)))
      .sortBy(_._1)
    assert(same.forall(t => t._2 == 1.0 && t._3),
      "self-comparison: ndv_ratio 1.0, ranges stable")
    val b = Seq((1L, "x"), (9L, "x")).toDF("id", "v")
    val drift = graft.pipeline.Stats.profileDrift(a, b, Seq("id", "v"))
      .collect().map(r => (r.getString(0), r.getDouble(11), r.getBoolean(12)))
      .sortBy(_._1).toSeq
    assert(drift == Seq(("id", 1.5, false), ("v", 3.0, false)),
      "NDV ratios and range instability surface the drift")
  }

  test("sesForecast: integer micro recurrence, observed periods only") {
    import spark.implicits._
    // counts [4, 8]: s0 = 4e6; s1 = (8e6 + 3*4e6) div 4 = 5e6
    val ev = (Seq.fill(4)(0L) ++ Seq.fill(8)(25L))
      .map(t => ("a", t)).toDF("k", "ts_ns")
    val out = graft.operators.EventAnalytics
      .sesForecast(ev, "k", "ts_ns", periodLength = 10L, alphaDen = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((0L, 4L, 4000000L), (2L, 8L, 5000000L)),
      "period 1 has no events and is skipped (observed-period series)")
  }

  test("expectations: one-scan audit; NULL predicate counts as violation") {
    import spark.implicits._
    val df = Seq(Some(1.0), Some(2.0), None).toDF("x")
    val out = graft.pipeline.Stats.expectations(df, Seq(
        "pos" -> (col("x") > 0.0),
        "nonnull" -> col("x").isNotNull,
        "bounded" -> (col("x") < 10.0),
        "count_is_free" -> lit(true)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)
    assert(out.toSeq == Seq(
      ("bounded", 3L, 1L, false),       // NULL x fails the bound
      ("count_is_free", 3L, 0L, true),
      ("nonnull", 3L, 1L, false),
      ("pos", 3L, 1L, false)))
  }

  test("zscore: exact integer stats, null passthrough, partition-invariant") {
    import spark.implicits._
    val df = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)),
      (4L, Option.empty[Double])).toDF("id", "v")
    val out = graft.pipeline.Stats.zscore(df, "v", scale = 100)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).sortBy(_._1)
    assert(out(0) == ((1L, -1.224745)) && out(1) == ((2L, 0.0)) &&
      out(2) == ((3L, 1.224745)))
    assert(out(3)._2.isNaN, "null value keeps a null z")
    val again = graft.pipeline.Stats.zscore(df.repartition(5), "v", 100)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).sortBy(_._1)
    assert(out.toSeq.toString == again.toSeq.toString)
  }

  test("coalesceIntervals: overlap merges, touch merges, gap splits, " +
    "keys independent") {
    import spark.implicits._
    val iv = Seq(
      ("a", 0L, 10L), ("a", 5L, 20L),   // overlap -> one island
      ("a", 20L, 30L),                  // touching (start == prev end) merges
      ("a", 40L, 50L),                  // gap -> new island
      ("b", 0L, 5L))                    // other key unaffected
      .toDF("k", "s0", "e0")
    val out = graft.operators.Intervals.coalesceIntervals(iv, "k", "s0", "e0")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      ("a", 1L, 0L, 30L, 3L), ("a", 2L, 40L, 50L, 1L),
      ("b", 1L, 0L, 5L, 1L)))
  }

  test("cdcMerge: upsert/delete/insert, highest seq wins, D beats U on ties") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq(
      (2L, "b2", "U", 1L),          // update key 2
      (3L, "c", "D", 2L),           // delete key 3
      (4L, "d", "U", 1L),           // insert key 4
      (5L, "e1", "U", 1L),          // superseded by seq 2...
      (5L, "e2", "U", 2L),          // ...which wins
      (6L, "f", "U", 3L),           // tied seq with a delete...
      (6L, "f", "D", 3L))           // ...delete wins (op asc: D < U)
      .toDF("id", "v", "op", "seq")
    val out = graft.operators.CdcMerge
      .applyChanges(target, changes, Seq("id"), "op", "seq")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (4L, "d"), (5L, "e2")))
  }

  test("copurchasePairs: hand-computed supports and lift; Apriori " +
    "prefilter never changes the frequent-pair set") {
    import spark.implicits._
    // baskets: {1,2,3}, {1,2}, {1,2}, {3,4}, {4} + a dup line (1,b1)
    val bi = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 1L),
      (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L), (13L, 3L), (13L, 4L),
      (14L, 4L)).toDF("b", "i")
    val out = graft.pipeline.Affinity.copurchasePairs(bi, "b", "i", 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // only (1,2): 3 shared baskets of 5 total; n_1 = 3, n_2 = 3
    // lift = 3*5/(3*3) = 1.666667
    assert(out.toSeq == Seq((1L, 2L, 3L, 3L, 3L, 1.666667)))
    // minSupport above every pair count -> empty, not an error
    assert(graft.pipeline.Affinity.copurchasePairs(bi, "b", "i", 4L).isEmpty)
  }

  test("tfidfCosinePairs: identical docs score 1.0, disjoint docs never " +
    "pair, and the threshold is inclusive on the rounded value") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // identical to 1
      (3L, "alpha beta gamma delta zeta"),      // shares 2 3-shingles
      (4L, "one two three four five"))          // disjoint
      .toDF("doc_id", "text")
    val out = graft.pipeline.Corpus
      .tfidfCosinePairs(d, "doc_id", "text", n = 3, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    // identical vectors: cosine 1.0 up to the 1e6 coordinate
    // quantization (each coordinate rounds within ±0.5 unit, so the
    // self-dot lands within ±2e-6 of 1e12)
    assert(out.exists(t => t._1 == 1L && t._2 == 2L &&
      math.abs(t._3 - 1.0) <= 2e-6))
    // 4 shares no shingle with anyone: never a candidate
    assert(!out.exists(t => t._1 == 4L || t._2 == 4L))
    // (1,3) and (2,3) present with the same partial score
    val s13 = out.find(t => t._1 == 1L && t._2 == 3L).map(_._3)
    val s23 = out.find(t => t._1 == 2L && t._2 == 3L).map(_._3)
    assert(s13.isDefined && s13 == s23 && s13.get > 0.0 && s13.get < 1.0)
  }

  test("touchAttribution: first/last touch track the ordered history; " +
    "organic conversions keep NULLs") {
    import spark.implicits._
    val ev = Seq(
      // user 1: click(1) view(2) purchase(3) view(4) purchase(5)
      (1L, 1L, 10L, "click"), (1L, 2L, 20L, "view"), (1L, 3L, 30L, "purchase"),
      (1L, 4L, 40L, "view"), (1L, 5L, 50L, "purchase"),
      // user 2: organic purchase, then a click that must NOT attach
      (2L, 6L, 10L, "purchase"), (2L, 7L, 20L, "click"))
      .toDF("user_id", "event_id", "ts_ns", "event_type")
    val out = graft.operators.EventAnalytics.touchAttribution(ev,
        "user_id", "ts_ns", "event_id", "event_type",
        Seq("click", "view"), "purchase")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(6)).map(_.asInstanceOf[Long])))
      .sortBy(t => (t._1, t._2))
    // (user, conv, first_id, last_id)
    assert(out.toSeq == Seq(
      (1L, 3L, Some(1L), Some(2L)),
      (1L, 5L, Some(1L), Some(4L)),
      (2L, 6L, None, None)))
  }

  test("rfmSegments: bins ascend with the raw feature; code composes " +
    "the three digits") {
    import spark.implicits._
    // 10 users, conversions spaced so recency/frequency/monetary all vary
    val ev = (1L to 10L).flatMap { u =>
      (1L to u).map(i => (u, u * 1000L + i, s"buy", u * 10.0))
    }.map { case (u, ts, t, v) => (u, ts, t, v) }
      .toDF("user_id", "ts_ns", "event_type", "value")
    val out = graft.operators.EventAnalytics.rfmSegments(ev, "user_id",
        "ts_ns", "event_type", "buy", "value", periodNs = 1000L, q = 3)
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getInt(5),
        r.getInt(6), r.getInt(7)))
      .sortBy(_._1)
    // codes are 3 digits of 1..3
    assert(out.forall { case (_, rb, fb, mb, code) =>
      rb >= 0 && rb <= 2 && fb >= 0 && fb <= 2 && mb >= 0 && mb <= 2 &&
        code == (rb + 1) * 100 + (fb + 1) * 10 + mb + 1
    })
    // user 10 converts most, most recently, for the most money:
    // r_bin 0 (most recent), f_bin and m_bin maximal
    val u10 = out.find(_._1 == 10L).get
    assert(u10._2 == 0 && u10._3 == 2 && u10._4 == 2 && u10._5 == 133)
    // frequency bins never decrease as frequency (= user id) grows
    val fbins = out.sortBy(_._1).map(_._3)
    assert(fbins.zip(fbins.tail).forall { case (a, b) => a <= b })
  }

  test("twap: a value held 9x longer weighs 9x; cadence-free") {
    import spark.implicits._
    // key a: 10.0 held for 90 time units, then 20.0 for 10 units, then
    // a final observation closing the span -> twap = (10*90+20*10)/100 = 11
    val ev = Seq(
      ("a", 0L, 1L, 10.0), ("a", 90L, 2L, 20.0), ("a", 100L, 3L, 99.0),
      ("b", 0L, 4L, 5.0))  // single obs: no span -> excluded
      .toDF("k", "ts", "id", "v")
    val out = graft.operators.EventAnalytics.twap(ev, "k", "ts", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("a", 3L, 11.0)))
  }

  test("interpFill: straight line between observations in exact micro " +
    "units; LOCF after last; NULL before first") {
    import spark.implicits._
    // key a: obs 1.0 at period 0, obs 4.0 at period 3 -> 2.0, 3.0 between;
    // period 4 spine requires an event: add obs-less? spine ends at last
    // event period, so add a later obs 4.0 at period 5 -> period 4
    // interpolates flat
    val ev = Seq(
      ("a", 5L, 1L, 1.0), ("a", 305L, 2L, 4.0), ("a", 505L, 3L, 4.0))
      .toDF("k", "ts", "id", "v")
    val out = graft.operators.EventAnalytics
      .interpFill(ev, "k", "ts", "id", "v", periodLength = 100L)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 1.0, false), (1L, 2.0, true), (2L, 3.0, true),
      (3L, 4.0, false), (4L, 4.0, true), (5L, 4.0, false)))
  }

  test("benfordProfile: digits from the cents string; shares sum to 1") {
    import spark.implicits._
    val df = Seq(1234L, 1999L, 2500L, 37L, 990L, 0L, -5L).toDF("cents")
    val out = graft.pipeline.Stats.benfordProfile(df, col("cents"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // 0 and -5 excluded; digits: 1 (1234, 1999), 2 (2500), 3 (37), 9 (990)
    assert(out.map(t => (t._1, t._2)).toSeq ==
      Seq((1, 2L), (2, 1L), (3, 1L), (9, 1L)))
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-9)
  }

  test("tableChecksum: order- and partition-invariant; any single-row " +
    "change moves it") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    def ck(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = graft.pipeline.Stats
        .tableChecksum(d, "t", concat_ws("|", col("k"), col("v")))
        .collect()(0)
      (r.getLong(1), r.getLong(2))
    }
    val base = ck(df)
    assert(base == ck(df.orderBy(col("v").desc)))
    assert(base == ck(df.repartition(7)))
    val changed = ck(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v"))
    assert(changed._1 == base._1 && changed._2 != base._2,
      "same row count, different content -> different checksum")
  }

  test("winnowing: the shared-run guarantee holds, selection is sparse, " +
    "and disjoint docs never pair") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, s"one two $shared three four five six seven"),
      (2L, s"x1 x2 x3 x4 $shared y1 y2 y3 y4"),      // same run, moved
      (3L, "p q r s t u v w p q r s t u v w"))       // disjoint
      .toDF("doc_id", "text")
    // n=3, w=4: a shared run of 8 tokens = 6 shared shingles >= w
    // windows -> at least one common fingerprint MUST be selected
    val pairs = graft.pipeline.Dedup
      .winnowingOverlapPairs(d, "doc_id", "text", n = 3, w = 4,
        minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "the winnowing guarantee: long shared runs always share a fingerprint")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // density: selected fingerprints are a strict subset of positions
    val fp = graft.pipeline.Dedup
      .winnowingFingerprints(d, "doc_id", "text", n = 3, w = 4)
    val nShingles = d.select(explode(graft.functions.TextFunctions
      .shingles(graft.functions.TextFunctions.tokens(col("text")), 3)))
      .count()
    assert(fp.count() < nShingles, "winnowing must sample, not keep all")
  }

  test("bpe learnMerges: hand-computed rounds, greedy overlap handling, " +
    "early exhaustion") {
    import spark.implicits._
    // words: aa x3, ab x2, aaa x1
    val d = Seq((1L, "aa aa ab aaa"), (2L, "aa ab")).toDF("doc_id", "text")
    val out = graft.pipeline.Bpe.learnMerges(d, "text", rounds = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1)
    // r1: (a,a) = 3 (aa) + 2 (aaa, two overlapping pairs) = 5 -> merge
    //     greedy: aaa -> [aa, a] (left-to-right, no re-merge)
    // r2: (a,b) = 2 beats (aa,a) = 1
    // r3: (aa,a) = 1 remains
    // r4: no pairs left -> exhausted after 3 rules
    assert(out.toSeq == Seq(
      (1, "a", "a", 5L), (2, "a", "b", 2L), (3, "aa", "a", 1L)))
  }

  test("bpe encodeDocs: per-doc token counts under learned merges") {
    import spark.implicits._
    // r1 merges (a,b) -> ab; r2 merges (ab,ab) -> abab
    val docs = Seq((1L, "abab abab"), (2L, "ab")).toDF("doc_id", "text")
    def enc(rounds: Int) = graft.pipeline.Bpe
      .encodeDocs(docs, "doc_id", "text", rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(enc(2) == Seq((1L, 2L, 2L), (2L, 1L, 1L)),
      "after both merges every word is one symbol")
    assert(enc(1) == Seq((1L, 2L, 4L), (2L, 1L, 1L)),
      "one merge leaves abab as [ab, ab]")
  }

  test("bpe fertilityByLang: per-language tokens/word in floored milli " +
    "units; zero-token docs drop out") {
    import spark.implicits._
    // words: "the" x2 (en markers), "zz" x3; one merge learns (z,z)
    // -> "the" stays 3 symbols, "zz" collapses to 1
    val docs = Seq((1L, "the the"), (2L, "zz zz zz"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Bpe
      .fertilityByLang(docs, "doc_id", "text", rounds = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(out == Seq(
      ("en", 1L, 2L, 6L, 3000L),   // "the" = [t,h,e]: 3 tokens/word
      ("other", 1L, 3L, 3L, 1000L) // "zz" merged: 1 token/word
    ), s"unexpected fertility table: $out")
  }

  test("termDriftTopK: drift ranks terms over-represented in slice A; " +
    "balanced terms score near zero") {
    import spark.implicits._
    val d = Seq(
      (0L, "aaa aaa aaa common"), (2L, "aaa aaa common"),
      (1L, "bbb bbb bbb common"), (3L, "bbb bbb common"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Corpus
      .termDriftTopK(d, "text", col("doc_id") % 2 === 0, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(3)))
    // aaa only in A -> most positive; bbb only in B -> most negative;
    // common is balanced (2 vs 2) -> |drift| smallest
    assert(out.head._1 == "aaa" && out.head._2 > 0)
    assert(out.last._1 == "bbb" && out.last._2 < 0)
    assert(out(1)._1 == "common" &&
      math.abs(out(1)._2) < math.abs(out.head._2))
  }

  test("theilSenTrend: median pairwise slope resists a single outlier " +
    "day") {
    import spark.implicits._
    // series 10,12,14,16,300 on days 0..4: least squares would chase
    // 300; pairwise-slope median stays ~2
    val rows = for {
      (day, n) <- Seq((0L, 10), (1L, 12), (2L, 14), (3L, 16), (4L, 300))
      i <- 1 to n
    } yield ("a", day * 1000L + i)
    val ev = rows.toDF("k", "ts")
    val out = graft.operators.EventAnalytics
      .theilSenTrend(ev, "k", "ts", periodLength = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // 10 pairs; sorted slopes: 2,2,2,2,3 (d0d3),... median (rank 5) = 2.0
    assert(out.length == 1)
    val (_, nPeriods, nPairs, slope) = out(0)
    assert(nPeriods == 5L && nPairs == 10L)
    assert(slope >= 2.0 && slope <= 3.0,
      s"median slope must ignore the outlier day, got $slope")
  }

  test("locfFill: holes carry the latest earlier observation; leading " +
    "holes stay NULL") {
    import spark.implicits._
    // key a: periods 0 (v=1.0) and 3 (v=9.0); periods 1,2 are holes
    val ev = Seq(
      ("a", 5L, 1L, 1.0), ("a", 305L, 2L, 9.0),
      // two obs inside period 0 of key b: later (ts,id) wins
      ("b", 10L, 3L, 7.0), ("b", 20L, 4L, 8.0))
      .toDF("k", "ts", "id", "v")
    val out = graft.operators.EventAnalytics
      .locfFill(ev, "k", "ts", "id", "v", periodLength = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      ("a", 0L, Some(1.0), false), ("a", 1L, Some(1.0), true),
      ("a", 2L, Some(1.0), true), ("a", 3L, Some(9.0), false),
      ("b", 0L, Some(8.0), false)))
  }

  test("abTest: hand-computed two-proportion z on a tiny cohort") {
    import spark.implicits._
    // variant 0: users 0,2 (1 of 2 converts); variant 1: users 1,3
    // (2 of 2 convert)
    val ev = Seq(
      (0L, "buy"), (0L, "x"), (2L, "x"),
      (1L, "buy"), (3L, "buy"), (3L, "x"))
      .toDF("user_id", "event_type")
    val r = graft.operators.EventAnalytics.abTest(ev, "user_id",
        convPred = col("event_type") === "buy",
        variantExpr = col("user_id") % 2)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 2L, 2L)))
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 1.0 &&
      r.getDouble(6) == 0.5)
    // z = 0.5 / sqrt(0.75*0.25*(1/2+1/2)) = 1.154701
    assert(r.getDouble(7) == 1.154701)
  }

  test("mutualKnn: subset of the kNN edge set, symmetric by " +
    "construction, hubs with asymmetric edges stripped") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.8f, 0.2f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.1f, 0.9f)), (5L, Seq(0.2f, 0.8f)),
      (6L, Seq(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val knn = graft.similarity.SimilarityOps
      .blockedKnn(emb, "vec_id", "embedding", nCentroids = 1, k = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mut = graft.similarity.SimilarityOps
      .mutualKnn(emb, "vec_id", "embedding", nCentroids = 1, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mut.nonEmpty)
    for ((a, b) <- mut) {
      assert(a < b, "canonical pair order")
      assert(knn.contains((a, b)) && knn.contains((b, a)),
        s"($a,$b) must be in BOTH kNN lists")
    }
    // non-vacuous: some kNN edge is NOT mutual
    val mutSet = mut.toSet
    assert(knn.exists { case (a, b) =>
      val c = if (a < b) (a, b) else (b, a)
      !mutSet.contains(c)
    })
  }

  test("snapshotDiff: added/removed/changed classification; unchanged " +
    "rows dropped") {
    import spark.implicits._
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val v2 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v")
    val out = graft.operators.SnapshotDiff.diff(v1, v2, Seq("k"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("inclusionDep: containment counts distinct non-NULL child values") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(5L), None).toDF("c")
    val parent = Seq(1L, 2L, 3L).toDF("p")
    val out = graft.pipeline.Stats.inclusionDep("t", child, "c", parent, "p")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // distinct non-null child = {1,2,5}; 5 missing -> 2/3 contained
    assert(out.toSeq == Seq(("t", 3L, 1L, 0.666667)))
  }

  test("winsorize: in-band values pass through raw; tails clamp to the " +
    "quantile estimates") {
    import spark.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = graft.pipeline.Stats.winsorize(df, "v", bins = 100,
        pLow = 0.05, pHigh = 0.95)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val lo = out.map(_._2).min
    val hi = out.map(_._2).max
    assert(lo > 1.0 && hi < 100.0, "tails must clamp strictly inside")
    // every in-band value is untouched
    assert(out.filter(t => t._1 > lo && t._1 < hi).forall(t => t._1 == t._2))
    // clamped set is monotone: below-lo all map to lo, above-hi to hi
    assert(out.filter(_._1 < lo).forall(_._2 == lo))
    assert(out.filter(_._1 > hi).forall(_._2 == hi))
  }

  test("mergeAggs: base+delta merge is exactly the full recompute, " +
    "including one-sided keys and min/max measures") {
    import spark.implicits._
    val rows = Seq((1L, 5L), (1L, 7L), (2L, 3L), (3L, 9L), (3L, 1L), (4L, 2L))
      .toDF("k", "v")
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        min("v").as("mn"), max("v").as("mx"))
    // split so keys 2 (base-only) and 4 (delta-only) are one-sided
    val merged = graft.operators.IncrementalAgg.mergeAggs(
        agg(rows.filter($"v" >= 3)), agg(rows.filter($"v" < 3)),
        Seq("k"), sumCols = Seq("n", "sv"),
        minCols = Seq("mn"), maxCols = Seq("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    val full = agg(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(merged.toSeq == full.toSeq)
  }
}
