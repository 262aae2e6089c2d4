package graft

import org.apache.spark.sql.functions._
import graft.operators.ZOrder
import graft.pipeline.{Chunking, Corpus, Dedup, Export, Sampling, Stats, TextAnalysis}
import graft.similarity.SimilarityOps

/** Invariants for the training-export operators (chunking, decontam,
  * PII scrub, TF-IDF, inverted index, mix weights, sharding,
  * quantization). The DuckDB oracle (q80-q88) is the cross-engine gate;
  * these pin the algebraic/edge-case properties.
  */
class TrainPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("tokenChunks: stride windows cover every token; short/empty docs") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b"),                            // shorter than one chunk
      (3L, "")                                // empty -> no rows
    ).toDF("doc_id", "text")
    val out = Chunking.tokenChunks(docs, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2, 3), "starts 0,3,6,9")
    assert(d1.map(_._3).toSeq == Seq(4, 4, 4, 1), "last chunk is the tail")
    assert(d1(0)._4 == "t1 t2 t3 t4" && d1(3)._4 == "t10")
    // overlap: consecutive chunks share chunkSize - stride = 1 token
    assert(d1(0)._4.split(" ").last == d1(1)._4.split(" ").head)
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 2, "a b")))
    assert(!out.exists(_._1 == 3L), "empty doc yields no chunks")
    // stride > chunkSize would drop tokens between windows: rejected
    intercept[IllegalArgumentException] {
      Chunking.tokenChunks(docs, "doc_id", "text", chunkSize = 4, stride = 10)
    }
  }

  test("decontaminate: eval overlap flags the copying doc only") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"), // eval (id%10==0)
      (1L, "alpha beta gamma delta epsilon zeta eta"),  // verbatim copy
      (2L, "one two three four five six seven eight"),  // clean
      (3L, "short text")                                // < n tokens
    ).toDF("doc_id", "text")
    val out = Corpus.decontaminate(docs, "doc_id", "text",
        evalPred = col("doc_id") % 10 === 0, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out.exists { case (id, n, c) => id == 1L && n == 3L && c },
      "copy shares all 3 5-gram shingles")
    assert(out.contains((2L, 0L, false)) && out.contains((3L, 0L, false)))
    assert(!out.exists(_._1 == 10L), "eval rows are excluded from output")
  }

  test("epochMixPlan: uniform targets, 4-epoch cap, shortfall arithmetic") {
    // tokens: big = 90, small = 10 -> total 100; budget 2000 milli
    // = 200 tokens, target = 100 per source. big: epochs floor(1000*
    // 100/90) = 1111 (uncapped), effective floor(90*1111/1000) = 99,
    // shortfall 1. small: raw epochs 10000 -> capped 4000, effective
    // 40, shortfall 60.
    val docs = Seq(
      ("big", ("t " * 90).trim),
      ("small", ("t " * 10).trim)
    ).toDF("source", "text")
    val out = Corpus.epochMixPlan(docs, "source", "text",
        budgetFactorMilli = 2000, maxEpochsMilli = 4000)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    assert(out == Seq(
      ("big", 1L, 90L, 100L, 1111L, 99L, 1L),
      ("small", 1L, 10L, 100L, 4000L, 40L, 60L)),
      s"unexpected plan: $out")
  }

  test("evalOverlapReport: per-EVAL-doc collision counts; eval-eval " +
    "sharing does not count; short docs use the whole-doc window") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"), // eval, 3 5-grams
      (20L, "clean eval doc nothing shared here at all"), // eval, 4 5-grams
      (40L, "clean eval doc nothing shared here at all"), // eval copy of 20
      (30L, "tiny"),                                      // eval, < n tokens
      (1L, "alpha beta gamma delta epsilon zeta eta"),    // train copy of 10
      (2L, "one two three four five six seven")           // clean train
    ).toDF("doc_id", "text")
    val out = Corpus.evalOverlapReport(docs, "doc_id", "text",
        evalPred = col("doc_id") % 10 === 0, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(out == Seq(
      (10L, 3L, 3L, 1000L), // every 5-gram collides with train doc 1
      (20L, 4L, 0L, 0L),    // shared only with eval doc 40: not dirty
      (30L, 1L, 0L, 0L),    // whole-doc window, no train hit
      (40L, 4L, 0L, 0L)),
      s"unexpected report: $out")
  }

  test("evalOverlapBySlice: per-slice contaminated share and collision " +
    "totals in floored permille") {
    val docs = Seq(
      (10L, "a", "alpha beta gamma delta epsilon zeta eta"), // contaminated
      (20L, "a", "clean eval doc nothing shared here at all"),
      (40L, "a", "also clean and wholly unlike the training set"),
      (30L, "b", "tiny"),
      (1L, "t", "alpha beta gamma delta epsilon zeta eta"), // train copy
      (2L, "t", "one two three four five six seven")
    ).toDF("doc_id", "source", "text")
    val out = Corpus.evalOverlapBySlice(docs, "doc_id", "text",
        evalPred = col("doc_id") % 10 === 0, sliceCol = "source", n = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(out == Seq(
      ("a", 3L, 1L, 3L, 333L), // doc 10's 3 collisions; 1 of 3 dirty
      ("b", 1L, 0L, 0L, 0L)),
      s"unexpected rollup: $out")
  }

  test("evalNearDupReport: a word-substituted copy is caught by the " +
    "fuzzy gate and missed by the exact 13-gram audit; pairs stay " +
    "strictly eval x train") {
    // 25 tokens; substituting token 13 changes EVERY 13-gram (any
    // 13-window of a 25-token doc contains position 13), so the exact
    // audit sees zero collisions — but only 3 of 23 3-gram shingles
    // change, leaving Jaccard 20/26
    val evalText = (1 to 25).map(i => s"w$i").mkString(" ")
    val trainText =
      (1 to 25).map(i => if (i == 13) "sub" else s"w$i").mkString(" ")
    val docs = Seq(
      (10L, evalText),  // eval
      (20L, evalText),  // eval twin of 10 — eval x eval must not pair
      (1L, trainText),  // paraphrased train copy
      (2L, "zz yy xx ww vv uu tt ss rr qq") // clean train
    ).toDF("doc_id", "text")
    val exact = Corpus.evalOverlapReport(docs, "doc_id", "text",
        evalPred = col("doc_id") % 10 === 0, n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(exact == Map(10L -> 0L, 20L -> 0L),
      s"exact 13-gram audit should report clean: $exact")
    val fuzzy = Corpus.evalNearDupReport(docs, "doc_id", "text",
        evalPred = col("doc_id") % 10 === 0,
        n = 3, k = 16, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(p => (p._1, p._2))
    assert(fuzzy.map(p => (p._1, p._2)) == Seq((10L, 1L), (20L, 1L)),
      s"fuzzy gate should pair each eval doc with train doc 1 only: $fuzzy")
    assert(fuzzy.forall(p => math.abs(p._3 - 20.0 / 26.0) < 1e-5),
      s"verified jaccard should be 20/26: $fuzzy")
  }

  test("sourceNovelty: unique-vocabulary share per source, floored " +
    "permille; a fully-mirrored feed scores zero") {
    val docs = Seq(
      // source a: 2 docs, one gram shared with b, rest unique
      (1L, "a", "red green blue yellow"),   // grams: red green blue|green blue yellow
      (2L, "a", "red green blue cyan"),
      // source b: mirrors one of a's grams + has its own
      (3L, "b", "red green blue"),          // whole-doc <= n... 3 tokens -> 1 gram "red green blue"
      // source c: a pure mirror of b — zero novelty
      (4L, "c", "red green blue")
    ).toDF("doc_id", "source", "text")
    val out = Corpus.sourceNovelty(docs, "text", "source", n = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    // a's distinct grams: {red green blue, green blue yellow,
    //   green blue cyan} — "red green blue" is in b and c, others unique
    assert(out == Seq(
      ("a", 3L, 2L, 666L),
      ("b", 1L, 0L, 0L),
      ("c", 1L, 0L, 0L)), s"unexpected novelty: $out")
  }

  test("sourceOverlapMatrix: a mirrored subset feed is fully contained " +
    "one way, partially the other — asymmetry says who copies whom") {
    val docs = Seq(
      // big: 2 docs, 3 distinct grams
      (1L, "big", "w1 w2 w3 w4"),          // grams: w1 w2 w3 | w2 w3 w4
      (2L, "big", "w2 w3 w4 w5"),          // adds: w3 w4 w5
      // sub: a verbatim mirror of one big doc — both its grams exist
      // in big; big's third gram does not exist in sub
      (3L, "sub", "w1 w2 w3 w4"),
      // lone: disjoint vocabulary, appears in no cross rows with shares
      (4L, "lone", "zz yy xx")
    ).toDF("doc_id", "source", "text")
    val out = Corpus.sourceOverlapMatrix(docs, "text", "source", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(p => (p._1, p._2)).toSeq
    // big's grams: {w1 w2 w3, w2 w3 w4, w3 w4 w5}; sub's: the first two
    assert(out == Seq(
      ("big", "sub", 2L, 3L, 666L),  // 2 of big's 3 grams also in sub
      ("sub", "big", 2L, 2L, 1000L)  // ALL of sub's grams are in big
    ), s"unexpected matrix: $out")
    // lone shares nothing: no row mentions it (inner gram join)
    assert(!out.exists(p => p._1 == "lone" || p._2 == "lone"))
  }

  test("marginalNoveltyCurve: late prefixes of an exhausted feed add " +
    "zero new grams; a diverse feed keeps adding") {
    // source "dup": 4 docs, the last two exact repeats of the first —
    // buckets 3 and 4 contribute nothing new
    // source "fresh": every doc brings a new vocabulary
    val docs = Seq(
      (1L, "dup", "aa bb cc dd"),
      (2L, "dup", "aa bb cc ee"),
      (3L, "dup", "aa bb cc dd"),
      (4L, "dup", "aa bb cc ee"),
      (11L, "fresh", "k1 k2 k3"),
      (12L, "fresh", "m1 m2 m3"),
      (13L, "fresh", "n1 n2 n3"),
      (14L, "fresh", "p1 p2 p3")
    ).toDF("doc_id", "source", "text")
    val out = Corpus.marginalNoveltyCurve(docs, "doc_id", "text",
        "source", buckets = 4, n = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    // dup: doc1 -> {aa bb cc, bb cc dd}, doc2 adds {bb cc ee},
    //      docs 3/4 add nothing -> no rows for buckets 3/4
    assert(out == Seq(
      ("dup", 1L, 2L), ("dup", 2L, 1L),
      ("fresh", 1L, 1L), ("fresh", 2L, 1L), ("fresh", 3L, 1L),
      ("fresh", 4L, 1L)), s"unexpected curve: $out")
  }

  test("boilerplateNgrams: cross-doc df over per-doc distinct grams, " +
    "deterministic (df desc, gram asc) cut") {
    val docs = Seq(
      // "all rights reserved contact us" appears in 3 docs (twice in
      // doc 1 — per-doc distinct must count it once there)
      (1L, "all rights reserved contact us all rights reserved contact us"),
      (2L, "footer all rights reserved contact us end"),
      (3L, "page all rights reserved contact us"),
      (4L, "one unique sentence with no repeats at all")
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Corpus.boilerplateNgrams(docs, "doc_id",
        "text", n = 5, minDf = 2L, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out.head == ("all rights reserved contact us", 3L),
      s"unexpected top gram: $out")
    // every reported gram sits in >= 2 docs and the list is the top-3
    // of the (df desc, gram asc) order
    assert(out.length <= 3 && out.forall(_._2 >= 2L), s"bad cut: $out")
    assert(out == out.sortBy(g => (-g._2, g._1)), s"order violated: $out")
  }

  test("evalOverlapTopGrams: colliding grams ranked by eval reach with " +
    "train df; clean grams absent") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon"), // eval, collides
      (20L, "alpha beta gamma delta epsilon"), // eval, same gram
      (30L, "totally clean eval doc here now"), // eval, no collision
      (1L, "alpha beta gamma delta epsilon"),  // train copy
      (2L, "alpha beta gamma delta epsilon"),  // second train copy
      (3L, "some other training text entirely")
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Corpus.evalOverlapTopGrams(docs, "doc_id",
        "text", evalPred = col("doc_id") % 10 === 0, n = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // one colliding 5-gram: in 2 eval docs, in 2 train docs
    assert(out == Seq(("alpha beta gamma delta epsilon", 2L, 2L)),
      s"unexpected grams: $out")
  }

  test("scrubPii: emails then phones, counted and replaced") {
    val df = Seq(
      (1L, "mail a.user+tag@example.co.uk or call +1-555-123-4567 today"),
      (2L, "two mails x@y.io z@w.dev, digits 12-34 stay (too short)"),
      (3L, "nothing to scrub here")
    ).toDF("id", "text")
    val out = TextAnalysis.scrubPii(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(out(0)._2 == 1 && out(0)._3 == 1)
    assert(out(0)._4 == "mail <EMAIL> or call <PHONE> today")
    assert(out(1)._2 == 2 && out(1)._3 == 0,
      "short digit runs are not phones")
    assert(out(2) == ((3L, 0L, 0L, "nothing to scrub here")))
  }

  test("repetitionRatio: duplicate shingle fraction, exact") {
    val df = Seq(
      (1L, "a b c a b c a b c"), // 7 shingles, 3 distinct
      (2L, "w x y z"),           // 2 shingles, both unique
      (3L, "")                   // shingles([]) = [""] -> ratio 0
    ).toDF("id", "text")
    val out = TextAnalysis.repetitionRatio(df, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out(0) == ((1L, 7L, 3L, BigDecimal(1.0 - 3.0 / 7.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(1) == ((2L, 2L, 2L, 0.0)))
    assert(out(2)._4 == 0.0)
  }

  test("tfidfTopTerms: rare term outranks common term; ties by term asc") {
    val df = Seq(
      (1L, "common rare common common"),
      (2L, "common common"),
      (3L, "common other")
    ).toDF("id", "text")
    val out = Corpus.tfidfTopTerms(df, "id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.head._3 == "rare",
      "df=1 term beats df=3 term despite tf 1 vs 3")
    // idf of an every-doc term is ln(4/4) = 0 -> score 0
    assert(d1(1)._3 == "common" && d1(1)._4 == 0.0)
  }

  test("invertedIndex: df/tf counts and sorted postings") {
    val df = Seq(
      (11L, "x y x"), (2L, "x z"), (5L, "y x")
    ).toDF("id", "text")
    val out = Corpus.invertedIndex(df, "id", "text", minDf = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq("x", "y"), "z has df=1, filtered")
    val x = out.head
    assert(x._2 == 3 && x._3 == 4 && x._4 == "2,5,11",
      "postings sorted numerically, not lexically")
  }

  test("domainMixWeights: shares sum to 1, weight flattens the mix") {
    val df = Seq.fill(3)(("a", "en")).++(Seq(("b", "en")))
      .toDF("source", "lang")
    val out = Corpus.domainMixWeights(df, Seq("source", "lang"))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(out.map(_._3).sum == 1.0)
    assert(out(0) == (("a", 3L, 0.75, 0.666667)))
    assert(out(1) == (("b", 1L, 0.25, 2.0)))
  }

  test("shardAssignments: deterministic, partition-invariant, seq dense") {
    val df = spark.range(200).toDF("id")
    def run(d: org.apache.spark.sql.DataFrame) =
      Export.shardAssignments(d, "id", numShards = 8)
        .select("id", "shard", "seq")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = run(df)
    assert(a == run(df.repartition(7)), "pure function of the key")
    // per shard: seq is exactly 1..count
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSeq.sorted == (1 to rows.size).toSeq)
    }
    assert(a.map(_._2).size == 8, "all 8 shards populated at n=200")
  }

  test("writeShards: partition layout on disk, readable per shard") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    Export.writeShards(spark.range(100).toDF("id"), "id", dir, numShards = 4)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    assert(back.filter(col("shard") === 2).count() ==
      Export.shardAssignments(spark.range(100).toDF("id"), "id", 4)
        .filter(col("shard") === 2).count())
  }

  test("writeJsonlShards: gzip JSONL round-trip preserves rows, shard " +
    "membership, and deterministic in-shard line order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val df = (1L to 100L).map(i => (i, s"doc-$i")).toDF("id", "text")
    Export.writeJsonlShards(df, "id", dir, numShards = 4)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // files are gzip JSONL
    val files = new java.io.File(dir + "/shard=0").listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(files.nonEmpty, "gzip-compressed JSONL parts expected")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.IntegerType)))
    val back = Export.readJsonl(spark, dir, schema)
    assert(back.count() == 100)
    assert(back.select("id", "text").collect().map(r =>
      (r.getLong(0), r.getString(1))).sorted.toSeq ==
      (1L to 100L).map(i => (i, s"doc-$i")))
    // shard membership matches the assignment function
    assert(back.filter(col("shard") === 2).count() ==
      Export.shardAssignments(df, "id", 4)
        .filter(col("shard") === 2).count())
    // in-shard line order IS the seq order (read the raw lines)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(files.head))))
    val seqs = Iterator.continually(in.readLine()).takeWhile(_ != null)
      .map(l => "\"seq\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt)
      .toSeq
    in.close()
    assert(seqs == seqs.sorted && seqs.nonEmpty,
      "lines inside a shard file must appear in seq order")
  }

  test("compact: many small files -> sized file count, data identical") {
    val in = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // fragment: 64 files for 10k rows
    spark.range(10000).toDF("id").repartition(64).write
      .mode("overwrite").parquet(in)
    val totalBytes = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val (nBefore, nAfter, bytes) =
      Export.compact(spark, in, out, targetFileBytes = totalBytes / 4)
    assert(nBefore == 64 && bytes == totalBytes)
    assert(nAfter >= 4 && nAfter <= 6,
      s"ceil(bytes/target)=~4-5 output files, got $nAfter")
    assert(spark.read.parquet(out).agg(sum(col("id"))).collect()(0).getLong(0) ==
      spark.range(10000).agg(sum(col("id"))).collect()(0).getLong(0),
      "compaction moves bytes, never changes rows")
    // never in place
    intercept[IllegalArgumentException] {
      Export.compact(spark, in, in)
    }
  }

  test("quantizeInt8: reconstruction error bounded by half a step") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = SimilarityOps.quantizeInt8(emb, "vec_id", "embedding")
      .join(emb, "vec_id")
      .select(col("vec_id"), col("scale"),
        transform(split(col("qvec"), ","), q => q.cast("int")).as("q"),
        col("embedding"))
      .collect()
    out.foreach { r =>
      val scale = r.getDouble(1)
      val q = r.getSeq[Int](2)
      val x = r.getSeq[Float](3)
      assert(q.forall(v => v >= -127 && v <= 127), "int8 range")
      if (scale > 0) {
        val maxErr = q.zip(x).map { case (qi, xi) =>
          math.abs(qi / scale - xi) }.max
        assert(maxErr <= 0.5 / scale + 1e-9,
          s"vec ${r.getLong(0)}: max reconstruction error $maxErr")
      }
    }
  }

  test("bloomSketch: no false negatives, partition-invariant, exact bit replay") {
    Graft.install(spark)
    val P = graft.functions.TextFunctions.MinhashP
    val bits = 1024; val k = 3
    def positions(h: Long): Seq[Long] =
      (0 until k).map(i => ((2L * i + 1) * h + i.toLong * i + 98765L) % P % bits)
    val keys = (0L until 200L).map(x => (x * 7919L + 13L) % P)
    val sketchRow = keys.toDF("h")
      .agg(Graft.bloomSketch(col("h"), bits, k).as("bloom"))
    val words = sketchRow.collect()(0).getSeq[Long](0)
    assert(words.length == bits / 64, "fixed-size state: bits/64 words")
    // exact bit replay in Scala: the sketch IS the positions set
    val expected = keys.flatMap(positions).toSet
    val actual = (0 until bits).filter(b =>
      (words(b >>> 6) & (1L << (b & 63))) != 0L).map(_.toLong).toSet
    assert(actual == expected, "bit array matches the Scala replay exactly")
    // partition invariance: OR-merge is commutative/associative
    val words32 = keys.toDF("h").repartition(32)
      .agg(Graft.bloomSketch(col("h"), bits, k).as("bloom"))
      .collect()(0).getSeq[Long](0)
    assert(words32 == words, "same sketch from any partitioning")
    // no false negatives: every inserted key probes true (codegen probe)
    val probed = keys.toDF("h").crossJoin(broadcast(sketchRow))
      .select(Graft.bloomContains(col("bloom"), col("h"), bits, k).as("hit"))
      .collect()
    assert(probed.forall(_.getBoolean(0)), "inserted keys always hit")
    // probe side agrees with the Scala membership rule, FPs included
    val fresh = (0L until 500L).map(x => (x * 104729L + 7L) % P)
    val got = fresh.toDF("h").crossJoin(broadcast(sketchRow))
      .select(col("h"), Graft.bloomContains(col("bloom"), col("h"), bits, k).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    fresh.foreach { h =>
      assert(got(h) == positions(h).forall(expected.contains),
        s"probe($h) must equal the bit-set rule")
    }
    // and at this load (200 keys, 1024 bits, kn/m≈0.59) some false
    // positive exists among 500 fresh keys — the filter is lossy by
    // design, deterministically so
    val inserted = keys.toSet
    assert(fresh.exists(h => got(h) && !inserted.contains(h)),
      "expected at least one deterministic false positive")
  }

  test("pqCodes/pqAdcTopK: exact codes, zero seed distortion, ADC order") {
    // dim 8, m=4 (subDim 2), nCodes=4. Seeds 0..3 are flat vectors of
    // value i+1, so every subspace's codebook is {[1,1],[2,2],[3,3],
    // [4,4]} and all assignments are hand-computable in exact floats.
    val vecs = (0 until 4).map { i =>
      (i.toLong, Array.fill(8)((i + 1).toFloat))
    } :+ (4L, Array(1f, 1f, 2f, 2f, 3f, 3f, 4f, 4f)) // exact tile of seeds
    val emb = vecs.toDF("vec_id", "embedding")
    val codes = SimilarityOps.pqCodes(emb, "vec_id", "embedding", m = 4, nCodes = 4)
      .orderBy("vec_id").collect()
    // seed i's code in every subspace is i -> packed i*(1+4+16+64)=85i
    // (bitsPerCode=2); the tiled vector packs (0,1,2,3) -> 228
    assert(codes.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (1L, 85L), (2L, 170L), (3L, 255L), (4L, 228L)))
    assert(codes.forall(_.getDouble(2) == 0.0),
      "every vector is exactly codebook-representable -> zero distortion")
    // ADC from query 4: codes are exact, so adc == true squared L2:
    // d2(1)=2+0+2+8=12, d2(2)=8+2+0+2=12, d2(0)=d2(3)=28 — both tie
    // pairs break by id
    val adc = SimilarityOps.pqAdcTopK(emb, "vec_id", "embedding",
        queryId = 4L, m = 4, nCodes = 4, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(adc.toSeq == Seq((1L, 12.0), (2L, 12.0), (0L, 28.0), (3L, 28.0)))
    // lossy case: a vector strictly between seeds quantizes to the
    // nearer seed (tie to lower code) and reports the exact residual
    val lossy = (vecs :+ (5L, Array.fill(8)(1.2f))).toDF("vec_id", "embedding")
    val r5 = SimilarityOps.pqCodes(lossy, "vec_id", "embedding", m = 4, nCodes = 4)
      .filter(col("vec_id") === 5L).collect()(0)
    assert(r5.getLong(1) == 0L, "1.2 is nearest seed 1 -> code 0 in every sub")
    // residual: 8 dims x (1.2f-1)^2, micro-rounded per subspace then
    // exactly summed — replay the same arithmetic
    val per = BigDecimal(
      (1.2f - 1.0).toDouble * (1.2f - 1.0).toDouble * 2 * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(r5.getDouble(2) == per * 4 / 1e6, "exact integer-micro distortion")
    // PQ-cell dedup: a near-copy of vector 4 (inside every cell) shares
    // its cell and loses the keep flag to the lower id; distinct seeds
    // keep their own singleton cells
    val withDup = (vecs :+
      (6L, Array(1.01f, 1f, 2f, 2f, 3f, 3f, 4f, 4f))).toDF("vec_id", "embedding")
    val dd = SimilarityOps.pqDedup(withDup, "vec_id", "embedding", m = 4, nCodes = 4)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(dd(4) == ((4L, 228L, 2L, true)) && dd(5) == ((6L, 228L, 2L, false)),
      "same cell -> keep lowest id, cell_size 2")
    assert(dd.take(4).forall(t => t._3 == 1L && t._4), "seeds: singleton cells")
    // d % m != 0: subDim = floor(d/m), trailing remainder dims are
    // DROPPED — a dim-10 corpus with m=4 quantizes on its first 8 dims,
    // so a vector differing only in dims 9-10 still gets zero distortion
    val ragged = Seq(
      (0L, Array.fill(10)(1f)),
      (1L, Array.fill(10)(2f)),
      (2L, Array.fill(8)(1f) ++ Array(9f, 9f))) // tail outside all subspaces
      .toDF("vec_id", "embedding")
    val rr = SimilarityOps.pqCodes(ragged, "vec_id", "embedding", m = 4, nCodes = 2)
      .orderBy("vec_id").collect()
    assert(rr.map(_.getDouble(2)).forall(_ == 0.0),
      "remainder dims never enter the quantization error")
    assert(rr(2).getLong(1) == 0L, "vec 2 codes as seed 0 on its first 8 dims")
  }

  test("ivfPqTopK == pqAdcTopK in a single block; ivfPqRecall scores " +
       "exact copies at 1.0") {
    // dim 8, m=4, nCodes=4; seeds 0..3 are orthogonal block-one-hots,
    // so every cross-seed cosine is exactly 0 and every vector is
    // codebook-representable (zero distortion) — ADC distances are
    // exact and hand-checkable
    val vecs = (0 until 4).map { i =>
      (i.toLong, Array.tabulate(8)(j => if (j / 2 == i) 1f else 0f))
    } ++ Seq(10L, 11L).map { id =>
      (id, Array.tabulate(8)(j => if (j / 2 == 1) 1f else 0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    // one coarse cell -> the composed index degenerates to pure ADC
    val a = SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding",
        queryId = 1L, nCentroids = 1, m = 4, nCodes = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = SimilarityOps.pqAdcTopK(emb, "vec_id", "embedding",
        queryId = 1L, m = 4, nCodes = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.map(t => (t._1, t._3)).toSeq == b.toSeq,
      "nCentroids=1 makes IVF-PQ and flat ADC identical")
    assert(a.forall(_._2 == 0L), "one centroid -> every row in cell 0")
    // recall audit: ids 10/11 are exact copies of query 1 — top-2 under
    // the exact cosine (sim 1.0 vs 0.0) AND under ADC (dist 0, the
    // codebook is exact) — and they land in query 1's coarse cell, so
    // the composed index recovers the exact top-2 completely
    val rec = SimilarityOps.ivfPqRecall(emb, "vec_id", "embedding",
        queryPred = col("vec_id") === 1L, nCentroids = 2, m = 4,
        nCodes = 4, k = 2)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rec.toSeq == Seq((1L, 2L, 2L, 1.0)))
  }

  test("ivfPqRecallLadder: nprobe=1 misses the cross-block neighbor, " +
       "nprobe=2 recovers it; rung 1 agrees with ivfPqRecall") {
    // dim 8, m=4 (subDim 2), nCodes=4 (codebook = block one-hots of ids
    // 0-3, scaled on blocks 2/3 so filler ADC stays far), nCentroids=2
    // (c0 = vec0, c1 = vec1). Queries 9 (= vec0, cell c0) and 1 (cell
    // c1). id10 = (.8,.8,1,1,...) sits in cell c1 (L2 1.131 vs 1.442)
    // but is BOTH queries' nearest non-trivial cosine neighbor — the
    // planted cross-block miss. Hand-computed ADC micro-distances:
    // q9: vec0=0, id10=2e6, vec2=vec3=20e6; q1: id10=2e6, vec0=4e6,
    // vec2=vec3=20e6. Exact top-2 is {0,10} for both queries, so
    // nprobe=1 scores 1 hit per query (500 permille) and nprobe=2
    // recovers both (1000).
    val vecs = Seq(
      0L -> Array[Float](1, 1, 0, 0, 0, 0, 0, 0),
      1L -> Array[Float](0, 0, 1, 1, 0, 0, 0, 0),
      2L -> Array[Float](0, 0, 0, 0, 3, 3, 0, 0),
      3L -> Array[Float](0, 0, 0, 0, 0, 0, 3, 3),
      9L -> Array[Float](1, 1, 0, 0, 0, 0, 0, 0),
      10L -> Array[Float](0.8f, 0.8f, 1, 1, 0, 0, 0, 0))
    val emb = vecs.toDF("vec_id", "embedding")
    val qp = col("vec_id") === 9L || col("vec_id") === 1L
    val ladder = SimilarityOps.ivfPqRecallLadder(emb, "vec_id", "embedding",
        queryPred = qp, nCentroids = 2, m = 4, nCodes = 4, k = 2,
        nprobes = Seq(1, 2))
      .orderBy("nprobe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(ladder.toSeq == Seq((1L, 2L, 2L, 4L, 500L),
      (2L, 2L, 4L, 4L, 1000L)))
    // rung 1 must agree with the per-query nprobe=1 audit
    val rec1 = SimilarityOps.ivfPqRecall(emb, "vec_id", "embedding",
        queryPred = qp, nCentroids = 2, m = 4, nCodes = 4, k = 2)
      .agg(org.apache.spark.sql.functions.sum("n_hits")).collect()(0).getLong(0)
    assert(rec1 == ladder(0)._3, "ladder rung 1 == ivfPqRecall total hits")
    // nprobe=1 serving: ivfPqTopK's ranked shortlist must reproduce the
    // assigned-cell semantics (rank 1 IS the argmin cell): query 9's
    // block holds {0,2,3}; nprobe=2 adds cross-block id10 at ADC 2.0
    val t1 = SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding",
        queryId = 9L, nCentroids = 2, m = 4, nCodes = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(t1.toSeq == Seq((0L, 0.0), (2L, 20.0)))
    val t2 = SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding",
        queryId = 9L, nCentroids = 2, m = 4, nCodes = 4, k = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(t2.toSeq == Seq((0L, 0.0), (10L, 2.0)))
  }

  test("spanDupStats: only cross-doc windows count as duplicated") {
    val docs = Seq(
      (1L, "s1 s2 s3 s4 s5 s6 s7 s8 a1 a2"), // 3 windows, 1 shared
      (2L, "s1 s2 s3 s4 s5 s6 s7 s8 b1"),    // 2 windows, 1 shared
      (3L, "c1 c2")                          // short doc -> 1 whole-text window
    ).toDF("doc_id", "text")
    val out = Corpus.spanDupStats(docs, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out(0) == ((1L, 3L, 1L, 0.333333)))
    assert(out(1) == ((2L, 2L, 1L, 0.5)))
    assert(out(2) == ((3L, 1L, 0L, 0.0)))
  }

  test("removeDuplicatedSpans: cross-doc windows cut, unique prose survives") {
    val docs = Seq(
      (1L, "a b c d"),  // windows(n=2): "a b","b c","c d"; "b c" shared w/ 2
      (2L, "x b c y"),  // "x b","b c","c y"
      (3L, "p q"),      // short doc -> whole-text window, duplicated in 4
      (4L, "p q"),
      (5L, "u v w")     // nothing shared -> untouched
    ).toDF("doc_id", "text")
    val out = Corpus.removeDuplicatedSpans(docs, "doc_id", "text", n = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))
      .sortBy(_._1)
    // "b c" covers positions 2-3 in both docs: the flanking tokens survive
    assert(out(0) == ((1L, 4L, 2L, 0.5, "a d")))
    assert(out(1) == ((2L, 4L, 2L, 0.5, "x y")))
    // exact short duplicates vanish entirely
    assert(out(2) == ((3L, 2L, 2L, 1.0, "")))
    assert(out(3) == ((4L, 2L, 2L, 1.0, "")))
    // no cross-doc window -> identity rewrite
    assert(out(4) == ((5L, 3L, 0L, 0.0, "u v w")))
  }

  test("dsirWeights: target-domain text scores above raw, invariantly") {
    val docs = Seq(
      (1L, "bbb bbb bbb bbb"), (2L, "aaa aaa aaa aaa"),
      (3L, "bbb bbb bbb bbb"), (4L, "aaa aaa aaa aaa")
    ).toDF("doc_id", "text")
    val out = Corpus.dsirWeights(docs, "doc_id", "text",
        targetPred = col("doc_id") % 2 === 0, n = 2, buckets = 1024)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(_._1)
    // 4 unigrams + 3 bigrams per doc
    assert(out.forall(_._3 == 7L))
    // target-only vocabulary scores positive, raw-only negative
    assert(out(1)._5 > 0 && out(3)._5 > 0, "target docs look like the target")
    assert(out(0)._5 < 0 && out(2)._5 < 0, "raw docs don't")
    // identical docs get identical integer weights; flags match the predicate
    assert(out(1)._4 == out(3)._4 && out(0)._4 == out(2)._4)
    assert(out.map(_._2).toSeq == Seq(false, true, false, true))
    // partition invariance of the integer fold
    val re = Corpus.dsirWeights(docs.repartition(13), "doc_id", "text",
        targetPred = col("doc_id") % 2 === 0, n = 2, buckets = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
    assert(re.map(_._2).toSeq == out.map(_._4).toSeq)
  }

  test("packSequences: per-shard offsets are the exact running layout") {
    val chunks = Seq(
      (1L, 0, 4), (1L, 1, 4), (2L, 0, 4), (2L, 1, 2), (3L, 0, 4)
    ).toDF("doc_id", "chunk_idx", "n_chunk_tokens")
    val out = Chunking.packSequences(chunks, "doc_id", "chunk_idx",
        "n_chunk_tokens", budget = 10, numShards = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // replay the layout per shard in plain Scala
    val byShard = out.groupBy(_._3).values
    byShard.foreach { rows =>
      var before = 0L
      rows.sortBy(r => (r._1, r._2)).foreach { case (doc, idx, _, seq, off) =>
        assert(seq == before / 10 && off == before % 10,
          s"doc $doc chunk $idx: expected before=$before")
        val tok = chunks.filter(col("doc_id") === doc &&
          col("chunk_idx") === idx).head.getInt(2)
        before += tok
      }
    }
    // partition-invariance: layout is a pure function of the data
    val again = Chunking.packSequences(chunks.repartition(5), "doc_id",
        "chunk_idx", "n_chunk_tokens", budget = 10, numShards = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSet == again.toSet)
  }

  test("vocabCoverage: rank by tf desc, cumulative share reaches 1") {
    val df = Seq((1L, "a a a b b c")).toDF("id", "text")
    val out = Corpus.vocabCoverage(df, "id", "text", k = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1, "a", 3L, 0.5), (2, "b", 2L, 0.833333),
      (3, "c", 1L, 1.0)))
    assert(Corpus.vocabCoverage(df, "id", "text", k = 2).count() == 2)
  }

  test("crossCorpusDedup: exact, near, and new batch docs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"), // exact copy of 1
      (11L, "one two three four five seven"),  // near-dup of 2
      (12L, "totally different content here")  // new
    ).toDF("doc_id", "text")
    val out = Dedup.crossCorpusDedup(corpus, batch, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out(0) == ((10L, true, 1L, false)), "exact dup also jaccard-matches")
    assert(out(1)._2 == false && out(1)._3 == 1L && out(1)._4 == false,
      "3 of 4+4-3 shingles shared = 0.6 >= 0.5")
    assert(out(2) == ((12L, false, 0L, true)))
    // LSH path: verified candidates are a subset of the exact probe's,
    // identical docs always collide (all bands agree), exact flags equal
    val lsh = Dedup.crossCorpusDedupLsh(corpus, batch, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(lsh.map(t => (t._1, t._2)).toSeq == out.map(t => (t._1, t._2)).toSeq,
      "exact_dup probe is unchanged by the LSH candidate path")
    assert(lsh(0)._3 >= 1L, "identical doc collides in every band")
    lsh.zip(out).foreach { case (l, e) =>
      assert(l._3 <= e._3, "LSH n_near never exceeds the exact count")
    }
  }

  test("bm25: rarer term ranks above common, exact spot value") {
    val df = Seq(
      (1L, "x x y"), (2L, "y z"), (3L, "z z z x")
    ).toDF("doc_id", "text")
    val out = Corpus.bm25Scores(df, "doc_id", "text", Seq("x", "z"),
        k1 = 1.2, b = 0.75, topK = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val xs = out.filter(_._1 == "x").sortBy(_._2)
    // N=3, avgdl=3; x: doc1 (tf2, dl3) vs doc3 (tf1, dl4): doc1 wins
    assert(xs.map(t => (t._2, t._3)).toSeq == Seq((1, 1L), (2, 3L)))
    val idfX = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    val exp = BigDecimal(idfX * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(xs.head._5 == exp, s"doc1 x-score ${xs.head._5} != $exp")
    // scores strictly descend within each term group here
    out.groupBy(_._1).values.foreach { g =>
      val s = g.sortBy(_._2).map(_._5)
      assert(s.zip(s.tail).forall { case (a, b) => a >= b })
    }
  }

  test("semanticDedup: lower-id in-centroid near-dup flips keep off") {
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(2f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(0f, 2f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDedup(emb, "vec_id", "embedding",
        nCentroids = 2, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    // centroids are vecs 0 and 1; vec2/vec3 are orthogonal to both and
    // land on centroid 0 (nearer); vec3 then dups against vec2 (cos=1)
    assert(out(0) == ((0L, 0L, 0L, true)))
    assert(out(1) == ((1L, 1L, 0L, true)))
    assert(out(2) == ((2L, 0L, 0L, true)))
    assert(out(3) == ((3L, 0L, 1L, false)), "cos(v3,v2)=1 >= threshold")
  }

  test("temperatureMixWeights: sqrt smoothing, exact nano-unit normalizer") {
    val df = (Seq.fill(100)("a") ++ Seq.fill(25)("b") ++ Seq.fill(4)("c") ++
      Seq("d")).toDF("src")
    val out = Corpus.temperatureMixWeights(df, Seq("src"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    // sqrt counts: 10, 5, 2, 1 -> targets n/18
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._2).toSeq == Seq(100L, 25L, 4L, 1L))
    assert(out.map(_._4).toSeq ==
      Seq(r6(10.0 / 18), r6(5.0 / 18), r6(2.0 / 18), r6(1.0 / 18)))
    // smoothing compresses the ratio between any two groups to its
    // square root but preserves their order; shares sum to ~1
    val byShare = out.sortBy(-_._3)
    assert(byShare.map(_._4).toSeq == byShare.map(_._4).sortBy(-(_: Double)).toSeq,
      "target order follows share order")
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-5)
    assert(byShare.head._4 < byShare.head._3 && byShare.last._4 > byShare.last._3,
      "largest group shrinks, smallest grows")
  }

  test("hardNegatives: band filter, in-block pairs, both directions") {
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(1f, 1f))
    ).toDF("vec_id", "embedding")
    // centroids 0,1; vec2 ties in L2 -> lowest centroid (0); in-block
    // pair (0,2) has sim 1/sqrt(2) in [0.3, 0.9]; (0,1) sim 0 below band
    val out = SimilarityOps.hardNegatives(emb, "vec_id", "embedding",
        nCentroids = 2, lo = 0.3, hi = 0.9, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((0L, 1, 2L, 0.707107), (2L, 1, 0L, 0.707107)),
      "one banded pair, mined from both anchors")
  }

  test("unigramSurprisal: exact micro-nat units from the corpus LM") {
    val df = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // p(a) = p(b) = 2/4; u = round(-ln(0.5)*1e9) = 693147181
    val u = math.round(-math.log(0.5) * 1e9)
    assert(u == 693147181L)
    assert(out(0) == ((1L, 3L, 3 * u, 0.693147)))
    assert(out(1) == ((2L, 1L, u, 0.693147)))
  }

  test("keySkewProfile: exact counts and skew ratio on a known skew") {
    // key "hot" 60 rows, "a".."d" 10 each -> mean 20, skew 3.0
    val df = (Seq.fill(60)("hot") ++ Seq("a", "b", "c", "d").flatMap(Seq.fill(10)(_)))
      .toDF("k")
    val out = Stats.keySkewProfile(df, "k", topK = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(_._1)
    assert(out(0) == ((1, "hot", 60L, 5L, 100L, 60L, 3.0, 0.6)))
    assert(out(1) == ((2, "a", 10L, 5L, 100L, 60L, 3.0, 0.1)),
      "ties rank by key asc")
  }

  test("histogramQuantiles: matches a Scala replay; degenerate input") {
    val vals = (1 to 100).map(_.toDouble)
    val df = vals.toDF("v")
    val out = Stats.histogramQuantiles(df, "v", bins = 10, qs = Seq(0.5, 0.9))
      .collect().map(r => (r.getDouble(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    // replay the estimator in plain Scala
    val (mn, mx, n) = (1.0, 100.0, 100)
    val binOf = (v: Double) => math.min(9, math.floor((v - mn) * 10.0 / (mx - mn)).toInt)
    val counts = vals.groupBy(binOf).view.mapValues(_.size).toMap
    val expected = Seq(0.5, 0.9).map { q =>
      val t = q * n
      val bins = counts.keys.toSeq.sorted
      val cums = bins.scanLeft(0L)((acc, b) => acc + counts(b)).tail
      val i = cums.indexWhere(_ >= t)
      val (bin, cum, c) = (bins(i), cums(i), counts(bins(i)))
      val est = mn + (mx - mn) / 10.0 * (bin + (t - (cum - c)) / c)
      (q, bin, BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(out == expected)
    // all-equal input: every quantile is the value itself
    val flat = Stats.histogramQuantiles(Seq.fill(10)(7.0).toDF("v"), "v",
        bins = 4, qs = Seq(0.5)).collect()
    assert(flat.length == 1 && flat(0).getDouble(2) == 7.0)
    // NULLs carry no mass: estimates match the null-free input
    val withNulls = (vals.map(Option(_)) ++ Seq.fill(50)(Option.empty[Double]))
      .toDF("v")
    val nn = Stats.histogramQuantiles(withNulls, "v", bins = 10, qs = Seq(0.5, 0.9))
      .collect().map(r => (r.getDouble(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(nn == expected, "null rows must not inflate bin counts")
    // q = 0 is ill-defined for a mass-cumulative estimator: rejected
    intercept[IllegalArgumentException] {
      Stats.histogramQuantiles(df, "v", bins = 10, qs = Seq(0.0))
    }
    // empty input: empty result, not a crash
    assert(Stats.histogramQuantiles(df.filter(col("v") > 1e9), "v",
      bins = 10, qs = Seq(0.5)).count() == 0)
    // grouped variant: independent histograms per group, degenerate
    // groups resolve to their constant
    val grouped = (vals.map(("g1", _)) ++ Seq.fill(7)(("g2", 5.0)))
      .toDF("grp", "v")
    val gq = Stats.groupedHistogramQuantiles(grouped, "grp", "v",
        bins = 10, qs = Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(gq.filter(_._1 == "g1").map(t => (t._2, t._3)) ==
      expected.map(t => (t._1, t._3)), "g1 matches the global estimator")
    assert(gq.filter(_._1 == "g2").map(_._3).toSeq == Seq(5.0, 5.0))
  }

  test("zValue interleaves bits; layout files are z-contiguous") {
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L),
      (1L, 1L, 3L), (2L, 3L, 14L), (5L, 2L, 25L))
    val out = cases.toDF("x", "y", "want")
      .select(ZOrder.zValue(col("x"), col("y"), 4).as("z"), col("want"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // negative keys would order as the largest values: fail loudly
    intercept[Exception] {
      Seq((-1L, 0L)).toDF("x", "y")
        .select(ZOrder.zValue(col("x"), col("y"), 4)).collect()
    }
    // layout: per-file z ranges must not interleave
    val df = spark.range(1000).select(
      (col("id") % 32).as("x"), (col("id") % 17).as("y"))
    val files = ZOrder.layoutStats(df, "x", "y", bits = 5, rowsPerFile = 100)
      .orderBy("file_id").collect()
      .map(r => (r.getLong(6), r.getLong(7))) // z_min, z_max
    files.sliding(2).foreach {
      case Array((_, zmaxPrev), (zminNext, _)) =>
        assert(zminNext >= zmaxPrev, "files ordered along the curve")
      case _ =>
    }
  }

  test("rebalancedSample: flattens groups toward the smallest") {
    val df = ((1 to 200).map(i => (i.toLong, "big")) ++
      (201 to 220).map(i => (i.toLong, "small"))).toDF("id", "grp")
    val out = Sampling.rebalancedSample(df, col("id"), Seq("grp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val small = out.count(_._2 == "small")
    assert(small == 20, "smallest group keeps everything (permille=1000)")
    // big group: permille = 1000*20/200 = 100; replay the hash gate
    val expectBig = df.filter(col("grp") === "big")
      .filter(Sampling.hashBucket(col("id")) < 100).count()
    assert(out.count(_._2 == "big") == expectBig)
    // deterministic under repartition
    val again = Sampling.rebalancedSample(df.repartition(7), col("id"), Seq("grp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == again.toSet)
    // a >1000x group clamps to permille 1 instead of vanishing
    val extreme = ((1 to 1500).map(i => (i.toLong, "huge")) ++ Seq((9999L, "tiny")))
      .toDF("id", "grp")
    val kept = Sampling.rebalancedSample(extreme, col("id"), Seq("grp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "tiny") == 1)
    val expectHuge = extreme.filter(col("grp") === "huge")
      .filter(Sampling.hashBucket(col("id")) < 1).count()
    assert(kept.count(_._2 == "huge") == expectHuge,
      "huge group keeps its 1-permille floor, not zero")
  }

  test("importanceResample: exp-weight permilles, clamp, exact gate replay") {
    val df = Seq((1L, 0.0), (2L, 10.0), (3L, -10.0), (4L, 1.0))
      .toDF("id", "w")
    // integer replay: e = round(exp(clamp(w, ±5))·1e6), avg = sum div n,
    // permille = min(1000, (300·e) div avg)
    val es = Seq(0.0, 5.0, -5.0, 1.0).map(w => math.round(math.exp(w) * 1e6))
    val avg = es.sum / 4
    val perm = es.map(e => math.min(1000L, 300L * e / avg))
    assert(perm(1) == 1000L, "clamped +5 weight saturates the gate")
    assert(perm(2) == 0L, "clamped -5 weight rounds to a zero rate")
    val buckets = df.select(col("id"),
        Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Seq(1L, 2L, 3L, 4L)
      .filter(id => buckets(id) < perm(id.toInt - 1))
    val out = Sampling.importanceResample(df, col("id"), "w", 300)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == expected)
    out.foreach { case (id, p) => assert(p == perm(id.toInt - 1)) }
    // deterministic under repartition
    val again = Sampling.importanceResample(df.repartition(3), col("id"), "w", 300)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == again.toSeq)
  }

  test("columnProfile: one-scan count/ndv/min/max with nulls") {
    val df = Seq((1L, Some("a")), (2L, None), (2L, Some("b")))
      .toDF("id", "s")
    val out = Stats.columnProfile(df, Seq("id", "s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      ("id", 3L, 3L, 2L, "1", "2"),
      ("s", 3L, 2L, 2L, "a", "b")),
      "n_rows counts all rows; n_nonnull and ndv skip nulls")
  }

  test("kmeansFit: hand-computed 2-round Lloyd on a planted 2-cluster set") {
    val df = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 10f)), (2L, Array(0f, 1f)),
      (3L, Array(10f, 9f)), (4L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.kmeansFit(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // round 1: {0,2,4}->c0 mean (1/3, 1/3); {1,3}->c1 mean (10, 9.5);
    // round 2: same assignment, same means — the fit has converged
    assert(out.toSeq == Seq(
      (0L, 1, 0.333333, 3L), (0L, 2, 0.333333, 3L),
      (1L, 1, 10.0, 2L), (1L, 2, 9.5, 2L)))
    // one round of kmeansFit agrees with the single-step operator (q75)
    val one = SimilarityOps.kmeansFit(df, "vec_id", "embedding", k = 2, iters = 1)
      .select("centroid", "pos", "avg_v")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val step = SimilarityOps.updateCentroids(df, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(one == step)
  }

  test("pqCodebookFit: hand-computed 2-round Lloyd at m = 2, a code " +
       "moves in round 2, the trailing remainder dim is dropped") {
    // d = 5, m = 2: subspaces are dims 1-2 and 3-4, dim 5 is dropped
    val df = Seq(
      (0L, Array(0f, 0f, 0f, 0f, 99f)), (1L, Array(10f, 10f, 4f, 0f, 99f)),
      (2L, Array(0f, 1f, 1f, 0f, 99f)), (3L, Array(10f, 9f, 10f, 0f, 99f)),
      (4L, Array(1f, 0f, 3f, 0f, 99f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.pqCodebookFit(df, "vec_id", "embedding", m = 2,
        nCodes = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(t => (t._2, t._1))
    // sub 0, seeds (0,0) and (10,10): both rounds put {0,2,4} in code 0
    // and {1,3} in code 1 -> (1/3, 1/3) and (10, 9.5).
    // sub 1, seeds (0,0) and (4,0): round 1 puts {0,2} in code 0 and
    // {1,3,4} in code 1 -> (0.5, 0) and (17/3, 0); in round 2 id 4 at
    // (3,0) moves to code 0 (6.25 < 7.111) -> (4/3, 0) and (7, 0)
    assert(out.toSeq == Seq(
      (0L, 0, Seq(0.333333, 0.333333)), (1L, 0, Seq(10.0, 9.5)),
      (0L, 1, Seq(1.333333, 0.0)), (1L, 1, Seq(7.0, 0.0))))
  }

  test("Lloyd fits: the model is bit-identical at 1 and 4 input partitions") {
    val rnd = new scala.util.Random(7)
    val df = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def fits(parts: Int) = {
      val in = df.repartition(parts)
      (SimilarityOps.kmeansFit(in, "vec_id", "embedding", k = 4, iters = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq,
       SimilarityOps.pqCodebookFit(in, "vec_id", "embedding", m = 2,
           nCodes = 4, iters = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
        .sortBy(t => (t._2, t._1)).toSeq)
    }
    val (km1, pq1) = fits(1)
    val (km4, pq4) = fits(4)
    assert(km1.nonEmpty && pq1.nonEmpty)
    assert(km1 == km4)
    assert(pq1 == pq4)
  }

  test("roundHalfUp matches Spark's round at scale 0 and 6") {
    val xs = Seq(0.5, 1.5, 2.5, -0.5, -2.5, -0.4, 2.675, 0.0000005,
      0.0000015, -0.0000025, 1.0000005, -7.2500005, 123456.1234565,
      4503599627370495.5, 1e15 + 0.5, -1e17, 1e20, Double.MaxValue)
    for (scale <- Seq(0, 6)) {
      val spark6 = spark.range(1)
        .select(xs.map(x => round(lit(x), scale)): _*)
        .head().toSeq.map(_.asInstanceOf[Double])
      val local = xs.map(SimilarityOps.roundHalfUp(_, scale))
      assert(local.map(java.lang.Double.doubleToLongBits) ==
        spark6.map(java.lang.Double.doubleToLongBits),
        s"scale $scale: $local vs $spark6")
    }
  }

  test("Lloyd fits release their persisted points when a round fails") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = spark.range(0, 6, 1, 2).select(col("id").as("vec_id"),
      when(col("id") === 5, raise_error(lit("lloyd-boom")))
        .otherwise(array(col("id").cast("float"), lit(0f))).as("embedding"))
    for (fit <- Seq(
        () => SimilarityOps.kmeansFit(df, "vec_id", "embedding", k = 2, iters = 2),
        () => SimilarityOps.pqCodebookFit(df, "vec_id", "embedding", m = 2,
          nCodes = 2, iters = 2))) {
      val e = intercept[Exception](fit())
      assert(e.getMessage.contains("lloyd-boom"), e)
      assert(sc.getPersistentRDDs.keySet == before)
    }
  }

  test("rrfHybridTopK: fused ranks and score arithmetic, outer-list nulls") {
    val docs = Seq((0L, "alpha beta"), (1L, "spark"), (2L, "spark pad"),
      (3L, "other words here")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(1f, 0.0001f)), (3L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val out = Corpus.rrfHybridTopK(docs, "doc_id", "text", emb, "vec_id",
        "embedding", queryTerms = Seq("spark"), queryVecId = 0L, topN = 2)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        r.getDouble(3)))
    // lex: same tf, shorter doc wins -> doc1 rank 1, doc2 rank 2;
    // dense: vec2 ~ query (rank 1), vec3 cos 0.6 (rank 2); vec0 excluded
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val both = r6(1.0 / 62 + 1.0 / 61)
    assert(out.toSeq == Seq(
      (2L, 2, 1, both),
      (1L, 1, -1, r6(1.0 / 61)),
      (3L, -1, 2, r6(1.0 / 62))),
      "rrf ordering: fused doc first, then lexical-only, then dense-only")
  }

  test("charEntropy: ln2 for balanced pairs, zero for uniform and empty") {
    val df = Seq((1L, "aabb"), (2L, "aaaa"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out(0) == ((1L, 4L, 2L, 0.693147)), "two balanced symbols = ln 2")
    assert(out(1) == ((2L, 4L, 1L, 0.0)),
      "single-symbol doc: quantization residue absorbed to exactly 0")
    assert(out(2) == ((3L, 0L, 0L, 0.0)), "empty doc scores zero")
  }

  test("bigramSurprisal: exact nano-nat units from the interpolated LM") {
    val df = Seq((1L, "a b a"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // unigrams: a=3, b=2, T=5; bigrams: (a,b)=2, (b,a)=1; prefixes a=2, b=1
    val uuA = math.round(-math.log(3.0 / 5.0) * 1e9)
    val buAB = math.round(-math.log(0.5 * (2.0 / 2.0) + 0.5 * (2.0 / 5.0)) * 1e9)
    val buBA = math.round(-math.log(0.5 * (1.0 / 1.0) + 0.5 * (3.0 / 5.0)) * 1e9)
    val u1 = uuA + buAB + buBA // "a"(first) "b"(after a) "a"(after b)
    val u2 = uuA + buAB
    def avg6(u: Long, n: Long) =
      BigDecimal((u / 1e9) / n).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    assert(out(0) == ((1L, 3L, u1, avg6(u1, 3))))
    assert(out(1) == ((2L, 2L, u2, avg6(u2, 2))))
    assert(out(2) == ((3L, 0L, 0L, 0.0)), "empty doc scores zero")
    // partition invariance: the corpus LM is global state
    val again = TextAnalysis.bigramSurprisal(df.repartition(5), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq == again.toSeq)
  }

  test("prioritySample: exact integer-priority replay, partition-invariant, " +
    "zero/negative weights excluded") {
    val rows = (1L to 200L).map(i => (i, (i % 7 + 1).toDouble)) ++
      Seq((201L, 0.0), (202L, -3.0)) // must never be sampled
    val df = rows.toDF("id", "w")
    val out = Sampling.prioritySample(df, col("id"), "w", k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    // independent replay: md5 via MessageDigest, same fold + ordering
    def u60(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) + 1L
    }
    val expect = rows.filter(_._2 > 0).map { case (id, w) =>
      val u = u60(id.toString); val wm = math.round(w * 1e6)
      (u / wm, u, id, w)
    }.sortBy(t => (t._1, t._2, t._3)).take(20)
      .map(t => (t._3, t._4, t._1)).sortBy(_._1)
    assert(out.toSeq == expect)
    assert(!out.exists(t => t._1 == 201L || t._1 == 202L))
    val again = Sampling.prioritySample(df.repartition(7), col("id"), "w", 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == again.toSeq)
  }

  test("quantileBins: hand-computed quartile edges on 1..100, " +
    "boundary values fall in the lower bin, null value -> null bin") {
    val df = ((1 to 100).map(v => (v.toLong, Some(v.toDouble))) :+
      (101L, Option.empty[Double])).toDF("id", "v")
    val out = Stats.quantileBins(df, "v", histBins = 99, q = 4)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) -1 else r.getInt(2))).sortBy(_._1).toMap
    // 99 equi-width bins over [1,100]: edges interpolate to exactly
    // 26 / 51 / 76 -> v<=26 bin0, 27..51 bin1, 52..76 bin2, 77.. bin3
    assert(out(1L) == 0 && out(26L) == 0, "edge value stays in lower bin")
    assert(out(27L) == 1 && out(51L) == 1)
    assert(out(52L) == 2 && out(76L) == 2)
    assert(out(77L) == 3 && out(100L) == 3)
    assert(out(101L) == -1, "null value gets a null bin")
  }

  test("fdProfile: holds iff ndv(det) == ndv(det, dep); one-scan report") {
    val df = Seq((1L, "x"), (1L, "x"), (2L, "y"), (3L, "y"), (3L, "z"))
      .toDF("a", "b").withColumn("c", col("a") * 2)
    val out = Stats.fdProfile(df, Seq("a" -> "b", "a" -> "c", "b" -> "a"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      ("a", "b", 3L, 4L, false),  // a=3 maps to both y and z
      ("a", "c", 3L, 3L, true),   // c is a function of a
      ("b", "a", 3L, 4L, false))) // b=y maps to both 2 and 3
  }

  test("editDistancePairs: FastSS deletion blocking is exact for d<=1 — " +
    "substitution, insertion, equality found; d=2 rejected") {
    val df = Seq((1L, "abc"), (2L, "abd"), (3L, "abcd"), (4L, "xyz"),
      (5L, "abc")).toDF("id", "s")
    val out = Dedup.editDistancePairs(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 2L, 1), (1L, 3L, 1), (1L, 5L, 0),
      (2L, 3L, 1), (2L, 5L, 1), (3L, 5L, 1)),
      "xyz pairs with nothing; abc==abc at distance 0")
  }

  test("end-to-end curation pipeline: dedup -> near-dup keepers -> " +
    "quality -> decontaminate -> sample -> chunk -> pack -> shard, " +
    "row accounting monotone and fully deterministic") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"))
    def runOnce(): (Seq[Long], Long, Long, Long) = {
      val n0 = docs.count()
      // 1. exact dedup: one keeper per content hash
      val keepers = docs.join(
        Dedup.exactDedup(docs, "doc_id", "text")
          .select(col("keeper_id").as("doc_id")), Seq("doc_id"))
      val n1 = keepers.count()
      // 2. near-dup clusters: keep the canonical member
      val pairs = Dedup.ngramJaccardPairs(keepers, "doc_id", "text", 3, 0.5)
      val cc = graft.graph.Components.connectedComponentsFast(
        keepers.select("doc_id"), pairs)
      val nd = keepers.join(
        cc.filter(col("id") === col("component"))
          .select(col("id").as("doc_id")), Seq("doc_id"))
      val n2 = nd.count()
      // 3. quality gate
      val q = nd.join(
        TextAnalysis.filterDecision(nd, "doc_id", "text",
            minChars = 50, minTokens = 5)
          .filter(col("keep")).select("doc_id"), Seq("doc_id"))
      val n3 = q.count()
      // 4. eval-set decontamination (eval = doc_id % 10 == 0)
      val clean = q.join(
        Corpus.decontaminate(docs, "doc_id", "text",
            evalPred = col("doc_id") % 10 === 0, n = 5)
          .filter(!col("contaminated")).select("doc_id"), Seq("doc_id"))
      val n4 = clean.count()
      // 5. reproducible stratified sample
      val sampled = Sampling.stratifiedSample(clean, col("doc_id"),
        col("lang"), Map("en" -> 800), defaultPermille = 500)
      val n5 = sampled.count()
      val ids = sampled.select("doc_id").collect().map(_.getLong(0))
        .sorted.toSeq
      // 6-7. chunk + pack
      val chunks = Chunking.tokenChunks(sampled, "doc_id", "text",
        chunkSize = 32, stride = 32)
      val packed = Chunking.packSequences(chunks, "doc_id", "chunk_idx",
        "n_chunk_tokens", budget = 256, numShards = 4)
      val nChunks = chunks.count()
      assert(packed.count() == nChunks, "packing never drops a chunk")
      // 8. JSONL shard export round-trip
      val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
      Export.writeJsonlShards(
        packed.select(col("doc_id"), col("chunk_idx")),
        "doc_id", dir, numShards = 4)
      val back = Export.readJsonl(spark, dir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("chunk_idx",
            org.apache.spark.sql.types.IntegerType)))).count()
      assert(Seq(n0, n1, n2, n3, n4, n5) ==
        Seq(n0, n1, n2, n3, n4, n5).sorted.reverse,
        s"curation stages must be monotone: $n0 >= $n1 >= $n2 >= $n3 >= $n4 >= $n5")
      assert(n5 > 0 && nChunks >= n5, "surviving docs chunk to >= 1 chunk")
      (ids, n4, nChunks, back)
    }
    val (ids1, n4a, ch1, back1) = runOnce()
    val (ids2, n4b, ch2, back2) = runOnce()
    assert(ids1 == ids2 && n4a == n4b && ch1 == ch2,
      "the pipeline is bit-deterministic across runs")
    assert(back1 == ch1 && back2 == ch2,
      "JSONL round-trip preserves the packed-chunk count")
  }

  test("concurrently: a failing arm cancels its sibling's jobs, waits for " +
       "every arm, and rethrows the first error") {
    val sc = spark.sparkContext
    val slowArmEnded = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      SimilarityOps.concurrently(spark, Seq(
        () => throw new IllegalStateException("arm failed"),
        () => try {
          // a job that runs for 60 s unless its tasks are killed
          sc.parallelize(1 to 2, 2).map { i =>
            val ctx = org.apache.spark.TaskContext.get()
            val end = System.nanoTime() + 60L * 1000 * 1000 * 1000
            while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(10)
            i
          }.count()
          spark.range(1).toDF()
        } finally slowArmEnded.countDown()))
    }
    assert(err.getMessage == "arm failed")
    assert(slowArmEnded.getCount == 0,
      "the sibling arm was still running its job after concurrently returned")
    assert((System.nanoTime() - t0) / 1e9 < 30, "the sibling's job was not cancelled")
  }
}
