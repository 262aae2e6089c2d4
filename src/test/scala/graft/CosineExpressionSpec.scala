package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Sessions
import org.apache.spark.sql.types._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.similarity.SimilarityOps

class CosineExpressionSpec extends SparkSpec {

  test("native cosine_sim is bit-identical to the HOF fold") {
    Graft.install(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .filter(col("id_a") < 80)
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
    val diff = pairs.select(
      VectorFunctions.cosine(col("ea"), col("eb")).as("hof"),
      Graft.cosineSim(col("ea"), col("eb")).as("native"))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0, "accumulation order matches -> bit-identical doubles")
  }

  test("native cosine_sim guards: dim mismatch and zero norm give 0.0") {
    Graft.install(spark)
    import spark.implicits._
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f, 0f)), // dim mismatch
      (Seq(0f, 0f), Seq(1f, 1f)), // zero norm
      (Seq(1f, 0f), Seq(0f, 1f)) // orthogonal
    ).toDF("a", "b")
    val out = df.select(Graft.cosineSim(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.0, 0.0, 0.0))
    val same = Seq((Seq(1f, 2f), Seq(1f, 2f))).toDF("a", "b")
      .select(Graft.cosineSim(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(same - 1.0) < 1e-12)
  }

  test("whole-stage codegen keeps the expression inline (no fallback)") {
    Graft.install(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = emb.select(Graft.cosineSim(col("embedding"), col("embedding")).as("c"))
    df.collect() // AQE finalizes (and codegen-compiles) the plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined && plan.contains("cosine_sim"),
      s"expected the expression inside a codegen stage:\n$plan")
  }

  test("jaro_winkler: DuckDB-probed reference values, codegen inline") {
    Graft.install(spark)
    import spark.implicits._
    // right-hand constants probed from duckdb jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),  // transposition + boost
      ("dixon", "dicksonx", 0.8133333333333332), // unequal lengths
      ("abcdef", "abzzzz", 0.5555555555555555),  // j <= 0.7: NO boost
      ("ab", "ba", 0.0),                          // window 0, no matches
      ("", "abc", 0.0),                           // empty -> 0 (DuckDB)
      ("a", "a", 1.0),
      // non-ASCII: DuckDB compares UTF-8 BYTES, so multi-byte
      // codepoints change match windows/prefix lengths byte-wise —
      // the expression must agree on those too (r5 ADVICE: the UTF-16
      // char walk diverged here)
      ("café", "cafe", 0.8483333333333334),
      ("über", "uber", 0.7833333333333333),
      ("naïve", "naive", 0.8577777777777779),
      ("東京都", "東京市", 0.8666666666666666))
    val df = cases.map(c => (c._1, c._2)).toDF("a", "b")
      .select(Graft.jaroWinkler(col("a"), col("b")).as("jw"))
    assert(df.collect().map(_.getDouble(0)).toSeq == cases.map(_._3),
      "bit-identical to the DuckDB oracle implementation")
    // literals constant-fold (itself a proof eval works); a table scan
    // shows the expression inside a WholeStageCodegen projection
    val cust = Tables.customer(spark, "/root/testdata/sf0.001")
    val onTable = cust.select(
      Graft.jaroWinkler(col("c_name"), col("c_mktsegment")).as("jw"))
    onTable.collect()
    val plan = onTable.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined &&
      plan.contains("jaro_winkler"),
      s"expected the expression inside a codegen stage:\n$plan")
  }

  test("native expressions resolve on a session that never ran install") {
    Graft.install(spark)
    val fresh = spark.newSession()
    // global and grouped: each sketch, and the rows equal `spark`'s
    def sketches(s: SparkSession): Seq[Row] = {
      val hashed = s.range(0, 600).select((col("id") % 5).as("g"),
        TextFunctions.md5Long(col("id").cast("string")).as("h"))
      val cols = Seq(Graft.kmvSketch(col("h"), 64).as("kmv"),
        Graft.cmsSketch(col("h"), 4, 64).as("cms"),
        Graft.bloomSketch(col("h"), 1024, 3).as("bloom"))
      hashed.agg(cols.head, cols.tail: _*).collect().toSeq ++
        hashed.groupBy(col("g")).agg(cols.head, cols.tail: _*)
          .orderBy(col("g")).collect()
    }
    val expected = sketches(spark)
    val prior = SparkSession.getActiveSession
    SparkSession.setActiveSession(fresh)
    try {
      assert(sketches(fresh) == expected, "sketches equal the installed session's")
      val vecs = fresh.range(0, 200).select(
        transform(sequence(lit(0), lit(15)),
          i => (sin(col("id") * 131 + i) + 0.25).cast("float")).as("a"),
        transform(sequence(lit(0), lit(15)),
          i => cos(col("id") * 17 + i).cast("float")).as("b"))
      val sim = vecs.select(SimilarityOps.sim6(col("a"), col("b")).as("s"))
      assert(sim.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
        s"sim6 builds the native cosine:\n${sim.queryExecution.optimizedPlan}")
      for (center <- Seq(false, true)) {
        val sig = vecs.select(
          VectorFunctions.hyperplaneSignature(col("a"), 24, center).as("native"),
          VectorFunctions.hyperplaneSignatureHof(col("a"), 24, center).as("hof"))
        assert(sig.filter(col("native") =!= col("hof")).count() == 0,
          s"native signature equals its HOF reference (center=$center)")
      }
    } finally prior.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  test("every native scalar expression returns the same rows interpreted " +
       "as compiled") {
    Graft.install(spark)
    def image(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(19, 7,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(3, 2, 0x336699)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // SOI, APP1 "Exif\0\0", little-endian TIFF whose IFD0 holds one
    // entry: orientation (0x0112) SHORT = 6
    val exif = Array(0xff, 0xd8, 0xff, 0xe1, 0x00, 0x22,
      'E', 'x', 'i', 'f', 0, 0, 'I', 'I', 42, 0, 8, 0, 0, 0,
      1, 0, 0x12, 0x01, 3, 0, 1, 0, 0, 0, 6, 0, 0, 0, 0, 0, 0, 0,
      0xff, 0xd9).map(_.toByte)
    val rnd = new scala.util.Random(0x5EED)
    def floats(d: Int): Seq[Any] = Seq.fill(d)(rnd.nextFloat() - 0.3f)
    val payloads = Seq(image("png"), image("jpg"), exif,
      "not an image".getBytes("UTF-8"), Array.emptyByteArray, null)
    val names = Seq(("martha", "marhta"), ("café", "cafe"), ("", "abc"),
      ("dixon", "dicksonx"), (null, "x"), ("same", "same"))
    val rows = (0 until 24).map { id =>
      val d = if (id % 6 == 5) 0 else 8 + id % 3
      val a = if (id == 23) null else floats(d)
      val b = if (id % 4 == 3) floats(d + 1) else floats(d)
      // every third vector carries a null element
      val withNull = floats(d).zipWithIndex.map { case (x, i) =>
        if (id % 3 == 0 && i == 1) null else x }
      val dbl = floats(d).map(_.asInstanceOf[Float].toDouble * 1e3)
      Row(id.toLong, a, b, withNull, dbl, names(id % 6)._1,
        names(id % 6)._2, payloads(id % 6))
    }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("a", ArrayType(FloatType)),
      StructField("b", ArrayType(FloatType)),
      StructField("n", ArrayType(FloatType)),
      StructField("dv", ArrayType(DoubleType)),
      StructField("s", StringType), StructField("t", StringType),
      StructField("bin", BinaryType)))
    def run(s: SparkSession): (Seq[Row], String) = {
      // the shuffle keeps the projection out of the local relation, so
      // it runs in the session's own execution mode
      val df = s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .repartition(3)
        .select(col("id"),
          Graft.cosineSim(col("a"), col("b")).as("cos"),
          Graft.jaroWinkler(col("s"), col("t")).as("jw"),
          Graft.hyperplaneSigWide(col("a"), 3, 20).as("hp"),
          Graft.hyperplaneSigWide(col("n"), 2, 31, center = true).as("hpn"),
          VectorFunctions.hyperplaneSignature(col("dv"), 63, center = true)
            .as("hpd"),
          Graft.byteHistogram(col("bin"), 16).as("hist"),
          Graft.pngDims(col("bin")).as("png"),
          Graft.jpegDims(col("bin")).as("jpeg"),
          Graft.exifOrientation(col("bin")).as("ori"))
      val out = df.collect().sortBy(_.getLong(0)).toSeq
      (out, df.queryExecution.executedPlan.toString)
    }
    val (compiled, compiledPlan) = run(spark)
    val (interpreted, interpretedPlan) = run(Sessions.interpreted(spark))
    assert("""\*\(\d+\) Project""".r.findFirstIn(compiledPlan).isDefined,
      s"expected a codegen stage:\n$compiledPlan")
    assert(!interpretedPlan.contains("*("),
      s"expected no codegen stage:\n$interpretedPlan")
    assert(Seq(7, 8, 9).forall(c => compiled.exists(r => !r.isNullAt(c))),
      "the fixture reaches every header parser's accept path")
    assert(interpreted == compiled)
  }
}
