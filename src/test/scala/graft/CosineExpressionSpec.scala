package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
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
}
