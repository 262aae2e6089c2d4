package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every contract query at the scale-factor dir in
  * `SPARK_GRAFT_SF_DIR` and prints ONE compact JSON line.
  *
  * Measurement protocol (r5, after the r4 artifact was taken on a
  * contended host and came out 3-40× inflated):
  *  - caches are evicted before EVERY timed run (`clearCache` + unpersist
  *    of lingering RDD persists) so each query measures its own cold
  *    cost, operators that cache-and-return don't leak storage across
  *    the 100+ queries, and no `Asked to cache already cached data`
  *    warnings accumulate;
  *  - best-of-2 for queries whose first run is under `rerunBelowSec`
  *    (40 s — wide enough to cover every query's plausible clean time) —
  *    a second cold run filters transient host contention and first-use
  *    JIT at ~2× cost; only a genuinely huge run skips its second
  *    chance, bounding worst-case bench wall;
  *  - a query that THROWS is recorded as -1 (and the error printed to
  *    stderr), never as a fast time — an exception fails in
  *    milliseconds and would otherwise read as a speedup;
  *  - the JSON line is written to `bench_out.json` FIRST, then printed
  *    and flushed before `spark.stop()`, so neither tail-truncation nor
  *    shutdown log noise can corrupt the parseable artifact;
  *  - (r8) the timed action is `queryExecution.toRdd.count()`, not
  *    `df.count()`: a count-only plan lets Catalyst eliminate
  *    cardinality-preserving outer joins, so report-shaped queries
  *    were timing pruned plans through r7 — r8 per-query times on
  *    those queries are NOT comparable to earlier rounds (they are
  *    the first honest ones).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.localSession()
    // Session warmup (uncounted): initialize the parquet reader, shuffle
    // machinery, codegen/JIT for the hot expression classes (HOFs, md5,
    // JSON path, window), and the scan of each table — so measured times
    // reflect query cost, not first-use JVM initialization.
    locally {
      import org.apache.spark.sql.functions._
      Tables.all.foreach { t =>
        try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
      }
      try {
        spark.range(1000).select(
            md5(col("id").cast("string")).as("m"),
            transform(sequence(lit(0), lit(3)), i => i * col("id")).as("arr"),
            get_json_object(lit("""{"k":1}"""), "$.k").as("j"))
          .groupBy(col("j")).agg(count(lit(1)), sum(aggregate(col("arr"), lit(0L), _ + _)))
          .count()
      } catch { case _: Throwable => () }
      // warm the similarity-graph machinery (hyperplane signature, band
      // explode+join, cosine verify, PageRank's checkpoint loop) on a
      // tiny synthetic table — otherwise its first-use JIT lands
      // entirely on whichever graph query runs first alphabetically
      try {
        val tiny = spark.range(64).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(7)),
            i => (i * col("id") % 13).cast("float") / 13f).as("embedding"))
        val pairs = graft.similarity.SimilarityOps.lshCandidatePairs(
            tiny, "vec_id", "embedding", threshold = 0.1)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
        graft.graph.PageRank.run(tiny.select("vec_id"),
          sym.toDF("src", "dst"), iters = 1).count()
      } catch { case _: Throwable => () }
    }
    // returns elapsed seconds, or -1 if the query threw (a failure
    // finishes in milliseconds and must never read as a fast time).
    // Forcing action (r8 protocol fix): execute the query's OWN
    // physical plan and count its rows (`queryExecution.toRdd.count()`)
    // instead of `df.count()` — a count-only logical plan lets Catalyst
    // ELIMINATE cardinality-preserving outer joins (any left join whose
    // build side has provably-unique keys: an aggregate or distinct on
    // the join key), so report-shaped queries (q81/q92/q101/q200/q231/…
    // decision tables and per-doc reports) were timing a pruned plan
    // through r7. toRdd materializes every output column of the real
    // plan without collecting rows to the driver — the same
    // full-materialization semantics as the correctness gate's parquet
    // dump, minus the file I/O.
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      Graft.evictAll(spark)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        -1.0
      }
    }
    // Outlier guard (r10 order sheet #3): a single host stall landing
    // inside one query inflated the r10 headline by 56% (q147 128.4 s
    // driver vs 3.55 s judge-warm — and a first run over 40 s skips the
    // best-of-2 second chance, so a stall there was UNGUARDED). Any
    // query whose measured time exceeds `stallFactor`× its frozen
    // quiet-host BENCH_BASELINE.json entry gets ONE extra cold re-run;
    // BOTH numbers are reported (`stall_suspects` in the JSON) and the
    // smaller one rides in `queries` — a transient stall can no longer
    // dominate a round's headline, while a genuine regression shows up
    // twice and keeps its (still-slow) re-run time.
    val baselineTimes: Map[String, Double] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
        "BENCH_BASELINE.json")
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        "\"(q[A-Za-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    }
    val stallFactor = 5.0
    val stallFloorSec = 2.0 // never flag sub-2s absolute times as stalls
    val stallSuspects =
      scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val rerunBelowSec = 40.0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t1 = timeOnce(name, fn)
      val dt0 =
        if (t1 < 0) -1.0
        else if (t1 < rerunBelowSec) {
          val t2 = timeOnce(name, fn)
          if (t2 < 0) -1.0 else math.min(t1, t2)
        } else t1
      // guard only against POSITIVE baseline entries: a -1 (failed-in-
      // baseline) entry would make the threshold max(5×(-1), 2 s) = 2 s
      // and unconditionally burn a third cold run on any 2 s+ query
      // (r11 ADVICE)
      val dt = baselineTimes.get(name) match {
        case Some(base) if base > 0 &&
            dt0 > math.max(stallFactor * base, stallFloorSec) =>
          val t3 = timeOnce(name, fn)
          if (t3 < 0) dt0
          else {
            stallSuspects(name) = (dt0, t3)
            System.err.println(
              f"[bench] $name STALL-SUSPECT: $dt0%.2fs > ${stallFactor}x " +
                f"baseline $base%.2fs; re-run $t3%.2fs")
            math.min(dt0, t3)
          }
        case _ => dt0
      }
      System.err.println(f"[bench] $name: $dt%.2fs (first $t1%.2fs)")
      name -> dt
    }
    // 4-dp per-query values keep the whole JSON line compact (~2.5 KB for
    // 100+ queries) so a tail-captured stdout still contains it intact
    def r4(v: Double): String = f"$v%.4f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // failed count rides in the headline: a run with thrown queries
    // excludes them from `value`, which would otherwise read as a
    // SPEEDUP to anyone comparing totals across rounds
    val failed = results.count(_._2 < 0)
    // both numbers for every guard hit: observed (the suspect run, after
    // best-of-2) and the extra cold re-run whose min rides in `queries`
    val stalls = stallSuspects.map { case (k, (obs, rerun)) =>
      "\"" + k + "\":{\"observed\":" + r4(obs) + ",\"rerun\":" + r4(rerun) + "}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","failed":$failed,"stall_suspects":$stalls,"queries":$qs,"sf":"$sfDir"}"""
    // the file is the driver-parseable artifact; stdout can be truncated
    // by tail-capture (the r2/r3 failure mode)
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    // ≤200-byte headline AFTER the full line: the driver's tail-capture
    // parses the LAST JSON line it sees, and the full per-query map
    // (~5.8 KB at 215 queries) overflowed the captured tail in r5
    // (BENCH_r05.json parsed:null) — the headline always fits
    val ok = results.map(_._2).filter(_ >= 0)
    // true median: average the two middle values on even counts (the
    // upper-middle element alone would bias cross-round comparisons)
    val median =
      if (ok.isEmpty) 0.0
      else {
        val s = ok.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","total":${r4(total)},"median":${r4(median)},"failed":$failed,"stalls":${stallSuspects.size},"n":${results.size},"sf":"$sfDir"}""")
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
  }
}
