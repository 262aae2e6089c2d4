package perfbench

import java.nio.file.Path

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Graft, SparkEntry, Tables}

/** One timed query execution; `sample` is set on traced executions. A
  * query that threw has `ok` false and its time up to the throw in
  * `buildNs + execNs`.
  */
final case class Exec(q: String, buildNs: Long, execNs: Long, rows: Long, ok: Boolean,
                      sample: Option[OpSample]) {
  def ns: Long = buildNs + execNs
}

/** Runs one batch workload: a fixed query list over the generated tables,
  * each query timed exactly as `graft.Bench` times it (`Graft.evictAll`,
  * build the DataFrame with `SparkEntry.queries(name)(spark, dir)`, then
  * `queryExecution.toRdd.count()`).
  *
  * Set-up ends with one check pass that writes every query's full result
  * to parquet; run.py compares those files, and the row count of every
  * timed execution, with the DuckDB oracle after the JVM exits. The check
  * pass is also the warm-up: the timed executions that follow see a warm JIT
  * and warm per-session caches, as a long-running engine would.
  */
final class BatchWorkload(spark: SparkSession, queryNames: Seq[String],
                          dataDir: String, outDir: Path, seconds: Int,
                          trace: Boolean) {
  private val sc = spark.sparkContext
  private val fns = queryNames.map(q => q -> SparkEntry.queries(q))
  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0

  private def runOne(q: String, fn: (SparkSession, String) => DataFrame, pass: Int,
                     counters: Option[Counters], tracer: Option[Tracer]): Exec = {
    attempted += 1
    val e0 = System.nanoTime()
    Graft.evictAll(spark)
    val t0 = System.nanoTime()
    val g = s"$q#$pass"
    try {
      counters.foreach(_ => sc.setJobGroup(s"$g/build", s"perfbench build $q"))
      val df = fn(spark, dataDir)
      val t1 = System.nanoTime()
      val buildWork = counters.map { c => c.barrier(); c.take(s"$g/build") + c.take("") }
      counters.foreach(_ => sc.setJobGroup(s"$g/exec", s"perfbench exec $q"))
      val t2 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      val sample = counters.map { c =>
        val blocks = Layers.storedBlocks(sc)
        c.barrier()
        val execWork = c.take(s"$g/exec") + c.take("")
        sc.clearJobGroup()
        val bw = buildWork.get
        val total = bw + execWork
        tracer.foreach { tr =>
          // the root's self time is the listener barrier between the phases
          val root = tr.add(-1, g, "query", t0, t3,
            ListMap("query" -> q, "rows" -> rows, "blocks_after_query" -> blocks))
          tr.add(root, g, "query.build", t0, t1, bw.json)
          tr.add(root, g, "query.exec", t2, t3, execWork.json)
        }
        OpSample(q, (t1 - t0) / 1e6, bw.jobs, (t3 - t2) / 1e6, total, blocks,
          total.recordsRead, rows, Layers.planNodes(df), (t0 - e0) / 1e6)
      }
      Exec(q, t1 - t0, t3 - t2, rows, ok = true, sample)
    } catch {
      case e: Throwable =>
        val t = System.nanoTime()
        sc.clearJobGroup()
        failures += s"$q (pass $pass) threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        Exec(q, t - t0, 0L, -1L, ok = false, None)
    }
  }

  /** The traced pass: each query runs twice, traced and untraced (listener
    * detached), the order alternating from query to query so that JIT and
    * cache warm-up favour neither side. Returns (traced, untraced).
    */
  private def pairedPass(i: Int, counters: Counters, tracer: Tracer): (Seq[Exec], Seq[Exec]) = {
    val pairs = fns.zipWithIndex.map { case ((q, fn), k) =>
      def traced() = runOne(q, fn, i, Some(counters), Some(tracer))
      def untraced() = {
        counters.detach()
        try runOne(q, fn, i, None, None) finally counters.reattach()
      }
      if (k % 2 == 0) { val u = untraced(); (traced(), u) }
      else { val t = traced(); (t, untraced()) }
    }
    val (t, u) = pairs.unzip
    Main.log(f"pass $i (paired): traced ${wallS(t)}%.2f s, untraced ${wallS(u)}%.2f s")
    (t, u)
  }

  /** Wall time of some executions, thrown ones included. */
  private def wallS(p: Seq[Exec]): Double = p.map(_.ns).sum / 1e9

  /** Set-up, timed executions, and the result record written by Main. */
  def run(jvmStartMs: Long): ListMap[String, Any] = {
    val l0 = System.nanoTime()
    Tables.all.foreach(t => Tables(spark, dataDir, t).count())
    val ioLoadS = (System.nanoTime() - l0) / 1e9
    Main.log(f"tables loaded in $ioLoadS%.2f s")

    val checks = fns.map { case (q, fn) =>
      attempted += 1
      Graft.evictAll(spark)
      val dir = outDir.resolve("check").resolve(q).toString
      try { fn(spark, dataDir).write.mode("overwrite").parquet(dir); Some(q -> dir) }
      catch { case e: Throwable =>
        failures += s"$q (check pass) threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
    }.flatten

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Main.log(f"check pass done; set-up took $setupS%.2f s")
    val deadline = System.nanoTime() + seconds * 1000000000L
    val base = (timed: Seq[Exec]) => {
      val rowCounts = timed.filter(_.ok).groupBy(_.q).map { case (q, xs) => q -> xs.map(_.rows) }
      ListMap[String, Any](
        "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
        "checks" -> checks.map { case (q, dir) =>
          ListMap("query" -> q, "dir" -> dir, "oracle_sql" -> SparkEntry.oracleSql(q),
            "timed_rows" -> rowCounts.getOrElse(q, Seq.empty))
        })
    }
    if (!trace) {
      // the queries run round after round, in their fixed order and then
      // in reverse, until the window closes (at least one whole round);
      // each query's time is the median of its executions, so a round the
      // window cuts short adds samples without weighting the queries it
      // reached more than the rest
      val execs = ArrayBuffer.empty[Exec]
      var k = 0
      while (k < fns.size || System.nanoTime() < deadline) {
        val (round, i) = (k / fns.size, k % fns.size)
        val (q, fn) = fns(if (round % 2 == 0) i else fns.size - 1 - i)
        execs += runOne(q, fn, round, None, None)
        k += 1
      }
      Main.log(f"${execs.size} timed executions in ${wallS(execs.toSeq)}%.2f s")
      val heapMb = Main.liveHeapMb()
      val byQuery = fns.map { case (q, _) => execs.filter(_.q == q).toSeq }
      // a pass of median executions; an execution that threw adds its time
      // up to the throw but is not a completed one, so it never makes the
      // workload faster
      val passS = byQuery.map(xs => Stats.median(xs.map(_.ns / 1e9))).sum
      val completed = byQuery.map(xs => xs.count(_.ok).toDouble / xs.size).sum
      val queryMs = byQuery.map(_.filter(_.ok)).filter(_.nonEmpty)
        .map(xs => xs.head.q -> Stats.median(xs.map(_.ns / 1e6)))
      val opMs = queryMs.map(_._2)
      base(execs.toSeq) ++ ListMap(
        "e2e" -> ListMap(
          "setup_s" -> Main.metric(setupS, "s", 1),
          "ops_per_s" -> Main.metric(completed / passS, "1/s", execs.size),
          "op_gm_ms" -> Main.metric(Stats.gmean(opMs), "ms", opMs.size),
          "live_heap_mb" -> Main.metric(heapMb, "MB", 1)),
        "named" -> ListMap(
          "batch_wall_s" -> Main.metric(passS, "s", execs.size),
          "op_p50_ms" -> Main.metric(Stats.median(opMs), "ms", opMs.size),
          "op_p90_ms" -> Main.metric(Stats.quantile(opMs, 0.9), "ms", opMs.size)),
        "query_ms" -> ListMap(queryMs.sortBy(_._1): _*))
    } else {
      val counters = Counters.attach(sc)
      val tracer = new Tracer
      val (traced, untraced) = pairedPass(0, counters, tracer)
      counters.detach()
      val samples = traced.flatMap(_.sample)
      val both = traced.zip(untraced).filter { case (t, u) => t.ok && u.ok }
      val tracedS = both.map(_._1.ns).sum / 1e9
      val untracedS = both.map(_._2.ns).sum / 1e9
      Json.writeFile(outDir.resolve("trace.json"), tracer.toJson)
      base(traced ++ untraced) ++ ListMap(
        "layer" -> Layers.report(samples, ioLoadS, (tracedS / untracedS - 1) * 100),
        "by_op" -> Layers.byOp(samples),
        "named" -> ListMap(
          "untraced_pass_s" -> Main.metric(untracedS, "s", both.size),
          "traced_pass_s" -> Main.metric(tracedS, "s", both.size)),
        "counters" -> ListMap(samples.map(s =>
          s.op -> (s.work.loadIndependent + ("build_jobs" -> s.buildJobs))): _*))
    }
  }
}
