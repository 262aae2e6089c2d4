package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{Graft, SparkEntry, SparkWork}

/** Dev tool: run one named query and print, per run, where its time
  * went: plan build (seconds, Spark jobs) and execution (seconds, jobs,
  * stages, tasks, shuffle write and read bytes, spill bytes, peak
  * execution memory, and the wall time of stages that ran a single task
  * — serial work such as a collect or a broadcast build), each phase
  * counted in its own job group by [[SparkWork]], and the classes
  * Janino compiled over the run (`codegen_compiles`: code generated
  * afresh, not taken from the code cache).
  * `--runs N` repeats the timed run N times after the warm-up and
  * prints the warm MEDIAN of build + exec: a bench delta is shown to be
  * noise with warm medians, not eyeballed single runs. `--explain`
  * prints the formatted plan at the end.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1 && !args(1).startsWith("--"))
      args(1) else "/root/testdata/sf0.1"
    val explain = args.contains("--explain")
    val runs = args.indexOf("--runs") match {
      case -1 => 1
      // a trailing --runs with no (numeric) value is a usage error,
      // not an ArrayIndexOutOfBounds (ADVICE r7)
      case i if i + 1 < args.length && args(i + 1).toIntOption.isDefined =>
        args(i + 1).toInt
      case _ =>
        System.err.println("[probe] --runs requires an integer value; using 1")
        1
    }
    val spark = Graft.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val work = new SparkWork(spark.sparkContext)
    val fn = SparkEntry.queries(name)
    // warm-up run then timed runs; evict leftover storage between runs
    // exactly like Bench so each run measures a cold query, not a session
    // with the previous run's checkpoint blocks still resident
    val times = (1 to 1 + runs).map { i =>
      Graft.evictAll(spark)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (df, buildS, build) = work.measure(s"probe-run$i-build")(fn(spark, sfDir))
      // full-materialization forcing, matching Bench's r8 protocol
      // (df.count() lets Catalyst eliminate cardinality-preserving
      // outer joins and times a pruned plan on report-shaped queries)
      val (n, execS, exec) = work.measure(s"probe-run$i-exec")(df.queryExecution.toRdd.count())
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      println(f"[probe] $name run$i: ${buildS + execS}%.2fs rows=$n " +
        f"build=$buildS%.2fs/${build.jobs}j exec=$execS%.2fs/${exec.jobs}j/" +
        f"${exec.stages}st/${exec.tasks}t single_task_stage_ms=${exec.singleTaskStageMs} " +
        s"shuffle_write_bytes=${exec.shuffleWriteBytes} shuffle_read_bytes=${exec.shuffleReadBytes} " +
        s"spill_bytes=${exec.spillBytes} peak_exec_mem_bytes=${exec.peakExecMemBytes} " +
        s"codegen_compiles=$compiles")
      buildS + execS
    }
    if (runs > 1) {
      val warm = times.drop(1).sorted
      val med =
        if (warm.size % 2 == 1) warm(warm.size / 2)
        else (warm(warm.size / 2 - 1) + warm(warm.size / 2)) / 2.0
      println(f"[probe] $name warm_median($runs): $med%.2fs")
    }
    if (explain) fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
