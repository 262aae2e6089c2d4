package graft.tools

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import graft.{Graft, SparkEntry}

/** Dev tool: run one named query and print, per run, where its time
  * went: plan build (seconds, Spark jobs) and execution (seconds, jobs,
  * stages, tasks, and the wall time of stages that ran a single task —
  * serial work such as a collect or a broadcast build).
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
    val work = new PhaseWork(spark.sparkContext)
    val fn = SparkEntry.queries(name)
    // warm-up run then timed runs; evict leftover storage between runs
    // exactly like Bench so each run measures a cold query, not a session
    // with the previous run's checkpoint blocks still resident
    val times = (1 to 1 + runs).map { i =>
      Graft.evictAll(spark)
      val (df, buildS, build) = work.measure(s"probe-run$i-build")(fn(spark, sfDir))
      // full-materialization forcing, matching Bench's r8 protocol
      // (df.count() lets Catalyst eliminate cardinality-preserving
      // outer joins and times a pruned plan on report-shaped queries)
      val (n, execS, exec) = work.measure(s"probe-run$i-exec")(df.queryExecution.toRdd.count())
      println(f"[probe] $name run$i: ${buildS + execS}%.2fs rows=$n " +
        f"build=$buildS%.2fs/${build.jobs}j exec=$execS%.2fs/${exec.jobs}j/" +
        f"${exec.stages}st/${exec.tasks}t single_task_stage_ms=${exec.singleTaskStageMs}")
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

  /** Spark work of one job group. */
  private final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                                singleTaskStageMs: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, singleTaskStageMs + o.singleTaskStageMs)
  }

  /** Listener that sums Spark work per job group. Events arrive on the
    * asynchronous listener bus, so [[measure]] ends each phase with a
    * sentinel job in its own group: once that job's end is seen, every
    * event of the phase's jobs has been delivered, with no sleep or race.
    */
  private final class PhaseWork(sc: SparkContext) extends SparkListener {
    private val GroupKey = "spark.jobGroup.id"
    private val Sentinel = "-sentinel"
    private val work = new ConcurrentHashMap[String, Work]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val sentinelJobs = new ConcurrentHashMap[Int, String]()
    private val sentinelsSeen = ConcurrentHashMap.newKeySet[String]()
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .getOrElse("")
      if (g.endsWith(Sentinel)) sentinelJobs.put(e.jobId, g)
      else {
        e.stageIds.foreach(stageGroup.put(_, g))
        work.merge(g, Work(jobs = 1), _ + _)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(sentinelJobs.remove(e.jobId)).foreach(sentinelsSeen.add)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageGroup.get(info.stageId)).foreach { g =>
        val singleMs =
          if (info.numTasks != 1) 0L
          else (for (s <- info.submissionTime; c <- info.completionTime) yield c - s)
            .getOrElse(0L)
        work.merge(g, Work(stages = 1, tasks = info.numTasks,
          singleTaskStageMs = singleMs), _ + _)
      }
    }

    /** Runs `body` in job group `group` and returns its result, its wall
      * seconds and the Spark work its jobs did.
      */
    def measure[A](group: String)(body: => A): (A, Double, Work) = {
      sc.setJobGroup(group, group)
      val t0 = System.nanoTime()
      val a = try body finally sc.clearJobGroup()
      val seconds = (System.nanoTime() - t0) / 1e9
      val sentinel = group + Sentinel
      sc.setJobGroup(sentinel, "listener-bus barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sentinelsSeen.remove(sentinel)) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"listener-bus barrier for $group not seen within 60 s")
        Thread.sleep(1)
      }
      (a, seconds, Option(work.remove(group)).getOrElse(Work()))
    }
  }
}
