package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The one Spark work collector: a listener that sums Spark work per job
  * group. Jobs submitted without a group (the HTTP server's handler
  * threads set none) go to the "" bucket.
  *
  * Events arrive on the asynchronous listener bus, so a bucket is read
  * only after [[barrier]]: a one-task sentinel job whose end event, once
  * seen, proves every event of the jobs the calling thread ran before it
  * has been delivered. No sleep or race decides attribution.
  */
final class SparkWork(sc: SparkContext) extends SparkListener with AutoCloseable {
  import SparkWork._

  private val work = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val sentinels = new ConcurrentHashMap[String, CountDownLatch]()
  private val sentinelJobs = new ConcurrentHashMap[Int, CountDownLatch]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .getOrElse("")
    if (g.startsWith(Sentinel)) Option(sentinels.get(g)).foreach(sentinelJobs.put(e.jobId, _))
    else {
      e.stageIds.foreach(stageGroup.put(_, g))
      work.merge(g, Work(jobs = 1), _ + _)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(sentinelJobs.remove(e.jobId)).foreach(_.countDown())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageGroup.get(info.stageId)).foreach { g =>
      val m = Option(info.taskMetrics)
      val singleMs =
        if (info.numTasks != 1) 0L
        else (for (s <- info.submissionTime; c <- info.completionTime) yield c - s)
          .getOrElse(0L)
      work.merge(g, Work(stages = 1, tasks = info.numTasks,
        shuffleReadBytes = m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        shuffleWriteBytes = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        spillBytes = m.fold(0L)(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        singleTaskStageMs = singleMs), _ + _)
    }
  }

  // a stage's peakExecutionMemory is the sum over its tasks; one task's
  // peak is only seen here
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics))
      work.merge(g, Work(peakExecMemBytes = m.peakExecutionMemory), _ + _)

  /** Runs `body` in job group `group` and returns its result, its wall
    * seconds and the Spark work its jobs did. The caller's earlier job
    * group is restored afterwards.
    */
  def measure[A](group: String)(body: => A): (A, Double, Work) = {
    val t0 = System.nanoTime()
    val a = inGroup(group, group)(body)
    val seconds = (System.nanoTime() - t0) / 1e9
    (a, seconds, take(group))
  }

  /** Runs a sentinel job on this thread and waits, at most 60 s, until
    * the listener bus has delivered its end.
    */
  def barrier(): Unit = {
    val g = Sentinel + sentinelIds.incrementAndGet()
    val done = new CountDownLatch(1)
    sentinels.put(g, done)
    try {
      inGroup(g, "listener-bus barrier")(sc.parallelize(Seq(1), 1).count())
      if (!done.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener-bus barrier not seen within 60 s")
    } finally sentinels.remove(g)
  }

  /** The work counted for `group` since it was last taken, read after a
    * [[barrier]]; the bucket is emptied.
    */
  def take(group: String): Work = {
    barrier()
    Option(work.remove(group)).getOrElse(Work())
  }

  def close(): Unit = sc.removeSparkListener(this)

  private def inGroup[A](group: String, description: String)(body: => A): A = {
    val prior = JobGroupProps.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, description)
    try body finally prior.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}

object SparkWork {
  private val GroupKey = "spark.jobGroup.id"
  /** The thread-local properties `SparkContext.setJobGroup` sets. */
  private[graft] val JobGroupProps =
    Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")
  private val Sentinel = "graft-sparkwork-sentinel-"
  private val sentinelIds = new AtomicLong()

  /** Spark work of one job group. Counts and bytes are load-independent
    * (the same plan gives the same numbers); `singleTaskStageMs`, the
    * wall time of stages that ran a single task (serial work such as a
    * collect or a broadcast build), moves with host load.
    * `peakExecMemBytes` is the largest peak execution memory of any one
    * task.
    */
  final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                        shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
                        spillBytes: Long = 0, peakExecMemBytes: Long = 0,
                        singleTaskStageMs: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes, math.max(peakExecMemBytes, o.peakExecMemBytes),
      singleTaskStageMs + o.singleTaskStageMs)
  }
}
