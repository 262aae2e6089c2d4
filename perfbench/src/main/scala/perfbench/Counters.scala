package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. Counts are load-independent
  * (the same plan always gives the same numbers); the `*Ns` fields are
  * times and move with host load.
  */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, recordsRead: Long = 0,
    taskBusyNs: Long = 0, taskWaitNs: Long = 0, singleTaskStageNs: Long = 0) {
  def +(o: Work): Work = Work(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, recordsRead + o.recordsRead,
    taskBusyNs + o.taskBusyNs, taskWaitNs + o.taskWaitNs,
    singleTaskStageNs + o.singleTaskStageNs)

  def json: ListMap[String, Any] = ListMap(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "records_read" -> recordsRead,
    "task_busy_ms" -> taskBusyNs / 1e6, "task_wait_ms" -> taskWaitNs / 1e6,
    "single_task_stage_ms" -> singleTaskStageNs / 1e6)

  /** The counters two runs of one plan must repeat exactly. */
  def loadIndependent: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes)
}

/** Listener that sums Spark work per job group (`spark.jobGroup.id`).
  * Jobs submitted without a group (the HTTP server's handler threads set
  * none) go to the "" bucket; the caller attributes that bucket to the
  * one operation it had in flight, which is exact only when a single
  * client is running.
  *
  * Events arrive asynchronously on the listener bus, so a bucket is read
  * only after [[barrier]]: a sentinel job whose end event, once seen,
  * proves every earlier event of this thread's jobs was delivered.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private val work = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val sentinelsSeen = ConcurrentHashMap.newKeySet[String]()
  private val sentinelIds = new AtomicLong()
  private val Sentinel = "perfbench-sentinel-"
  private val GroupKey = "spark.jobGroup.id"

  private def add(group: String, w: Work): Unit = work.merge(group, w, _ + _)

  private val sentinelJobs = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(GroupKey)))
      .getOrElse("")
    if (g.startsWith(Sentinel)) sentinelJobs.put(e.jobId, g)
    else {
      e.stageIds.foreach(stageGroup.put(_, g))
      add(g, Work(jobs = 1))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = sentinelJobs.remove(e.jobId)
    if (g != null) sentinelsSeen.add(g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitNs.put(e.stageInfo.stageId, t * 1000000L))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = stageGroup.get(info.stageId)
    if (g != null) {
      val single =
        if (info.numTasks == 1)
          (for (s <- info.submissionTime; c <- info.completionTime) yield c - s)
            .getOrElse(0L) * 1000000L
        else 0L
      add(g, Work(stages = 1, singleTaskStageNs = single))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null) {
      val m = e.taskMetrics
      val submitted = Option(stageSubmitNs.get(e.stageId)).map(_.longValue)
      val wait = submitted.map(s => math.max(0L, e.taskInfo.launchTime * 1000000L - s))
        .getOrElse(0L)
      add(g, Work(
        tasks = 1,
        shuffleWriteBytes = if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
        spillBytes = if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled,
        recordsRead = if (m == null) 0 else m.inputMetrics.recordsRead,
        taskBusyNs = e.taskInfo.duration * 1000000L,
        taskWaitNs = wait))
    }
  }

  sc.addSparkListener(this)

  /** Runs a one-task sentinel job and waits until the listener bus has
    * delivered its end, so every event of earlier jobs has been counted.
    * Restores the caller's job group afterwards.
    */
  def barrier(): Unit = {
    val prior = sc.getLocalProperty(GroupKey)
    val g = Sentinel + sentinelIds.incrementAndGet()
    sc.setJobGroup(g, "listener-bus barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally {
      if (prior == null) sc.clearJobGroup()
      else sc.setLocalProperty(GroupKey, prior)
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!sentinelsSeen.remove(g)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("listener-bus barrier not observed within 60 s")
      Thread.sleep(1)
    }
  }

  /** Removes and returns the work counted for `group` (call after [[barrier]]). */
  def take(group: String): Work = Option(work.remove(group)).getOrElse(Work())

  def reset(): Unit = work.clear()

  def detach(): Unit = sc.removeSparkListener(this)

  /** Re-registers a detached listener and drops the events of jobs that
    * ran while it was detached and were still queued on the bus.
    */
  def reattach(): Unit = {
    sc.addSparkListener(this)
    barrier()
    reset()
  }
}

object Counters {
  /** Registers a listener and drops whatever earlier jobs' events were
    * still queued on the bus, so only work from here on is counted.
    */
  def attach(sc: SparkContext): Counters = {
    val c = new Counters(sc)
    c.barrier()
    c.reset()
    c
  }
}
