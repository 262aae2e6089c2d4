package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** The per-layer view of one traced operation: a batch query, or one API
  * request together with its direct facade replay.
  *
  * @param buildMs    query build (SparkEntry) or facade call (WhisperApi)
  * @param buildJobs  Spark jobs run while building / inside the facade call
  * @param execMs     `toRdd.count()` of the query, or collect of the facade result
  * @param work       Spark work of the whole operation (batch: build + exec;
  *                   API: the HTTP request)
  * @param blocksAfter persisted blocks left when the action returned
  * @param rowsRead   rows read by scans (batch: build + exec; API: the replay)
  * @param rowsOut    rows the operation returned
  * @param planNodes  analyzed logical-plan nodes of the operation's DataFrame
  * @param entrySelfMs time in the layer above build + exec: the HTTP server
  *                   (round trip minus facade and collect) or, for batch, the
  *                   per-query eviction `graft.Bench` also performs
  */
final case class OpSample(
    op: String, buildMs: Double, buildJobs: Long, execMs: Double, work: Work,
    blocksAfter: Long, rowsRead: Long, rowsOut: Long, planNodes: Long,
    entrySelfMs: Double)

object Layers {
  /** Persisted blocks currently stored (cached and checkpointed RDDs). */
  def storedBlocks(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  def planNodes(df: DataFrame): Long =
    df.queryExecution.analyzed.collect { case p => p }.size.toLong

  /** Per-layer metric name -> unit; every workload reports all of them. */
  val units: ListMap[String, String] = ListMap(
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "spark.exec_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_busy_ms" -> "ms", "spark.task_wait_ms" -> "ms",
    "spark.single_task_stage_ms" -> "ms", "storage.blocks_after_op" -> "count",
    "io.load_s" -> "s", "scan.rows_read_per_row_returned" -> "rows/row",
    "plan.nodes" -> "count", "entry.self_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** Means over the operations (one value per operation each). */
  def metrics(ops: Seq[OpSample], ioLoadS: Double, overheadPct: Double): ListMap[String, Double] = {
    def m(f: OpSample => Double) = Stats.mean(ops.map(f))
    val rowsOut = ops.map(_.rowsOut).sum
    ListMap(
      "queries.build_ms" -> m(_.buildMs),
      "queries.build_jobs" -> m(_.buildJobs.toDouble),
      "spark.exec_ms" -> m(_.execMs),
      "spark.jobs" -> m(_.work.jobs.toDouble),
      "spark.stages" -> m(_.work.stages.toDouble),
      "spark.tasks" -> m(_.work.tasks.toDouble),
      "spark.shuffle_write_bytes" -> m(_.work.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> m(_.work.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> m(_.work.spillBytes.toDouble),
      "spark.task_busy_ms" -> m(_.work.taskBusyNs / 1e6),
      "spark.task_wait_ms" -> m(_.work.taskWaitNs / 1e6),
      "spark.single_task_stage_ms" -> m(_.work.singleTaskStageNs / 1e6),
      "storage.blocks_after_op" -> m(_.blocksAfter.toDouble),
      "io.load_s" -> ioLoadS,
      "scan.rows_read_per_row_returned" ->
        ops.map(_.rowsRead).sum.toDouble / math.max(1L, rowsOut),
      "plan.nodes" -> m(_.planNodes.toDouble),
      "entry.self_ms" -> m(_.entrySelfMs),
      "trace.overhead_pct" -> overheadPct)
  }

  /** The metrics with unit and sample count, as the result file holds them. */
  def report(ops: Seq[OpSample], ioLoadS: Double, overheadPct: Double): ListMap[String, Any] =
    metrics(ops, ioLoadS, overheadPct).map { case (k, v) =>
      k -> Main.metric(v, units(k), if (k == "io.load_s") 1 else ops.size)
    }

  /** Per operation type: the same numbers, for the trace artifact. */
  def byOp(ops: Seq[OpSample]): ListMap[String, Any] =
    ListMap(ops.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, xs) =>
      op -> (ListMap[String, Any]("n" -> xs.size) ++ metrics(xs, 0.0, 0.0)
        .filter { case (k, _) => k != "io.load_s" && k != "trace.overhead_pct" })
    }: _*)
}
