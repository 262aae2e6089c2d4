package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.Graft

/** Benchmark JVM. Runs one workload and writes `result.json` (and, with
  * `--trace 1`, `trace.json`) into `--out`; run.py turns that into the
  * benchmark's report line.
  *
  * Usage: perfbench.Main --workload <name> --data <dir> --out <dir>
  *                       --seed <n> --seconds <n> --trace <0|1>
  */
object Main {
  /** Query lists of the batch workloads, in execution order. */
  val batchQueries: Map[String, Seq[String]] = Map(
    // every RelationalPack query except q145_copurchase, the one whose
    // plan build runs Spark jobs (PlanBuildJobsSpec allowlist)
    "batch_relational" -> graft.queries.RelationalPack.queries.keys.toSeq.sorted
      .filterNot(_ == "q145_copurchase"),
    // the hand-rolled graph loops, the CC family, k-means, BPE and the
    // entity-resolution barriers
    "batch_iterative" -> Seq(
      "q37_connected_components", "q38_cluster_sizes", "q98_pagerank",
      "q103_pagerank_weighted", "q108_personalized_pagerank", "q178_hits",
      "q122_label_propagation", "q147_sssp", "q135_kcore", "q104_bfs_hops",
      "q150_walks", "q224_partition_quality", "q118_kmeans_fit",
      "q158_bpe_merges", "q185_bpe_encode", "q144_entity_resolution",
      "q199_golden_record"))

  private val t0 = System.nanoTime()
  /** Progress line on stderr with the time since the harness started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def metric(value: Double, unit: String, n: Int): ListMap[String, Any] =
    ListMap("value" -> value, "unit" -> unit, "n" -> n)

  /** Heap in use after a full collection, in MB. Spark's ContextCleaner
    * frees the shuffle and broadcast blocks of collected objects only after
    * a collection, asynchronously, so collect again once it had time to.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def usedMb() = { mem.gc(); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    val first = usedMb()
    Thread.sleep(1000)
    val second = usedMb()
    log(f"heap after gc: $first%.1f MB, one second later: $second%.1f MB")
    second
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val out = Paths.get(opts("out")).toAbsolutePath
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val code =
      try {
        val spark = SparkSession.builder()
          .master("local[4]")
          .appName(s"perfbench-$workload")
          .config("spark.sql.shuffle.partitions", "4")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", out.resolve("spark-local").toString)
          .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        Graft.install(spark)
        log("session ready")
        val result = batchQueries.get(workload) match {
          case Some(qs) =>
            new BatchWorkload(spark, qs, opts("data"), out, seconds, trace).run(jvmStartMs)
          case None if workload == "api_mixed" =>
            new ApiWorkload(spark, opts("seed").toLong, out, seconds, trace).run(jvmStartMs)
          case None => throw new IllegalArgumentException(s"unknown workload $workload")
        }
        Json.writeFile(out.resolve("result.json"), result)
        spark.stop()
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    System.err.flush()
    // explicit exit: HttpApiServer.stop() never shuts down the handler
    // pool it creates, so its non-daemon threads would keep the JVM alive
    System.exit(code)
  }
}
