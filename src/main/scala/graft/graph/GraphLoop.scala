package graft.graph

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** The scaffold the iterative graph operators' RDD loops share. Every
  * round is one Pregelix-style superstep (Bu et al., VLDB 2014): the
  * vertex state joins the co-partitioned edges, then a group-by on the
  * message key builds the next state. The loop owns:
  *
  *  - the edge step (`GraphLoop.edges`): co-partition the edge list
  *    under a `HashPartitioner` sized from the edge count;
  *  - the round discipline (`advance`): persist the new state, run the
  *    round's own action on it (which materializes it), and only then
  *    release the state it replaces. Releasing first would make the
  *    next round recompute the whole chain of rounds;
  *  - the round count (`rounds`);
  *  - cleanup (`GraphLoop.run`): when the body ends, normally or by a
  *    throw, every RDD the loop persisted is released, except those the
  *    body `retain`s because its lazy result still reads them. Those are
  *    reclaimed by Spark's ContextCleaner once the result is dropped, or
  *    at once by `Graft.evictAll`.
  */
private[graph] final class GraphLoop private {
  private val owned = mutable.LinkedHashSet.empty[RDD[_]]
  private var n = 0

  /** Rounds run so far: one per `advance`. */
  def rounds: Int = n

  /** Persists `rdd` (MEMORY_AND_DISK) until the loop ends. */
  def persist[T](rdd: RDD[T]): RDD[T] = {
    owned += rdd
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** [[GraphLoop.edges]], released when the loop ends. */
  def edges[E, V: ClassTag](raw: RDD[E])(keyed: RDD[E] => RDD[(Long, V)])
      : (RDD[(Long, V)], HashPartitioner) = {
    val (e, part) = GraphLoop.edges(raw)(keyed)
    owned += e
    (e, part)
  }

  /** One round: persists `next`, runs the round's action `act` on it,
    * then releases `replaced`. Returns what `act` returned.
    */
  def advance[T, A](next: RDD[T], replaced: RDD[_]*)(act: RDD[T] => A): A = {
    val a = act(persist(next))
    release(replaced)
    n += 1
    a
  }

  /** Keeps `rdds` persisted past the loop: the returned result reads them. */
  def retain(rdds: RDD[_]*): Unit = owned --= rdds

  private def release(rdds: Iterable[RDD[_]]): Unit = rdds.foreach { r =>
    owned -= r
    r.unpersist(blocking = false)
  }
}

private[graph] object GraphLoop {

  /** Runs `body` with a fresh loop and releases what it persisted. */
  def run[R](body: GraphLoop => R): R = {
    val loop = new GraphLoop
    try body(loop) finally loop.release(loop.owned.toList)
  }

  /** Co-partitions an edge list: `keyed(raw)` hash-partitioned and
    * persisted, plus the partitioner for the vertex state. Counting
    * `raw` is the step's one Spark action. About 50k edges per task,
    * counted in both directions and capped at the default parallelism:
    * tiny graphs run in one task, large ones spread over the cluster.
    * Task skew, not bytes, is the constraint: a round is a join and a
    * reduce over boxed pair RDDs (the older ~170k-per-task rule left a
    * 525k-edge graph on 3 of 32 cores).
    */
  def edges[E, V: ClassTag](raw: RDD[E])(keyed: RDD[E] => RDD[(Long, V)])
      : (RDD[(Long, V)], HashPartitioner) = {
    val nE = raw.count()
    val part = new HashPartitioner(math.max(1L,
      math.min(raw.sparkContext.defaultParallelism.toLong, 2 * nE / 50000L + 1L)).toInt)
    (keyed(raw).partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK), part)
  }
}
