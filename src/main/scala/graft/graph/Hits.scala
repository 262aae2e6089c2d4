package graft.graph

import org.apache.spark.sql.DataFrame

/** HITS (Kleinberg hubs & authorities) over a DIRECTED edge list —
  * the link-analysis complement of [[PageRank]]: authorities are
  * pointed-to by good hubs, hubs point at good authorities. On a
  * similarity graph oriented low-id → high-id this separates "template"
  * vectors many near-dups point at (authorities) from the near-dup
  * copies themselves (hubs).
  *
  * Determinism: scores live in integer MICRO-units with L∞ (max)
  * normalization — auth(v) = raw(v)·10⁶ div max(raw) — so every round
  * is exact integer arithmetic, bit-identical across partitionings and
  * engines (a float L2 normalization can't hash-match any oracle).
  *
  * Substrate (r13): the loop runs on co-partitioned pair RDDs — the
  * same switch the CC and PageRank loops made, for the same reason:
  * each DataFrame round paid Catalyst + AQE planning, two broadcast
  * max-scalar subqueries, and an eager-checkpoint job, all fixed costs
  * independent of data size. A round here is two edge-keyed joins +
  * two integer-sum reduceByKeys + two max folds over the vertex-sized
  * state. The renormalization multiply (raw·10⁶, raw up to degᵐᵃˣ·10⁶)
  * rides BigInt — the exact-integer twin of the old DECIMAL(38,0)
  * column — and the integral divide lands back in Long (quotient ≤ 10⁶
  * by construction; both operands non-negative, so BigInt `/` is the
  * same floor quotient as SQL `div`). Scores are BIT-IDENTICAL to the
  * DataFrame form on any partitioning: integer sums are exact and
  * order-free, which is why this operator is fixed-point at all.
  *
  * Scale notes: shuffle per round is edge-proportional; state is one
  * row per vertex; partitions size to the edge count (`GraphLoop.edges`).
  */
object Hits {

  private val Scale = 1000000L

  /** raw·10⁶ div max, exact: BigInt product (degᵐᵃˣ·10⁶ sums can pass
    * 2⁶³ on hub-heavy graphs — the old column form used DECIMAL(38,0));
    * both operands non-negative, so BigInt `/` is the same floor
    * quotient as SQL `div`. Object-level (not a def nested in `run`) so
    * task closures don't drag the method frame — and its SparkSession —
    * into serialization.
    */
  private def norm(raw: Long, max: Long): Long =
    (BigInt(raw) * Scale / max).toLong

  /** @param vertices one column `id`
    * @param edges    columns `src`, `dst` (directed)
    * @return (id, auth, hub) in integer micro-units
    */
  def run(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = vertices.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val eRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
    GraphLoop.run { loop =>
      // forward edges keyed by src (authority update pulls hub mass in),
      // reversed edges keyed by dst (hub update pulls fresh auth back out)
      val (eF, part) = loop.edges(eRdd)(identity)
      val eR = loop.persist(eRdd.map(_.swap).partitionBy(part))
      // state: (id, (auth, hub)) — exactly the vertex rows, like the
      // DataFrame form (edge endpoints outside the vertex table
      // contribute nothing and are dropped by the state join-back)
      var state = loop.persist(vertices.select(col(vertices.columns(0)).cast("long"))
        .as[Long].rdd
        .map(id => (id, (Scale, Scale)))
        .partitionBy(part))
      for (_ <- 1 to iters) {
        // authority update: sum incoming hub mass per dst, max-normalize
        val authIn = eF.join(state)
          .map { case (_, (dst, (_, hub))) => (dst, hub) }
          .reduceByKey(part, (a: Long, b: Long) => a + b)
        val rawA = loop.persist(state.leftOuterJoin(authIn, part)
          .mapPartitions(_.map { case (id, ((_, hub), in)) =>
            (id, (in.getOrElse(0L), hub))
          }, preservesPartitioning = true))
        val maxA = math.max(rawA.map(_._2._1).fold(0L)(math.max), 1L)
        val withAuth = rawA
          .mapPartitions(_.map { case (id, (raw, hub)) =>
            (id, (norm(raw, maxA), hub))
          }, preservesPartitioning = true)
        // hub update: sum outgoing (fresh) authority mass, max-normalize
        val hubIn = eR.join(withAuth)
          .map { case (_, (src, (auth, _))) => (src, auth) }
          .reduceByKey(part, (a: Long, b: Long) => a + b)
        val rawH = loop.persist(withAuth.leftOuterJoin(hubIn, part)
          .mapPartitions(_.map { case (id, ((auth, _), in)) =>
            (id, (auth, in.getOrElse(0L)))
          }, preservesPartitioning = true))
        val maxH = math.max(rawH.map(_._2._2).fold(0L)(math.max), 1L)
        val next = rawH
          .mapPartitions(_.map { case (id, (auth, raw)) =>
            (id, (auth, norm(raw, maxH)))
          }, preservesPartitioning = true)
        // the count is a narrow pass over the (already materialized) rawH
        loop.advance(next, rawA, state, rawH)(_.count())
        state = next
      }
      loop.retain(state)
      state.map { case (id, (auth, hub)) => (id, auth, hub) }
        .toDF("id", "auth", "hub")
    }
  }
}
