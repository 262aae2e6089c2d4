package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point PageRank with damping 0.85 over a directed edge list.
  *
  * Ranks are BIGINT micro-units (`scale` units = rank 1.0) and every
  * step is integer arithmetic — `div`, `*`, `+` — so the result is
  * BIT-IDENTICAL on any engine, partitioning, or cluster size. A
  * floating-point PageRank cannot make that promise on Spark: the
  * per-vertex contribution sum is a shuffle aggregate whose
  * accumulation order is nondeterministic, and double addition is not
  * associative. Fixed-point trades ~1e-12 of precision for exact
  * reproducibility (and an exact DuckDB oracle).
  *
  * Per iteration: contrib(u→v) = (rank(u)·w(u,v)) div Σw(u), evaluated
  * in the overflow-safe decomposition `(rank div Σw)·w +
  * ((rank mod Σw)·w) div Σw`; dangling mass (Σw = 0 vertices)
  * redistributes per variant; rank'(v) = base(v) + d·(Σ contrib +
  * dangling term), with d = 85/100 applied as `(85·x) div 100`.
  *
  * Scale notes: the loop is iters × (one equi-join + one integer-sum
  * shuffle) — the textbook distributed PageRank shape, one Spark job
  * per round: the dangling-mass fold, which also materializes the
  * round's state (`GraphLoop`).
  * Mass bound: total mass is ~N·scale in every variant (uniform spreads
  * it, personalized concentrates it), and in the worst case one vertex
  * receives all of it, so the 85× damping product needs
  * 100·N·scale < 2⁶³ — enforced by a `require` in the shared loop
  * (~9×10⁴ vertices at the default 1e12 scale; scale=1e6 admits ~9×10¹⁰
  * vertices at micro-unit precision — drop `scale` for larger graphs,
  * trading precision for headroom).
  */
object PageRank {

  val DefaultScale = 1000000000000L // 1e12 units = rank 1.0

  /** @param vertices one-column DataFrame of vertex ids (castable to long)
    * @param edges    two-column DataFrame (src, dst), DIRECTED — pass
    *                 both directions for an undirected graph
    */
  def run(vertices: DataFrame, edges: DataFrame, iters: Int,
          scale: Long = DefaultScale): DataFrame =
    runWeighted(vertices,
      edges.toDF("src", "dst").withColumn("w", lit(1L)), iters, scale)

  /** Weighted fixed-point PageRank: contribution along u→v is
    * `(rank(u) · w(u,v)) div Σ_x w(u,x)` — unit weights reduce exactly
    * to the unweighted `rank div deg`. Weights must be POSITIVE BIGINT
    * units (quantize a similarity to integer units first; 6-dp sims ×
    * 1e6 are exact); non-positive weights raise at execution. The
    * decomposed contribution keeps the largest intermediate at `Σw·w`
    * (per-vertex weight mass squared), independent of hub-rank growth.
    *
    * @param edges three-column DataFrame (src, dst, w), DIRECTED
    */
  def runWeighted(vertices: DataFrame, edges: DataFrame, iters: Int,
                  scale: Long = DefaultScale): DataFrame =
    fixedPoint(vertices, edges, iters, scale,
      initRank = (_, _) => scale,
      baseTerm = (_, _) => (15L * scale) / 100L,
      dangShare = (n, dang, _) => dang / n)

  /** Personalized PageRank: the teleport mass — the (1−d) share and
    * all dangling mass — returns to ONE source vertex instead of
    * spreading uniformly, so ranks measure proximity to the source
    * (the similarity-graph re-ranking primitive: "important AND near
    * this document"). Initial mass (N·scale) starts on the source;
    * unreachable vertices decay to exactly 0.
    */
  def runPersonalized(vertices: DataFrame, edges: DataFrame, source: Long,
                      iters: Int, scale: Long = DefaultScale): DataFrame =
    fixedPoint(vertices, edges, iters, scale,
      // total mass N·scale sits on one vertex; the shared fixedPoint
      // require enforces the 100·N·scale < 2⁶³ bound before this runs
      initRank = (n, id) => if (id == source) n * scale else 0L,
      baseTerm = (n, id) => if (id == source) (15L * scale * n) / 100L else 0L,
      dangShare = (_, dang, id) => if (id == source) dang else 0L)

  /** Shared fixed-point loop, on raw co-partitioned RDDs (r13 — the
    * same substrate switch the CC loop made, for the same reason:
    * every DataFrame round paid Catalyst + AQE planning, a broadcast
    * subquery for the dangling mass, and an eager-checkpoint job —
    * measured ~0.8 s/round at sf0.1 REGARDLESS of data size, so q194's
    * 3-iteration PageRank spent ~2.8 s on three tiny rounds. An RDD
    * round on co-partitioned (id, (sumw, rank)) / (src, (dst, w))
    * pairs is one shuffle (the contribution reduceByKey) plus the
    * dangling-mass fold. All arithmetic is the identical positive
    * int64 `div`/`%`/`*`/`+` chain, so ranks are BIT-IDENTICAL to the
    * DataFrame form on any partitioning (integer sums are exact and
    * order-free — the reason this operator is fixed-point at all).
    *
    * `initRank(n, id)` seeds the rank; `baseTerm(n, id)` is the
    * per-vertex teleport term; `dangShare(n, dang, id)` is the
    * vertex's share of the round's total dangling mass.
    */
  private def fixedPoint(vertices: DataFrame, edges: DataFrame, iters: Int,
                         scale: Long,
                         initRank: (Long, Long) => Long,
                         baseTerm: (Long, Long) => Long,
                         dangShare: (Long, Long, Long) => Long): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val spark = vertices.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    // NULL guard catches both missing weights and values that cast to
    // NULL (e.g. non-numeric strings) — without it such edges would be
    // silently dropped by the contribution sums instead of failing loudly
    val eRdd = edges.toDF("src", "dst", "w")
      .select(col("src").cast("long"), col("dst").cast("long"),
        when(col("w").cast("long").isNull || col("w").cast("long") <= 0,
          raise_error(lit("PageRank: edge weights must be positive " +
            "integer units")).cast("long"))
          .otherwise(col("w").cast("long")).as("w"))
      .as[(Long, Long, Long)].rdd
      .map { case (src, dst, w) => (src, (dst, w)) }
    val vRdd = vertices.select(col(vertices.columns(0)).cast("long"))
      .distinct().as[Long].rdd
    GraphLoop.run { loop =>
      val (e, part) = loop.edges(eRdd)(identity)
      val sumw = e.mapValues(_._2).reduceByKey(part, (a: Long, b: Long) => a + b)
      // (id, sumw) co-partitioned with the edges — persisted: the seed
      // state derives from it and the count below materializes it
      val base = loop.persist(vRdd.map(id => (id, ())).partitionBy(part)
        .leftOuterJoin(sumw, part)
        .mapValues { case (_, sw) => sw.getOrElse(0L) })
      val n = base.count()
      if (n == 0) spark.createDataset(sc.emptyRDD[(Long, Long)]).toDF("id", "rank")
      else {
        // worst-case overflow bound for EVERY variant: total mass ≈
        // n·scale and a single vertex can in principle receive all of
        // it, so the 85× damping product needs 100·n·scale < 2⁶³.
        // Enforced here (not just documented) so a too-large graph
        // fails loudly instead of silently wrapping ranks; drop `scale`
        // to trade precision for size.
        require(n <= Long.MaxValue / 100L / scale,
          s"PageRank: n*scale = $n*$scale would overflow the 85x damping " +
            "product in the worst case - use a smaller scale")
        // state: (id, (sumw, rank)), partitioning preserved from base
        var prev: RDD[_] = base
        var state = base
          .mapPartitions(_.map { case (id, sw) => (id, (sw, initRank(n, id))) },
            preservesPartitioning = true)
        for (_ <- 1 to iters) {
          // dangling mass: one exact long fold, the round's one action.
          // It materializes `state`, after which the state it was built
          // from can go
          val dang = loop.advance(state, prev)(
            _.filter(_._2._1 == 0L).map(_._2._2).fold(0L)(_ + _))
          // == (rank * w) div sumw, without the rank-sized product
          val contribs = e.join(state.filter(_._2._1 > 0L))
            .map { case (_, ((dst, w), (sw, rank))) =>
              (dst, rank / sw * w + rank % sw * w / sw)
            }
            .reduceByKey(part, (a: Long, b: Long) => a + b)
          prev = state
          state = state.leftOuterJoin(contribs, part)
            .mapPartitions(_.map { case (id, ((sw, _), in)) =>
              val mass = in.getOrElse(0L) + dangShare(n, dang, id)
              (id, (sw, baseTerm(n, id) + 85L * mass / 100L))
            }, preservesPartitioning = true)
        }
        // the last round runs in the caller's action: it reads the
        // edges and the state before it, and persists its own result
        // (an ordered read computes the result twice)
        loop.retain(e, prev, loop.persist(state))
        state.map { case (id, (_, rank)) => (id, rank) }.toDF("id", "rank")
      }
    }
  }
}
