package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded traversal operators over an edge list — the graph-side
  * retrieval primitives (k-hop neighborhoods, local clustering signals)
  * that complement `Components` (global structure) and `PageRank`
  * (global importance).
  */
object Traversals {

  /** Minimum hop distance from `source` along directed edges, bounded
    * at `maxHops`; vertices not reached within the bound get NULL. The
    * bound makes the operator deterministic and oracle-replayable
    * without a convergence check, and matches the practical use — "the
    * k-hop neighborhood of this document" — where unbounded reach is
    * never wanted.
    *
    * Each round expands only the NEW frontier (dist == round−1) through
    * one equi-join — textbook distributed BFS, O(maxHops) shuffles,
    * each round's frontier persisted and materialized by its count.
    */
  def bfsHops(vertices: DataFrame, edges: DataFrame, source: Long,
              maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    // RDD substrate (r13) — the CC/PageRank/HITS/SSSP switch: each
    // DataFrame round paid planning + an eager checkpoint + an isEmpty
    // action, fixed costs invariant to data size. Frontier semantics
    // are unchanged: each round expands only the NEW frontier (one
    // co-partitioned edge join), dedups it, subtracts everything
    // already reached, and the loop drains early once the frontier is
    // empty. The source is seeded UNCONDITIONALLY (not filtered through
    // the vertex table): the recursive-CTE oracle starts from the
    // source id and walks all edges regardless of vertex membership,
    // joining the vertex table only at the end — a source present only
    // in the edge list must still propagate distances.
    val spark = vertices.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val eRdd = edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .na.drop()
      .as[(Long, Long)].rdd
    GraphLoop.run { loop =>
      val (e, part) = loop.edges(eRdd)(identity)
      // the reached set is the union of the per-round frontiers: their
      // key sets are disjoint by construction (the subtract), and a
      // union of co-partitioned RDDs keeps `part`
      val frontiers = scala.collection.mutable.ArrayBuffer(
        loop.persist(sc.parallelize(Seq((source, 0L)), 1).partitionBy(part)))
      var drained = false
      while (loop.rounds < maxHops && !drained) {
        val hop = loop.rounds + 1L
        val next = e.join(frontiers.last)
          .map { case (_, (dst, _)) => (dst, hop) }
          .reduceByKey(part, (a: Long, b: Long) => a)   // distinct dsts
          .subtractByKey(sc.union(frontiers.toSeq), part)
        // ONE action materializes the round and decides the early drain
        drained = loop.advance(next)(_.count() == 0L)
        if (!drained) frontiers += next
      }
      loop.retain(frontiers.toSeq: _*)
      vertices
        .select(col(vertices.columns(0)).cast("long")).distinct()
        .as[Long].rdd
        .map(id => (id, ()))
        .leftOuterJoin(sc.union(frontiers.toSeq))
        .map { case (id, (_, d)) => (id, d) }
        .toDF("id", "dist")
    }
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * vertex whose degree within the surviving set is < k". The k-core
    * is the fixpoint; a FIXED round count keeps the operator
    * deterministic and oracle-replayable (the q118/q122 pattern — at
    * the densities that matter the peel converges in a few rounds, and
    * callers needing the true fixpoint loop until the alive count
    * stops shrinking). Classic graph-cleaning gate: the k-core is the
    * part of a near-dup graph dense enough to be template/boilerplate
    * structure rather than chance collisions.
    *
    * Output: (id, in_core 0/1, deg) where deg is the vertex's degree
    * WITHIN the surviving set after the last round (0 for peeled
    * vertices).
    *
    * Scale notes: each round is two co-partitioned joins (edge
    * endpoints against the alive set) + one integer-sum reduce — all
    * keyed on vertex ids; alive shrinks monotonically.
    */
  def kcorePeel(vertices: DataFrame, pairs: DataFrame, k: Int,
                rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    // RDD substrate (r13) — the CC/PageRank/HITS/BFS/SSSP switch: each
    // DataFrame round paid Catalyst+AQE planning and an eager
    // localCheckpoint job, fixed costs invariant to data size. The
    // degree rule is IDENTICAL: count over the symmetrized pair list
    // restricted to edges with BOTH endpoints alive (each undirected
    // pair contributes one (a,b) and one (b,a) entry, so the per-src
    // count over the both-alive subgraph is exactly the DF form's
    // union-of-endpoints count), drop < k, fixed `rounds` passes, and
    // the final degree is re-counted within the last surviving set.
    val spark = vertices.sparkSession
    import spark.implicits._
    val pRdd = pairs.toDF("id_a", "id_b")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .na.drop() // null endpoints matched nothing in the DF joins
      .distinct()
      .as[(Long, Long)].rdd
    val (adj, part) = GraphLoop.edges(pRdd)(
      _.flatMap { case (a, b) => Iterator((a, b), (b, a)) })
    val verts = vertices
      .select(col(vertices.columns(0)).cast("long")).distinct()
      .as[Long].rdd
      .map(id => (id, ()))
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def degreesWithin(alive: org.apache.spark.rdd.RDD[(Long, Unit)])
        : org.apache.spark.rdd.RDD[(Long, Long)] =
      adj.join(alive) // src alive (narrow: both sides carry `part`)
        .map { case (src, (dst, _)) => (dst, src) }
        .join(alive, part) // dst alive (shuffles the remapped edges only)
        .map { case (_, (src, _)) => (src, 1L) }
        .reduceByKey(part, _ + _)
    // shared edge step only: the rounds are one lazy chain with no
    // action of their own, run by the caller's action
    var alive = verts
    for (_ <- 1 to rounds) {
      alive = degreesWithin(alive)
        .filter(_._2 >= k)
        .mapValues(_ => ()) // keeps `part` (mapValues preserves)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val lastAlive = alive
    val out = verts
      .leftOuterJoin(lastAlive)
      .leftOuterJoin(degreesWithin(lastAlive))
      .map { case (id, ((_, inCore), deg)) =>
        (id, if (inCore.isDefined) 1 else 0, deg.getOrElse(0L))
      }
      .toDF("id", "in_core", "deg")
    // adj stays persisted: the lazy `out` still reads it through the
    // final degree pass — the caller owns eviction after the query
    // runs (the DF form's cached pair set had the same contract).
    out
  }

  /** Local clustering coefficient per vertex: the share of a vertex's
    * neighbor pairs that are themselves connected —
    * coef = 2·triangles / (deg·(deg−1)), 0 for deg < 2. The standard
    * "how clique-like is this node's neighborhood" signal; over a
    * similarity graph it separates tight duplicate clusters (coef → 1)
    * from hub-and-spoke template families (coef → 0) at equal degree.
    *
    * Input is the same canonical (id_a < id_b) distinct pair list as
    * `triangleCounts`; degree is counted over the symmetrized list.
    * One triangle pass + one degree aggregate + an equi-join — no new
    * join shapes beyond the q105 path. `coef` is one double division
    * of exact integers, rounded 6 dp.
    */
  def clusteringCoefficient(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("id_a", "id_b")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .distinct()
    val deg = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    triangleCounts(vertices, p)
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        col("n_triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          round(lit(2.0) * col("n_triangles").cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("coef"))
  }

  /** Bounded single-source shortest paths (Bellman–Ford, `rounds`
    * synchronous relaxation rounds) over directed weighted edges
    * (src, dst, w) with non-negative INTEGER weights; unreached
    * vertices get NULL. After r rounds every shortest path of ≤ r
    * edges is exact — the same fixed-round determinism contract as
    * `bfsHops`/`kcorePeel` (an unbounded loop is not oracle-replayable
    * and rarely wanted: "cost to reach within k steps" is the product
    * question). Integer weights ⇒ exact min arithmetic, no FP-sum
    * ordering anywhere.
    *
    * Each round relaxes only vertices with a finite distance through
    * ONE edge equi-join + a min aggregate on the destination key, then
    * folds into the running distance table with a left join — O(rounds)
    * shuffles, all hash-partitioned on vertex ids; each round's
    * distances are persisted and materialized by one count. The edge
    * list materializes once and is read by every round.
    */
  def ssspBounded(vertices: DataFrame, edges: DataFrame, source: Long,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // RDD substrate (r13) — the CC/PageRank/HITS switch: each DataFrame
    // round paid Catalyst + AQE planning and an eager-checkpoint job,
    // fixed costs invariant to data size. A round here is one
    // co-partitioned edge join + one min-reduce shuffle + the narrow
    // fold-in. Distances stay exact int64 min/+ — bit-identical to the
    // DataFrame form on any partitioning. Unreached rides as -1
    // internally (weights are non-negative units, so real distances
    // are never negative) and surfaces as NULL, exactly as before;
    // edges with a NULL endpoint or weight contribute nothing in both
    // forms (the DF join/arithmetic dropped them silently).
    val spark = vertices.sparkSession
    import spark.implicits._
    val eRdd = edges.toDF("src", "dst", "w")
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .na.drop()
      .as[(Long, Long, Long)].rdd
      .map { case (s, d, w) => (s, (d, w)) }
    GraphLoop.run { loop =>
      val (e, part) = loop.edges(eRdd)(identity)
      var dist = loop.persist(vertices
        .select(col(vertices.columns(0)).cast("long")).distinct()
        .as[Long].rdd
        .map(id => (id, if (id == source) 0L else -1L))
        .partitionBy(part))
      for (_ <- 1 to rounds) {
        val relax = e.join(dist.filter(_._2 >= 0L))
          .map { case (_, ((d, w), sd)) => (d, sd + w) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        val next = dist.leftOuterJoin(relax, part)
          .mapPartitions(_.map { case (id, (cur, nd)) =>
            (id, nd match {
              case Some(n) => if (cur < 0L) n else math.min(cur, n)
              case None => cur
            })
          }, preservesPartitioning = true)
        loop.advance(next, dist)(_.count())
        dist = next
      }
      loop.retain(dist)
      dist
        .map { case (id, d) => (id, if (d < 0L) None else Some(d)) }
        .toDF("id", "dist")
    }
  }

  /** Deterministic random walks (the DeepWalk/node2vec corpus
    * generator, made reproducible): one walk starts at every vertex and
    * takes `steps` steps; at each step the walker moves to the neighbor
    * minimizing md5(walk_id | step | neighbor) — a reproducible
    * "uniform" choice that every engine, run, and partitioning replays
    * exactly (the hash-gate idea from `Sampling`, applied to neighbor
    * choice). A walk at a vertex with no out-edge terminates.
    *
    * Output: (walk_id, step, node) — step 0 is the start vertex.
    *
    * Each step is ONE edge equi-join + a packed-long min aggregate per
    * walk (hash = high 40 bits, neighbor id = low `idBits`, so
    * arg-min rides an integer `min` — the q34 packed-argmin pattern;
    * hash ties, ~2⁻⁴⁰ within a neighborhood, break toward the smaller
    * neighbor id deterministically). O(steps) shuffles on walk ids;
    * state per walk is one row. Requires ids < 2^idBits
    * (idBits ≤ 23 keeps hash·2^idBits inside int64) — guarded with a
    * row-level raise, like `triangleCounts`' canonical-pair guard; at
    * larger id spaces the id would pack by dense-rank instead.
    */
  def deterministicWalks(vertices: DataFrame, edges: DataFrame,
                         steps: Int, idBits: Int = 20): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(idBits >= 1 && idBits <= 23, "idBits must be in [1, 23]")
    val lim = 1L << idBits
    // RDD substrate (r13) — the CC/PageRank/HITS/SSSP switch: each
    // DataFrame step paid planning + an eager checkpoint. A step here
    // is one co-partitioned edge join + one packed-argmin reduceByKey,
    // and the whole walk chain materializes in ONE action at the end
    // (each step's state is persisted, so nothing recomputes). The
    // choice function is IDENTICAL: the 40-bit fold below reads the
    // first 10 hex chars of md5("walk|step|dst") — exactly the first 5
    // digest bytes that the old conv(substring(md5(concat_ws(...))))
    // column parsed — packed above the id, integer min, pmod back out.
    val spark = vertices.sparkSession
    import spark.implicits._
    val eRdd = edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .na.drop()
      .as[(Long, Long)].rdd
      .map { case (src, dst) =>
        // row-level guard, like the old raise_error column
        if (dst >= lim || dst < 0)
          throw new IllegalArgumentException(
            s"deterministicWalks requires 0 <= id < 2^$idBits")
        (src, dst)
      }
    val (e, part) = GraphLoop.edges(eRdd)(identity)
    var cur = vertices
      .select(col(vertices.columns(0)).cast("long")).distinct()
      .as[Long].rdd
      .map(id => (id, id)) // (walk_id, node)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perStep = scala.collection.mutable.ArrayBuffer(
      cur.map { case (w, n) => (w, 0, n) })
    for (i <- 1 to steps) {
      val stepped = e.join(cur.map(_.swap).partitionBy(part))
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { case (_, (dst, walk)) =>
            val d = md.digest(s"$walk|$i|$dst"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 10 hex chars of the digest = first 5 bytes, unsigned
            var h = 0L
            var b = 0
            while (b < 5) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
            (walk, h * lim + dst)
          }
        }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .mapValues(_ % lim) // pack is non-negative, % == pmod
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cur = stepped
      perStep += cur.map { case (w, n) => (w, i, n) }
    }
    spark.sparkContext.union(perStep.toSeq).toDF("walk_id", "step", "node")
  }

  /** Per-vertex triangle count over an UNDIRECTED graph given as
    * canonical pairs (id_a < id_b). Triangles (a < b < c) come from the
    * standard two-step equi-self-join on the ordered edge list — the
    * ordering makes each triangle appear exactly once, and every join
    * is on edge endpoints (shuffle-partitionable; the heaviest key is
    * the highest-degree vertex, AQE-skew territory, never a cross
    * join).
    *
    * The canonical pair set is cached (three self-join references read
    * it) and the result is lazy, so the caller owns eviction after the
    * query runs (see Dedup's cache-lifecycle note).
    */
  def triangleCounts(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    // non-canonical pairs would silently undercount (the a<b<c join
    // never matches them); duplicates would multi-count — guard + dedup
    val p = pairs.toDF("id_a", "id_b")
      .select(
        when(col("id_a").cast("long") >= col("id_b").cast("long"),
          raise_error(lit("triangleCounts requires canonical pairs " +
            "(id_a < id_b)")).cast("long"))
          .otherwise(col("id_a").cast("long")).as("id_a"),
        col("id_b").cast("long"))
      .distinct().cache()
    val tri = p.as("ab").join(p.as("bc"), col("ab.id_b") === col("bc.id_a"))
      .join(p.as("ac"),
        col("ac.id_a") === col("ab.id_a") && col("ac.id_b") === col("bc.id_b"))
      .select(col("ab.id_a").as("a"), col("ab.id_b").as("b"),
        col("bc.id_b").as("c"))
    // single-pass corner explode — a 3-branch union would execute the
    // two-step triangle join three times
    val members = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    vertices.select(col(vertices.columns(0)).cast("long").as("id")).distinct()
      .join(members, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Degree-mixing (assortativity) sufficient statistics: one row of
    * exact BIGINT sums over the SYMMETRIZED edge list from which
    * Newman's degree assortativity coefficient is one division —
    * r = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) with x the source degree and
    * y the destination degree of each directed orientation (so
    * Σx = Σy and Σxx = Σyy; only the independent sums ship). A hubby
    * crawl graph (hubs linking leaves) goes negative; a near-dup
    * cluster graph (cliques) goes positive — a cheap one-row shape
    * audit before anyone runs community detection.
    *
    * Input: canonical distinct pairs (id_a < id_b). Shape: one degree
    * aggregate (vertex-sized), two vertex-sized equi-joins to label
    * edge endpoints, one global sum — never pairwise; the single-row
    * output is the broadcast-totals idiom. Degrees are bounded by the
    * LSH bucket cap so the BIGINT products hold far past test scale.
    */
  def degreeMixing(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("id_a", "id_b")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .distinct()
      .localCheckpoint() // degree aggregate + endpoint labeling both read it
    val deg = p.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    p.join(deg.select(col("id").as("id_a"), col("deg").as("__da")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("deg").as("__db")), "id_b")
      .agg(
        (lit(2L) * count(lit(1))).as("n_endpoints"),
        sum(col("__da") + col("__db")).as("sum_x"),
        sum(col("__da") * col("__da") + col("__db") * col("__db"))
          .as("sum_xx"),
        (lit(2L) * sum(col("__da") * col("__db"))).as("sum_xy"))
  }
}
