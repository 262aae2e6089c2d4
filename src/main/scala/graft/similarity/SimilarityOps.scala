package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorFunctions._

/** Candidate-pair generation strategy for the similarity graph (V6/V7
  * and the CC queries). `LshBlocked` is the default — the 100 TB path
  * (equi-join on LSH band keys, exact verification of candidates);
  * `ExactAllPairs` is the reference-parity opt-in (O(n²) cross join,
  * reference src/embedding/Clustering.cpp:29-53). Identical vectors
  * collide in every band, so at test scale (duplicate-text fixtures)
  * both strategies produce identical graphs; at scale LshBlocked trades
  * recall on low-similarity edges for candidate volume.
  */
sealed trait CandidateStrategy
case object ExactAllPairs extends CandidateStrategy
case class LshBlocked(bands: Int = 3, bitsPerBand: Int = 4)
    extends CandidateStrategy

/** Embedding-similarity operators (reference V1-V5,
  * src/embedding/Clustering.cpp + src/main.cpp:518-577), Spark-first.
  *
  * Scale notes (100 TB):
  *  - `topKSimilar` broadcasts the single query row and compiles to a
  *    scan + TakeOrderedAndProject — no shuffle, no full sort;
  *    `topKSimilarTo` takes a query vector already read as a literal.
  *  - `allPairs` is the exact O(n²) parity operator; at scale call
  *    `allPairsBlocked` (IVF-style candidate blocking) or MLlib's
  *    BucketedRandomProjectionLSH — both cut candidates before the
  *    quadratic step.
  *  - similarities are rounded to 6 dp *before* thresholding/sorting so
  *    results are reproducible across engines and runs.
  */
object SimilarityOps {

  /** Rounded cosine similarity — the canonical comparison key. */
  def sim6(a: Column, b: Column): Column = round(graft.Graft.cosineSim(a, b), 6)

  /** V5: top-k most similar rows to `queryId`'s vector; excludes self;
    * keeps all payload columns + `sim` (reference main.cpp:518-577,
    * default k=10).
    */
  def topKSimilar(emb: DataFrame, idCol: String, vecCol: String,
                  queryId: Long, k: Int = 10): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__query_vec"))
    topK(emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("sim", sim6(col(vecCol), col("__query_vec")))
      .drop("__query_vec"), idCol, k)
  }

  /** V5 against a query vector the caller already holds (the serving
    * path has read the query row): the vector is a plan literal, so no
    * query row is scanned or broadcast. Same scoring, self-exclusion and
    * (sim desc, id asc) order as `topKSimilar`, hence the same rows.
    */
  def topKSimilarTo(emb: DataFrame, idCol: String, vecCol: String,
                    queryId: Long, queryVec: Seq[Float], k: Int = 10): DataFrame =
    topK(emb.filter(col(idCol) =!= queryId)
      .withColumn("sim", sim6(col(vecCol), typedLit(queryVec))), idCol, k)

  /** The ordering tail both V5 paths share: (sim desc, id asc), first k. */
  private def topK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.orderBy(col("sim").desc, col(idCol).asc).limit(k)

  /** V2: exact all-pairs similarity join, id_a < id_b, sim >= threshold
    * (reference Clustering.cpp:29-53, default threshold 0.75).
    */
  def allPairs(emb: DataFrame, idCol: String, vecCol: String,
               threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("__vec_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("__vec_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", sim6(col("__vec_a"), col("__vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Scale path for V2: IVF-style blocking — assign every vector to its
    * nearest of `nCentroids` seed centroids, then run the quadratic join
    * only within blocks. Trades recall (cross-block pairs are missed)
    * for a ~nCentroids× reduction in candidate pairs; at 100 TB the
    * block join shuffles on `centroid` instead of broadcasting n².
    */
  def allPairsBlocked(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nCentroids: Int): DataFrame = {
    val assigned = assignToCentroids(emb, idCol, vecCol, nCentroids)
    val a = assigned.select(col(idCol).as("id_a"),
      col(vecCol).as("__vec_a"), col("centroid"))
    val b = assigned.select(col(idCol).as("id_b"),
      col(vecCol).as("__vec_b"), col("centroid"))
    a.join(b, "centroid")
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", sim6(col("__vec_a"), col("__vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** k-nearest-neighbors for each of the `queryIds` rows against the
    * whole table, via a rank window over the pair similarities.
    */
  def knnForIds(emb: DataFrame, idCol: String, vecCol: String,
                maxQueryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) < maxQueryId)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qvec"))
    val cand = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    q.crossJoin(cand)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", sim6(col("__qvec"), col("__cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** IVF assignment step: nearest (rounded L2, centroid-id tiebreak) of
    * the first `nCentroids` vectors (deterministic seed centroids).
    *
    * Argmin shape: (dist, centroid) packed into ONE long — `dist` is
    * already 6-dp so dist×10⁶ is integral; centroid packs into the low
    * 10 bits. `min(packed)` is then a primitive, whole-stage-codegen
    * HashAggregate with a map-side partial: the n×k candidate rows
    * reduce to n *before* the shuffle, with no sort anywhere. (The
    * obvious `min_by(struct, struct)` falls back to SortAggregate —
    * struct buffers aren't hash-aggregable — and the earlier
    * row_number window shuffled and sorted all n×k rows.) Decode is
    * exact: m/10⁶ in IEEE equals round(x,6)'s nearest-double result.
    */
  def assignToCentroids(emb: DataFrame, idCol: String, vecCol: String,
                        nCentroids: Int): DataFrame = {
    require(nCentroids <= 1024, "packed argmin keeps centroid in 10 bits")
    val cents = emb.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("centroid"), col(vecCol).as("__cvec"))
    assignToGivenCentroids(emb, idCol, vecCol, cents)
  }

  /** Packed-argmin assignment against an ARBITRARY centroid table
    * `cents` = (centroid: long in [0, 1024), __cvec: numeric array) —
    * the trained IVF-PQ index assigns against [[kmeansCentroids]]' model
    * here, with the E-step key `lloyd` mirrors. Same plan shape as
    * `assignToCentroids` (broadcast ≤1024-row build side, map-side
    * distance + packed-long HashAggregate argmin); the broadcast is
    * provably bounded by the 10-bit centroid-id pack.
    */
  def assignToGivenCentroids(emb: DataFrame, idCol: String, vecCol: String,
                             cents: DataFrame): DataFrame = {
    val best = emb.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("dist", round(l2Distance(col(vecCol), col("__cvec")), 6))
      .withColumn("__enc",
        round(col("dist") * 1e6).cast("long") * 1024L + col("centroid"))
      .groupBy(col(idCol))
      .agg(min(col("__enc")).as("__enc"))
      .select(col(idCol),
        col("__enc").bitwiseAND(lit(1023L)).as("centroid"),
        (shiftright(col("__enc"), 10).cast("double") / 1e6).as("dist"))
    emb.join(best, idCol)
  }

  /** Occupancy-derived key width — the shared natural-width policy for
    * every fixed-width blocking family (LSH band keys, sign cells,
    * SimHash chunks): the smallest `b` with n / 2^b ≤ targetOccupancy,
    * clamped to [floor, cap]. A width HELD FIXED across a data decade
    * saturates — candidates grow ~n²/2^b once buckets fill (measured
    * three times: EdgeProbe band keys (`artifacts/edge_probe.json`),
    * BlobProbe sign cells (`artifacts/blob_probe.json`), and q48's
    * 64-value SimHash chunks emitting 13% of ALL pairs at sf0.1) — so
    * any operator sizing a key space should derive it from n here
    * rather than hard-code it. Promoted out of `tools/ScaleSmoke`
    * (r10 order sheet #2); the defaults reproduce ScaleSmoke's band
    * policy bit-for-bit (≈500 rows per bucket per band, 4..16 bits).
    *
    * The cap is no longer structural (r12): band keys ride the
    * multi-word signature, so widths past 63/bands bits are legal.
    * WIDTH IS NOT FREE, though — it trades RECALL at the operator's
    * similarity threshold: a sign bit agrees for a θ-apart pair with
    * probability 1 − θ/π, so a b-bit band collides at (1 − θ/π)^b and
    * widening b cuts moderate-similarity recall exponentially while
    * the OR-construction over `bands` claws it back. Measured
    * (EdgeProbe, 2 M replicated vectors, threshold 0.4;
    * `artifacts/edge_probe*.json`): b12 emits
    * 1.68 B candidates, b20 emits 9.8 M — but b20's candidate set is
    * SMALLER than b12's VERIFIED edge set at 300× (0.88 M candidates
    * vs 1.14 M true edges), i.e. wide keys at 3 bands drop real
    * 0.4-similarity edges. Near-EXACT families are immune — a
    * verbatim/identical pair agrees in every bit, so dedup at
    * threshold ≈ 1 (binaryNearDupPairs at 0.999, the planted-twin
    * soaks) keeps 100% of its targets at any width. Policy: raise
    * width freely for high-threshold dedup; for moderate-threshold
    * similarity GRAPHS, raise `bands` together with width (standard
    * (r, b) LSH tuning), or keep the cap.
    */
  def naturalBits(n: Long, targetOccupancy: Double = 500.0,
                  floor: Int = 4, cap: Int = 16): Int = {
    require(targetOccupancy > 0 && floor >= 1 && cap >= floor,
      "occupancy > 0 and 1 <= floor <= cap")
    math.min(cap, math.max(floor,
      (math.log(math.max(n, 1L) / targetOccupancy) / math.log(2))
        .ceil.toInt))
  }

  /** Scale path for the similarity GRAPH (V2→V4 composition): candidate
    * edges from sign-LSH band blocking — the `bits = bands×bitsPerBand`
    * hyperplane signature split into bands, a pair is a candidate when
    * ANY band key matches (LSH OR-construction) — then every candidate
    * verified with the exact 6-dp cosine before it becomes an edge.
    *
    * Plan shape: equi-join on (band, key) — NO cross join anywhere; the
    * band explode is map-side; verification runs before the pair-dedup
    * shuffle (same ordering as Dedup.simhashPairs). Recall semantics:
    * pairs whose signatures disagree in every band are missed, so the
    * result is a deterministic subset of the exact threshold graph —
    * the oracle replays the same blocking, and identical vectors always
    * collide (all-band agreement).
    */
  def lshCandidatePairs(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, bands: Int = 3,
                        bitsPerBand: Int = 4,
                        centerSignature: Boolean = false): DataFrame = {
    // centerSignature: mean-center each vector BEFORE projecting (the
    // verify cosine still reads the raw vectors). On an all-nonnegative
    // population — byte histograms, TF vectors — the plain sign bits
    // collapse: any ±-unbalanced hyperplane projects every vector to
    // the same sign, so the effective key space degenerates to a
    // handful of buckets and the band join goes quadratic (measured on
    // the binarydedup soak: 55k blob histograms → 302 buckets, max
    // occupancy 7,810, 207M candidates). Centering restores mixed
    // signs and occupancy-constant buckets; identical vectors still
    // collide in every band (the transform is deterministic). Mixed-
    // sign embeddings don't need it, and the default keeps the band
    // keys the r1-r8 oracles replay. The centering lives INSIDE
    // the native signature expression — the r9
    // transform-with-nested-mean spelling re-evaluated the mean
    // aggregate per element per bit, interpreted (r10 soak finding).
    //
    // Band keys come from the MULTI-WORD signature (r11 order sheet #1):
    // word b of hyperplaneSignatureWide(bands, bitsPerBand) IS band b's
    // key — bit-identical to the old single-long shift-and-mask slices
    // whenever bands×bitsPerBand ≤ 63 (spec-pinned), so every existing
    // oracle replays unchanged, and the key space now follows the
    // occupancy policy PAST the one-long cap (EdgeProbe measured 11.1×
    // candidates for 3.33× data at the frozen b12, artifacts/edge_probe.json;
    // BlobProbe 1000×/b16 realized 83% of all sign cells,
    // artifacts/blob_probe.json — the old form had no knob left).
    val banded = emb
      .select(col(idCol), col(vecCol),
        posexplode(hyperplaneSignatureWide(col(vecCol), bands, bitsPerBand,
          centerSignature)).as(Seq("band", "key")))
    val a = banded.select(col(idCol).as("id_a"), col(vecCol).as("__vec_a"),
      col("band"), col("key"))
    val b = banded.select(col(idCol).as("id_b"), col(vecCol).as("__vec_b"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", sim6(col("__vec_a"), col("__vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim").distinct()
  }

  /** One Lloyd (k-means) M-step over the IVF assignment: element-wise
    * mean of member vectors per centroid, long form (centroid, pos,
    * avg_v). posexplode is map-side; the mean is a HashAggregate keyed
    * (centroid, pos) with map-side partials, so at 100 TB the shuffle
    * carries d×k partial sums, not vectors. Iterating assign→update is
    * the full distributed k-means; one deterministic step is what the
    * oracle can replay.
    */
  def updateCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int): DataFrame =
    assignToCentroids(emb, idCol, vecCol, nCentroids)
      .select(col("centroid"),
        posexplode(col(vecCol)).as(Seq("pos0", "v")))
      .groupBy(col("centroid"), (col("pos0") + 1).cast("int").as("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("avg_v"))

  /** Full distributed Lloyd's k-means: seed centroids are the k lowest
    * ids (the deterministic seed `assignToCentroids` uses), then
    * `iters` rounds of assign → element-wise mean. Every mean is
    * rounded to 6 dp before it becomes the next round's centroid, so
    * each round's input is exactly representable and the whole fit is
    * replayable cross-engine (the oracle unrolls the same rounds in
    * SQL). Clusters that lose all members simply drop out (both
    * engines drop them the same way). Returns the FINAL model in long
    * form — (centroid, pos, avg_v, n_members) — the shape `q36`/`q75`
    * established for element-wise centroid output.
    *
    * The rounds run in [[lloyd]] (m = 1): one pass over the persisted
    * points per round against a driver-resident k×d model.
    */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                iters: Int): DataFrame =
    kmeansCentroids(emb, idCol, vecCol, k, iters)
      .select(col("centroid"), col("n_members"),
        posexplode(col("__cvec")).as(Seq("pos0", "avg_v")))
      .select(col("centroid"), (col("pos0") + 1).cast("int").as("pos"),
        col("avg_v"), col("n_members"))

  /** [[kmeansFit]]'s model ASSEMBLED — (centroid, __cvec: array<double>,
    * n_members) — the form the trained IVF-PQ path consumes directly
    * (assignment, probe shortlist); kmeansFit explodes it to the long
    * contract shape. The DataFrame is a local relation over the fitted
    * model. The E-step key is `assignToGivenCentroids`' packed argmin:
    * the 6-dp L2 distance in micro-units, centroid-id tiebreak.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = {
    val model = lloyd(emb, idCol, vecCol, 1, k, iters)(d2 =>
      roundHalfUp(roundHalfUp(math.sqrt(d2), 6) * 1e6, 0).toLong)
    emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(
        model.head.map(c => Row(c.code, c.vec.toSeq, c.members)): _*),
      StructType.fromDDL("centroid long, __cvec array<double>, n_members long"))
  }

  /** Spark's `round(x, scale)` on a double — HALF_UP over the shortest
    * decimal form of `x` — for driver-side arithmetic that must agree
    * with the engine's rounding bit for bit.
    */
  private[graft] def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One centroid of a [[lloyd]] model: its code, its position and its
    * members in the last round (0 for a seed).
    */
  private final case class Centroid(code: Long, vec: Array[Double],
                                    members: Long)

  /** Lloyd's algorithm over `m` independent subspaces of ⌊d/m⌋ dims
    * (trailing remainder dims dropped, the [[pqSubvectors]] rule) —
    * the one loop [[kmeansCentroids]] (m = 1) and [[pqCodebookFit]]
    * share. Each round is one Pregelix-style superstep: the model stays
    * on the driver, and a round is one pass over the persisted points.
    *
    *  - The (id, vector) points are persisted once, rows with a null id
    *    or vector skipped; one `collect` of the rows with id < k seeds
    *    every subspace (the first-k rule every IVF/PQ operator shares).
    *  - A round is one `treeAggregate` against the broadcast model: a
    *    point's slice joins the centroid of least `key(d²) * 1024 +
    *    code` (the SQL path's packed argmin; d² is the strict left fold
    *    `VectorFunctions.sqDistance` computes, and a centroid of another
    *    length is skipped, as its SQL distance is null), which sums the
    *    slice and counts it.
    *  - On the driver each mean becomes round(sum / count, 6); codes
    *    with no members drop out.
    *
    * The points are released in `finally`. Centroids come back in code
    * order per subspace.
    */
  private def lloyd(emb: DataFrame, idCol: String, vecCol: String, m: Int,
                    k: Int, iters: Int)(key: Double => Long)
      : Array[Array[Centroid]] = {
    require(m > 0 && k > 0 && k <= 1024,
      "packed argmin keeps the code in 10 bits")
    require(iters >= 1, "at least one Lloyd round")
    val points = emb.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), toDouble(col(vecCol)))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = points.filter(_._1 < k).collect().sortBy(_._1)
      var model = Array.tabulate(m)(s => seed.map { case (id, v) =>
        val len = v.length / m
        Centroid(id, v.slice(s * len, (s + 1) * len), 0L)
      })
      for (_ <- 1 to iters) {
        val bc = points.sparkContext.broadcast(model)
        // per (subspace, centroid): the members' summed slices, then
        // their count in the last slot
        val sums = try points.treeAggregate(
            model.map(_.map(c => new Array[Double](c.vec.length + 1))))(
          (acc, p) => {
            val len = p._2.length / m
            for (s <- 0 until m) {
              val cs = bc.value(s)
              var best = -1
              var bestKey = 0L
              for (i <- cs.indices if cs(i).vec.length == len) {
                var d2 = 0.0
                for (j <- 0 until len) {
                  val t = p._2(s * len + j) - cs(i).vec(j)
                  d2 += t * t
                }
                val packed = key(d2) * 1024L + cs(i).code
                if (best < 0 || packed < bestKey) { best = i; bestKey = packed }
              }
              if (best >= 0) {
                val a = acc(s)(best)
                for (j <- 0 until len) a(j) += p._2(s * len + j)
                a(len) += 1
              }
            }
            acc
          },
          (a, b) => {
            for (s <- a.indices; i <- a(s).indices; j <- a(s)(i).indices)
              a(s)(i)(j) += b(s)(i)(j)
            a
          })
        finally bc.destroy()
        model = Array.tabulate(m)(s => model(s).indices.toArray.collect {
          case i if sums(s)(i).last > 0 =>
            val n = sums(s)(i).last
            Centroid(model(s)(i).code,
              sums(s)(i).init.map(x => roundHalfUp(x / n, 6)), n.toLong)
        })
      }
      model
    } finally points.unpersist(blocking = false)
  }

  /** IVF search: probe only the query vector's centroid block, then
    * brute-force cosine top-k within it. The 100 TB path for V5: the
    * block join shuffles one partition's worth of vectors instead of
    * broadcasting the query against the full table; recall is traded at
    * block boundaries exactly like `allPairsBlocked`.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, nCentroids: Int, k: Int = 10): DataFrame = {
    val assigned = assignToCentroids(emb, idCol, vecCol, nCentroids)
    val q = assigned.filter(col(idCol) === queryId)
      .select(col("centroid").as("__qc"), col(vecCol).as("__query_vec"))
    assigned.join(broadcast(q), col("centroid") === col("__qc"))
      .filter(col(idCol) =!= queryId)
      .withColumn("sim", sim6(col(vecCol), col("__query_vec")))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("centroid"), col("sim"))
  }

  /** Int8 scalar quantization of an embedding column — the standard
    * 4× compression before ANN index build / training export. Per
    * vector: scale = 127 / max|x| (0 for all-zero vectors), each element
    * q = floor(x·scale + 0.5) (explicit half-up — identical IEEE double
    * arithmetic in any engine, no rounding-mode ambiguity). Pure
    * map-side column work.
    *
    * Output: id, `scale` (6 dp), `qvec` as a comma-joined string (the
    * portable form; the array form is one split away).
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    emb
      .select(col(idCol), col(vecCol),
        when(maxAbs === 0.0, lit(0.0)).otherwise(lit(127.0) / maxAbs)
          .as("__scale"))
      .select(
        col(idCol),
        round(col("__scale"), 6).as("scale"),
        concat_ws(",",
          transform(col(vecCol),
            x => floor(x.cast("double") * col("__scale") + 0.5)
              .cast("int").cast("string")))
          .as("qvec"))
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the top-k OTHER vectors whose similarity falls in
    * [lo, hi] — similar enough to be informative, dissimilar enough to
    * be true negatives (above `hi` they are near-duplicates / false
    * negatives). Candidates come from the IVF-blocked pair join (an
    * equi-join on centroid — the SemDeDup trick again), so no cross
    * join; the per-anchor top-k is a group-local window over the band
    * survivors only.
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, lo: Double, hi: Double,
                    k: Int): DataFrame = {
    require(lo <= hi && k > 0, "need lo <= hi and k > 0")
    // cache: both union branches read the banded pairs — uncached, the
    // block join + exact cosine verification would execute twice. The
    // result is lazy, so the caller owns eviction after the query runs
    // (see Dedup's cache-lifecycle note).
    val pairs = allPairsBlocked(emb, idCol, vecCol, threshold = lo, nCentroids)
      .filter(col("sim") <= hi).cache()
    val sym = pairs.select(col("id_a").as("anchor"),
        col("id_b").as("negative"), col("sim"))
      .union(pairs.select(col("id_b").as("anchor"),
        col("id_a").as("negative"), col("sim")))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("sim").desc, col("negative").asc)
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor"), col("rank"), col("negative"), col("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023): assign
    * every embedding to its nearest centroid, then WITHIN each centroid
    * block mark a vector a duplicate when a lower-id vector of the same
    * block has cosine ≥ threshold (keep-lowest-id rule). Output:
    * (id, centroid, n_near, keep).
    *
    * The pair generation is an equi-join on `centroid` — the defining
    * SemDeDup trick: clustering first makes the quadratic step local to
    * blocks of corpus/k size, so no cross join ever forms. Recall
    * matches SemDeDup's published semantics (cross-cluster near-dups
    * are out of scope by design).
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, threshold: Double): DataFrame = {
    val asg = assignToCentroids(emb, idCol, vecCol, nCentroids)
      .select(col(idCol), col("centroid"), col(vecCol))
    val a = asg.select(col(idCol).as("__ida"), col("centroid"),
      col(vecCol).as("__va"))
    val b = asg.select(col(idCol).as("__idb"), col("centroid"),
      col(vecCol).as("__vb"))
    val near = a.join(b, "centroid")
      .filter(col("__idb") < col("__ida"))
      .filter(sim6(col("__va"), col("__vb")) >= threshold)
      .groupBy(col("__ida")).agg(count(lit(1)).as("n_near"))
    asg.select(col(idCol), col("centroid"))
      .join(near, asg(idCol) === near("__ida"), "left")
      .select(col(idCol), col("centroid"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (coalesce(col("n_near"), lit(0L)) === 0).as("keep"))
  }

  /** Per-vector similarity degree: number of other vectors with
    * sim >= threshold (0 for isolated vectors).
    */
  def similarityDegree(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame =
    degreeFromPairs(emb, idCol, allPairs(emb, idCol, vecCol, threshold))

  /** Scale twin of `similarityDegree`: degree over the sign-LSH
    * candidate graph (`lshCandidatePairs` — band equi-join + exact
    * cosine verify) instead of the exact O(n²) cross join. Counts are a
    * deterministic subset of the exact degrees (pairs whose signatures
    * disagree in every band are missed); the oracle replays the same
    * blocking, so the result is exactly reproducible.
    */
  def similarityDegreeLsh(emb: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, bands: Int = 3,
                          bitsPerBand: Int = 4): DataFrame =
    degreeFromPairs(emb, idCol,
      lshCandidatePairs(emb, idCol, vecCol, threshold, bands, bitsPerBand))

  /** Degree table from a canonical (id_a < id_b) pair list: count both
    * endpoints, left-join back so isolated vectors get 0.
    */
  private def degreeFromPairs(emb: DataFrame, idCol: String,
                              pairs: DataFrame): DataFrame = {
    // single-pass endpoint explode — a 2-branch union would read (and
    // re-execute) the often-expensive candidate pipeline twice
    val both = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
    val counts = both.groupBy("id").agg(count(lit(1)).as("degree"))
    emb.select(col(idCol).as("id"))
      .join(counts, Seq("id"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
  }

  /** Product-quantization assignment, long form (id, sub, code, d2m) —
    * shared by `pqCodes` and `pqAdcTopK` (Jégou, Douze & Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    * the codebook-per-subspace decomposition and the asymmetric
    * distance computation both come from there). Each vector splits into `m`
    * equal subvectors (trailing remainder dims are dropped when
    * d % m != 0); the per-subspace codebook is the first `nCodes`
    * vectors' slices (the same deterministic seeding rule as
    * `assignToCentroids`); each (vector, subspace) gets the code
    * minimizing squared L2 to its codebook entry — packed-long argmin
    * again, so the reduction is a primitive map-side-partial
    * HashAggregate. Distances travel as integer MICRO-units
    * (round(d²·10⁶)) from here on: sums of them are exact and
    * order-independent, the PageRank trick applied to quantization.
    *
    * 100 TB shape: the codebook is m×nCodes rows (broadcast); the
    * assignment join is per-subspace against that broadcast — map-side
    * only, n×m×nCodes candidate rows reduced before any shuffle.
    */
  /** Explode each vector into its `m` equal subvectors — the ONE place
    * the PQ slicing rule lives (subDim = ⌊d/m⌋, 1-based slice offsets,
    * trailing remainder dims dropped); encode, codebook, and ADC query
    * sides all share it so they can never desynchronize.
    */
  private def pqSubvectors(df: DataFrame, idCol: String, vecCol: String,
                           m: Int): DataFrame = {
    val subDim = floor(size(col(vecCol)) / m).cast("int")
    df.select(col(idCol),
        explode(array((0 until m).map { s =>
          struct(lit(s).as("sub"),
            slice(col(vecCol), lit(s) * subDim + 1, subDim).as("subvec"))
        }: _*)).as("__sv"))
      .select(col(idCol), col("__sv.sub").as("sub"),
        col("__sv.subvec").as("subvec"))
  }

  /** `cbSource` lets a caller encode a SUBSET of rows against the
    * full-corpus codebook (the first `nCodes` rows of `cbSource`, not
    * of `emb`) — the IVF-PQ index build needs it; `None` keeps the
    * self-seeded behavior every existing PQ operator uses.
    */
  private def pqAssign(emb: DataFrame, idCol: String, vecCol: String,
                       m: Int, nCodes: Int,
                       cbSource: Option[DataFrame] = None): DataFrame = {
    require(m > 0 && nCodes > 0 && nCodes <= 1024,
      "packed argmin keeps the code in 10 bits")
    val cb = pqSubvectors(cbSource.getOrElse(emb).filter(col(idCol) < nCodes),
        idCol, vecCol, m)
      .select(col(idCol).as("code"), col("sub"), col("subvec").as("__cbvec"))
    pqAssignGiven(emb, idCol, vecCol, m, cb)
  }

  /** [[pqAssign]] against an EXPLICIT per-subspace codebook
    * `cb` = (code: long in [0, 1024), sub, __cbvec) — the trained-
    * quantizer path shares the one packed-argmin assignment with the
    * seed-sampled operators so the two can never desynchronize.
    */
  private def pqAssignGiven(emb: DataFrame, idCol: String, vecCol: String,
                            m: Int, cb: DataFrame): DataFrame =
    pqSubvectors(emb, idCol, vecCol, m).join(broadcast(cb), "sub")
      .withColumn("__d2m",
        round(sqDistance(col("subvec"), col("__cbvec")) * 1e6).cast("long"))
      .withColumn("__enc", col("__d2m") * 1024L + col("code"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(col("__enc")).as("__enc"))
      .select(col(idCol), col("sub"),
        col("__enc").bitwiseAND(lit(1023L)).as("code"),
        shiftright(col("__enc"), 10).as("d2m"))

  /** Lloyd-trained per-subspace PQ codebooks — the training the r11
    * encoding-ladder measurement identified as the missing piece
    * (residual encoding showed no gain BECAUSE the codebooks were
    * seed-sampled first-n rows; Jégou et al. train them with k-means
    * per subspace). All m subspaces train in ONE [[lloyd]] loop: seed =
    * the first `nCodes` rows' slices (the deterministic rule every PQ
    * operator shares), then `iters` rounds of packed-argmin assignment
    * (d2m micro-units, code tiebreak — [[pqAssignGiven]]'s key) →
    * per-(sub, code) 6-dp-rounded means. Every mean is exactly
    * representable after rounding, so the whole fit is replayable
    * cross-engine like [[kmeansFit]]; codes that lose all members drop
    * out in both engines. Output (code, sub, __cbvec), a local relation
    * over the fitted model.
    */
  def pqCodebookFit(emb: DataFrame, idCol: String, vecCol: String,
                    m: Int, nCodes: Int, iters: Int): DataFrame = {
    val model = lloyd(emb, idCol, vecCol, m, nCodes, iters)(d2 =>
      roundHalfUp(d2 * 1e6, 0).toLong)
    emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(
        (for (s <- model.indices; c <- model(s)) yield Row(c.code, s, c.vec.toSeq)): _*),
      StructType.fromDDL("code long, sub int, __cbvec array<double>"))
  }

  /** Product-quantization encode: each vector compressed to one packed
    * integer of m × log₂(nCodes) bits (64-dim float → 32 bits at the
    * default m=8, nCodes=16 — a 64× memory cut, the compression an ANN
    * index over 100 TB of embeddings actually ships). Output per vector:
    * `pq_code` (codes packed low-subspace-first) and `distortion`
    * (total squared quantization error, exact integer-micro sum).
    */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, nCodes: Int = 16): DataFrame = {
    val bitsPerCode = 64 - java.lang.Long.numberOfLeadingZeros(nCodes - 1L).toInt
    require(m * bitsPerCode <= 63, "packed code must fit one long")
    pqAssign(emb, idCol, vecCol, m, nCodes)
      .groupBy(col(idCol))
      .agg(
        sum(expr(s"shiftleft(code, cast(sub * $bitsPerCode as int))"))
          .as("pq_code"),
        (sum(col("d2m")).cast("double") / 1e6).as("distortion"))
  }

  /** Coarse semantic dedup by PQ-code equality: two vectors sharing ALL
    * m codes lie in the same cell of the product-quantizer grid — a
    * 64×-compressed proxy for "nearly identical embedding". Keep-lowest-
    * id per cell, report the cell population. This is the cheapest
    * member of the semantic-dedup family: one shuffle on a 4-byte
    * packed code (vs `semanticDedup`'s within-centroid pair join), the
    * right first pass over 100 TB before anything pairwise runs.
    * Granularity is the quantizer's: raise m/nCodes for finer cells.
    */
  def pqDedup(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, nCodes: Int = 16): DataFrame = {
    val codes = pqCodes(emb, idCol, vecCol, m, nCodes)
      .select(col(idCol), col("pq_code"))
    val cells = codes.groupBy(col("pq_code"))
      .agg(min(col(idCol)).as("__keeper"),
        count(lit(1)).as("cell_size"))
    codes.join(cells, "pq_code")
      .select(col(idCol), col("pq_code"), col("cell_size"),
        (col(idCol) === col("__keeper")).as("keep"))
  }

  /** PQ search via asymmetric distance computation (ADC): the query
    * vector stays full-precision; every database vector is just its
    * codes. Approximate distance = Σ_s ‖q_s − codebook(s, code)‖² —
    * one m×nCodes lookup table built from the query (broadcast), then
    * an equi-join on (sub, code) + integer sum per id. NO vector math
    * per candidate — at 100 TB the scan reads 4-byte codes, not
    * 256-byte vectors, and the LUT join is map-side. Top-k by smallest
    * ADC distance (id tiebreak), query excluded.
    */
  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, m: Int = 8, nCodes: Int = 16,
                k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    val q = pqSubvectors(emb.filter(col(idCol) === queryId), idCol, vecCol, m)
      .select(col("sub"), col("subvec").as("__qvec"))
    val cb = pqSubvectors(emb.filter(col(idCol) < nCodes), idCol, vecCol, m)
      .select(col(idCol).as("code"), col("sub"), col("subvec").as("__cbvec"))
    val lut = cb.join(broadcast(q), "sub")
      .select(col("sub"), col("code"),
        round(sqDistance(col("__qvec"), col("__cbvec")) * 1e6).cast("long")
          .as("__lm"))
    pqAssign(emb, idCol, vecCol, m, nCodes)
      .filter(col(idCol) =!= queryId)
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col(idCol))
      .agg((sum(col("__lm")).cast("double") / 1e6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-PQ index build — the composition of the two halves an ANN
    * index over 100 TB of embeddings actually ships (Jégou et al.'s
    * IVFADC): a coarse quantizer (the IVF centroid, `assignToCentroids`'
    * deterministic seed rule) prunes the search to one block, and a
    * product quantizer (m sub-codes over the raw vector — the
    * no-residual IVFADC variant, so codes are exactly the `pqCodes`
    * family's and cross-engine replayable) compresses what the scan
    * reads. Long form (id, centroid, sub, code): at 100 TB this table
    * is written partitioned/bucketed BY `centroid`, so a probe is a
    * partition-pruned scan of 4-byte codes — vectors are never read at
    * query time.
    */
  def ivfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                 nCentroids: Int, m: Int = 8, nCodes: Int = 16): DataFrame =
    assignToCentroids(emb, idCol, vecCol, nCentroids)
      .select(col(idCol), col("centroid"))
      .join(pqAssign(emb, idCol, vecCol, m, nCodes)
        .select(col(idCol), col("sub"), col("code")), Seq(idCol))

  /** Per-query ranked centroid shortlist — the IVF `nprobe` primitive:
    * for every row of `queries` = (query_id, __qv), the `nprobe`
    * nearest of `cents` = (centroid, __cvec) by the 6-dp L2 +
    * centroid-id total order (`assignToCentroids`' argmin rule — rank
    * 1 is exactly the assigned cell, so nprobe=1 reproduces it).
    * Queries are few and the centroid table broadcasts, so this is
    * query-side work: |queries|×nCentroids rows through one window.
    */
  private def probeCentroids(queries: DataFrame, cents: DataFrame,
                             nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__dist").asc, col("centroid").asc)
    queries.crossJoin(broadcast(cents))
      .withColumn("__dist", round(l2Distance(col("__qv"), col("__cvec")), 6))
      .withColumn("cent_rank", row_number().over(w))
      .filter(col("cent_rank") <= nprobe)
      .select(col("query_id"), col("centroid"), col("cent_rank"))
  }

  /** IVF-PQ search: probe the query's `nprobe` nearest centroid blocks,
    * then ADC over the blocks' codes — [[ivfTopK]]'s pruning composed
    * with [[pqAdcTopK]]'s code-only scoring. The serving path touches
    * no vector math per candidate: the query side collapses to
    * `nprobe` broadcast centroid rows + ONE broadcast m×nCodes LUT,
    * and every candidate is scored by an equi-join on (sub, code) + an
    * exact integer-micro sum. Recall trades are the two standard ones
    * stacked: neighbors outside the probed blocks are missed (tune
    * `nprobe` against [[ivfPqRecallLadder]]'s curve), and in-block
    * ranking is approximate at PQ-cell granularity. Top-k by smallest
    * ADC distance, id tiebreak; query excluded. Output
    * (id, centroid, adc_dist).
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, nCentroids: Int, m: Int = 8,
                nCodes: Int = 16, k: Int = 10, nprobe: Int = 1): DataFrame = {
    require(k > 0, "k must be positive")
    require(nprobe >= 1 && nprobe <= nCentroids,
      "nprobe must be in [1, nCentroids]")
    val idx = ivfPqIndex(emb, idCol, vecCol, nCentroids, m, nCodes)
    // the query's nprobe coarse cells — ≤nprobe broadcast rows; rank 1
    // is exactly the assigned cell (same 6-dp L2 + id argmin rule), so
    // nprobe=1 keeps ivfTopK's one-block semantics bit-for-bit
    val qc = probeCentroids(
        emb.filter(col(idCol) === queryId)
          .select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
        emb.filter(col(idCol) < nCentroids)
          .select(col(idCol).as("centroid"), col(vecCol).as("__cvec")),
        nprobe)
      .select(col("centroid").as("__qc"))
    val q = pqSubvectors(emb.filter(col(idCol) === queryId), idCol, vecCol, m)
      .select(col("sub"), col("subvec").as("__qvec"))
    val cb = pqSubvectors(emb.filter(col(idCol) < nCodes), idCol, vecCol, m)
      .select(col(idCol).as("code"), col("sub"), col("subvec").as("__cbvec"))
    val lut = cb.join(broadcast(q), "sub")
      .select(col("sub"), col("code"),
        round(sqDistance(col("__qvec"), col("__cbvec")) * 1e6).cast("long")
          .as("__lm"))
    idx.join(broadcast(qc), col("centroid") === col("__qc"))
      .filter(col(idCol) =!= queryId)
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col(idCol), col("centroid"))
      .agg((sum(col("__lm")).cast("double") / 1e6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("centroid"), col("adc_dist"))
  }

  /** recall@k of the IVF-PQ index against the exact batch top-k — the
    * [[annRecall]] audit for the composed index (BOTH approximations
    * under one measured number: IVF's missed blocks AND PQ's cell-
    * granularity ranking). Queries are excluded from the candidate set
    * exactly as [[batchTopK]] excludes them; queries whose block holds
    * no candidates honestly score 0. Shape: one exact pass, one
    * code-only ADC pass (centroid equi-join prune + (query, sub, code)
    * LUT equi-join + integer sums + per-query window over block
    * survivors), one (query, neighbor) hit join.
    */
  def ivfPqRecall(emb: DataFrame, idCol: String, vecCol: String,
                  queryPred: Column, nCentroids: Int, m: Int = 8,
                  nCodes: Int = 16, k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    val exact = batchTopK(emb, idCol, vecCol, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint() // counts and the hit join both read it
    val idx = ivfPqIndex(emb, idCol, vecCol, nCentroids, m, nCodes)
    // candidates = non-query rows (batchTopK's contract), code-only
    val cand = idx.join(
      broadcast(emb.filter(queryPred).select(col(idCol).as("__qid"))),
      col(idCol) === col("__qid"), "left_anti")
    val qassign = assignToCentroids(emb, idCol, vecCol, nCentroids)
      .filter(queryPred)
      .select(col(idCol).as("query_id"), col("centroid"))
    val cb = pqSubvectors(emb.filter(col(idCol) < nCodes), idCol, vecCol, m)
      .select(col(idCol).as("code"), col("sub"), col("subvec").as("__cbvec"))
    val lut = pqSubvectors(emb.filter(queryPred), idCol, vecCol, m)
      .select(col(idCol).as("query_id"), col("sub"),
        col("subvec").as("__qvec"))
      .join(cb, "sub")
      .select(col("query_id"), col("sub"), col("code"),
        round(sqDistance(col("__qvec"), col("__cbvec")) * 1e6).cast("long")
          .as("__lm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col(idCol).asc)
    val approx = cand.join(broadcast(qassign), Seq("centroid"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__lm")).as("__adc"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("__k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__hits"), lit(0L)).as("n_hits"),
        col("__k").as("k"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") /
          col("__k").cast("double"), 6).as("recall"))
  }

  /** recall-vs-nprobe ladder — the deploy-tuning curve a 100 TB IVF-PQ
    * index ships with: [[ivfPqRecall]]'s audit repeated at each probe
    * width in `nprobes`, ONE row per rung (nprobe, n_queries, n_hits,
    * n_exact, recall_permille — floored integers only, the engine-proof
    * output convention). The operator answers "how many blocks must a
    * probe read to hit the recall target" with measured numbers.
    *
    * Shape: the exact top-k and the scored candidate set are built
    * ONCE (both `localCheckpoint`ed — every rung reads them); the
    * candidate probe set is the MAX rung's (`probeCentroids` at
    * max(nprobes) — nested prefixes: rung p is exactly the cent_rank<=p
    * slice), so each additional rung costs one window + one hit join
    * over block survivors, never another index pass. ADC scoring stays
    * the broadcast-LUT (sub, code) equi-join — no vector math per
    * candidate at any rung.
    */
  def ivfPqRecallLadder(emb: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, nCentroids: Int, m: Int = 8,
                        nCodes: Int = 16, k: Int = 10,
                        nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame =
    ivfPqRecallLadderShared(emb, idCol, vecCol, queryPred, nCentroids, m,
      nCodes, k, nprobes, exactTopK(emb, idCol, vecCol, queryPred, k))

  /** The exact-top-k ground truth every recall ladder scores against —
    * built (and `localCheckpoint`ed) exactly ONCE per ladder *group*:
    * [[ivfPqEncodingLadder]] compares 2–3 encodings of the SAME
    * (emb, queryPred, k), so sharing this pass across its arms removes
    * 1–2 redundant brute-force scans per query (r12 optimization).
    */
  private def exactTopK(emb: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, k: Int): DataFrame =
    batchTopK(emb, idCol, vecCol, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
      // every rung's hit join + the totals read it. cache(), not an
      // eager checkpoint (r13): the checkpoint built the brute-force
      // pass SERIALLY before the ladder's concurrent arms even started;
      // cached, it materializes inside whichever arm touches it first
      // (BlockManager dedups concurrent computation per block) and the
      // arms' model fits overlap it. The (≤ queries×k)-row result also
      // keeps accurate small stats for its hit joins.
      .cache()

  private def ivfPqRecallLadderShared(emb: DataFrame, idCol: String,
                                      vecCol: String, queryPred: Column,
                                      nCentroids: Int, m: Int, nCodes: Int,
                                      k: Int, nprobes: Seq[Int],
                                      exact: DataFrame): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= nCentroids),
      "every nprobe must be in [1, nCentroids]")
    val cents = emb.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("centroid"), col(vecCol).as("__cvec"))
    val cb = pqSubvectors(emb.filter(col(idCol) < nCodes), idCol, vecCol, m)
      .select(col(idCol).as("code"), col("sub"), col("subvec").as("__cbvec"))
    val idx = ivfPqIndex(emb, idCol, vecCol, nCentroids, m, nCodes)
    recallLadderCore(emb, idCol, vecCol, queryPred, cents, cb, idx, m, k,
      nprobes, exact)
  }

  /** The ladder body over an EXPLICIT (coarse centroids, per-subspace
    * codebook, index) triple — shared by the seed-sampled
    * [[ivfPqRecallLadder]] and the trained ladder
    * (`ivfPqRecallLadderTrainedShared`)
    * so the rung semantics (nested-prefix probe sets, one checkpointed
    * ADC pass, integer-permille recall) live exactly once.
    */
  private def recallLadderCore(emb: DataFrame, idCol: String,
                               vecCol: String, queryPred: Column,
                               cents: DataFrame, cb: DataFrame,
                               idx: DataFrame, m: Int, k: Int,
                               nprobes: Seq[Int],
                               exact: DataFrame): DataFrame = {
    require(k > 0, "k must be positive")
    val maxP = nprobes.max
    val cand = idx.join(
      broadcast(emb.filter(queryPred).select(col(idCol).as("__qid"))),
      col(idCol) === col("__qid"), "left_anti")
    val qcent = probeCentroids(
      emb.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      cents, maxP)
    val lut = pqSubvectors(emb.filter(queryPred), idCol, vecCol, m)
      .select(col(idCol).as("query_id"), col("sub"),
        col("subvec").as("__qvec"))
      .join(cb, "sub")
      .select(col("query_id"), col("sub"), col("code"),
        round(sqDistance(col("__qvec"), col("__cbvec")) * 1e6).cast("long")
          .as("__lm"))
    // each candidate id lives in exactly one centroid block, so the
    // (query, id) group carries ONE cent_rank; min() just rides the agg
    val scored = cand.join(broadcast(qcent), Seq("centroid"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__lm")).as("__adc"), min(col("cent_rank")).as("__crank"))
      .localCheckpoint() // one ADC pass, all rungs read it
    rungTable(scored, exact, idCol, k, nprobes)
  }

  /** All `nprobes` rungs of one ladder arm in ONE pass (r12, guide §2):
    * the pre-r12 shape ran a separate window + hit join + total
    * aggregate PER rung — |nprobes| near-identical subtrees over the
    * same checkpointed `scored` table, each its own exchange chain.
    * Because the probe sets are nested prefixes, the rung is just an
    * extra partition key: cross the (≤nCentroids)-row rung list into
    * `scored`, rank per (nprobe, query), count hits per rung. Shuffled
    * bytes are unchanged (|nprobes| × scored either way); the exchange
    * count drops from 3 per rung to 3 total. Rungs with zero approx
    * hits survive via the left join (n_hits = 0, as before).
    */
  private def rungTable(scored: DataFrame, exact: DataFrame, idCol: String,
                        k: Int, nprobes: Seq[Int]): DataFrame = {
    val sess = scored.sparkSession
    import sess.implicits._
    // duplicate nprobe values would duplicate scored rows inside the
    // same (nprobe, query) window partition, keeping duplicate
    // neighbors in the top-k and distorting the hit counts (r12
    // ADVICE) — the rungs of a recall ladder are a set
    require(nprobes.distinct.size == nprobes.size,
      s"nprobes must be distinct, got $nprobes")
    val probeDf = nprobes.map(_.toLong).toDF("nprobe")
    val w = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("__adc").asc, col(idCol).asc)
    val approx = scored.crossJoin(broadcast(probeDf))
      .filter(col("__crank") <= col("nprobe"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("nprobe"), col("query_id"), col(idCol).as("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_hits"))
    val exactTot = exact.agg(count_distinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_exact"))
    probeDf.join(hits, Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(exactTot)) // rung rows × single total row
      .select(col("nprobe"), col("n_queries"), col("n_hits"),
        col("n_exact"), expr("(1000 * n_hits) div n_exact")
          .as("recall_permille"))
  }

  /** [[ivfPqRecallLadder]] over the TRAINED index (the third arm of
    * [[ivfPqEncodingLadder]]): coarse centroids from `iters` Lloyd
    * rounds ([[kmeansCentroids]]), per-subspace codebooks from
    * [[pqCodebookFit]] — the measured answer to "does training the
    * quantizers buy recall at the same code budget" (r11 order sheet
    * #2). Both models are local relations, so the ladder's assignment,
    * probe shortlist and LUT read no materialized table.
    */
  private def ivfPqRecallLadderTrainedShared(emb: DataFrame, idCol: String,
                                             vecCol: String,
                                             queryPred: Column,
                                             nCentroids: Int, m: Int,
                                             nCodes: Int, k: Int,
                                             nprobes: Seq[Int], iters: Int,
                                             exact: DataFrame): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= nCentroids),
      "every nprobe must be in [1, nCentroids]")
    val cents = kmeansCentroids(emb, idCol, vecCol, nCentroids, iters)
      .select(col("centroid"), col("__cvec"))
    val cb = pqCodebookFit(emb, idCol, vecCol, m, nCodes, iters)
    val idx = assignToGivenCentroids(emb, idCol, vecCol, cents)
      .select(col(idCol), col("centroid"))
      .join(pqAssignGiven(emb, idCol, vecCol, m, cb)
        .select(col(idCol), col("sub"), col("code")), Seq(idCol))
    recallLadderCore(emb, idCol, vecCol, queryPred, cents, cb, idx, m, k,
      nprobes, exact)
  }

  /** Per-vector coarse residuals — x − centroid(assign(x)) element-wise
    * in doubles — the quantity residual-encoded IVFADC compresses
    * (Jégou et al.: residual variance is smaller than raw variance, so
    * the same code budget ranks finer). Output (id, centroid, __res:
    * array<double>); the centroid side is the ≤1024-row broadcast.
    */
  private def residualVectors(emb: DataFrame, idCol: String,
                              vecCol: String, nCentroids: Int): DataFrame =
    assignToCentroids(emb, idCol, vecCol, nCentroids)
      .select(col(idCol), col("centroid"), col(vecCol))
      .join(broadcast(emb.filter(col(idCol) < nCentroids)
        .select(col(idCol).as("centroid"), col(vecCol).as("__cv"))),
        Seq("centroid"))
      .select(col(idCol), col("centroid"),
        zip_with(col(vecCol), col("__cv"),
          (x, c) => x.cast("double") - c.cast("double")).as("__res"))

  /** [[ivfPqRecallLadder]] over the RESIDUAL-encoded index (the second
    * arm of [[ivfPqEncodingLadder]]) — the standard IVFADC refinement:
    * PQ codes are assigned over x − assigned-centroid instead of raw x,
    * and the codebook is the first `nCodes` vectors' RESIDUALS (the
    * same deterministic seed rule, shifted to residual space, so the
    * oracle replays it). The index has the raw index's shape and
    * serving plan — 4-byte codes scanned, (sub, code) equi-joins. The
    * one structural difference: ADC lookup tables are per (query,
    * PROBED centroid) — the query's residual w.r.t. EACH probed cell,
    * |queries| × nprobe × m × nCodes broadcast rows — because residual
    * space is relative to the cell. Candidates still join on (centroid,
    * sub, code) against 4-byte codes; no vector math per candidate at
    * any rung (the PlanSpec-pinned serving shape).
    */
  private def ivfPqRecallLadderResidualShared(emb: DataFrame, idCol: String,
                                              vecCol: String,
                                              queryPred: Column,
                                              nCentroids: Int, m: Int,
                                              nCodes: Int, k: Int,
                                              nprobes: Seq[Int],
                                              exact: DataFrame): DataFrame = {
    require(k > 0, "k must be positive")
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= nCentroids),
      "every nprobe must be in [1, nCentroids]")
    val maxP = nprobes.max
    // the residual table feeds the codebook, the index ASSIGNMENT and
    // the index CODES — materialize it once instead of re-deriving the
    // centroid assignment + zip_with subtraction per consumer
    val res = residualVectors(emb, idCol, vecCol, nCentroids)
      .localCheckpoint()
    val idx = res.select(col(idCol), col("centroid"))
      .join(pqAssign(res.select(col(idCol), col("__res")), idCol, "__res",
          m, nCodes,
          cbSource = Some(res.select(col(idCol), col("__res")))),
        Seq(idCol))
    val cand = idx.join(
      broadcast(emb.filter(queryPred).select(col(idCol).as("__qid"))),
      col(idCol) === col("__qid"), "left_anti")
    val cents = emb.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("centroid"), col(vecCol).as("__cvec"))
    val qcent = probeCentroids(
      emb.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      cents, maxP)
    // query residual w.r.t. each PROBED centroid, sliced with the one
    // shared PQ slicing rule (composite key rides as a struct id)
    val qres = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(qcent, Seq("query_id"))
      .join(broadcast(cents), Seq("centroid"))
      .select(struct(col("query_id"), col("centroid"), col("cent_rank"))
          .as("__qk"),
        zip_with(col("__qv"), col("__cvec"),
          (x, c) => x.cast("double") - c.cast("double")).as("__qres"))
    val cbR = pqSubvectors(res.filter(col(idCol) < nCodes)
        .select(col(idCol), col("__res")), idCol, "__res", m)
      .select(col(idCol).as("code"), col("sub"), col("subvec").as("__cbvec"))
    val lutR = pqSubvectors(qres, "__qk", "__qres", m)
      .join(cbR, "sub")
      .select(col("__qk.query_id").as("query_id"),
        col("__qk.centroid").as("centroid"),
        col("__qk.cent_rank").as("cent_rank"), col("sub"), col("code"),
        round(sqDistance(col("subvec"), col("__cbvec")) * 1e6).cast("long")
          .as("__lm"))
    // each candidate's cell is unique, so joining the per-cell LUT on
    // (centroid, sub, code) scores it against exactly the probed cells
    // whose shortlist contains its cell; ONE cent_rank per (query, id)
    val scored = cand.join(broadcast(lutR), Seq("centroid", "sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__lm")).as("__adc"), min(col("cent_rank")).as("__crank"))
      .localCheckpoint() // one ADC pass, all rungs read it
    rungTable(scored, exact, idCol, k, nprobes)
  }

  /** Raw vs residual encoding at the same (m, nCodes, nprobe) budget —
    * the IVFADC design decision as ONE measured table: both ladders,
    * tagged by `encoding`. A deployment reads the cheapest (encoding,
    * nprobe) row that clears its recall target. The literature's
    * residual advantage (smaller variance per quantized unit) assumes
    * a TRAINED product quantizer over clustered data; with this
    * engine's deterministic seed-sample codebooks on the synthetic
    * fixture the table reads raw ≥ residual (r11, sf0.1, 256 codes /
    * 32 cells / k=10: raw 264‰ vs residual 228‰ at nprobe=1, 276 vs
    * 270 at nprobe=8) — which is exactly the kind of answer the
    * ladder exists to give before a 100 TB index commits to an
    * encoding. Note the first nCentroids rows' residuals are zero
    * (they ARE the seed centroids), so the residual codebook's
    * effective size is nCodes − nCentroids when they overlap; an
    * offset seed was measured within noise of this (230‰/282‰).
    *
    * `includeTrained = true` adds the loop-closing third row the r11
    * measurement called for: 2-round-Lloyd coarse centroids
    * ([[kmeansCentroids]]) + per-subspace trained codebooks
    * ([[pqCodebookFit]]) at the same code budget. MEASURED (r12, same
    * fixture and budget, `artifacts/ladder_probe_sf01_r12.json`): trained wins
    * every rung — 314/330/346/380‰ at nprobe 1/2/4/8 vs raw's
    * 264/282/290/276 — and is the only encoding whose recall rises
    * MONOTONICALLY with nprobe (raw and residual both plateau or dip:
    * with seed-sampled cells, extra probed blocks add badly-quantized
    * candidates that displace true hits). The r11 hypothesis is
    * confirmed: the residual no-gain was a codebook-training artifact,
    * and two Lloyd rounds buy +19%…+38% relative recall before any
    * width/probe budget change.
    */
  def ivfPqEncodingLadder(emb: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, nCentroids: Int, m: Int = 8,
                          nCodes: Int = 16, k: Int = 10,
                          nprobes: Seq[Int] = Seq(1, 2, 4),
                          includeTrained: Boolean = false,
                          trainIters: Int = 2): DataFrame = {
    // every arm scores against the SAME exact ground truth — build the
    // brute-force pass once and share it (r12: was recomputed per arm,
    // 2–3 identical batchTopK scans per ladder query)
    val exact = exactTopK(emb, idCol, vecCol, queryPred, k)
    // each arm's construction materializes its own barrier chain
    // (scored-candidate checkpoint; residual table; Lloyd rounds)
    // and the chains share NO state — submit them concurrently so the
    // ladder's wall clock is the slowest arm, not the sum of arms
    // (r12, guide §2: the serialized chains left the cluster idle
    // between barriers; results are a deterministic fixed-order union
    // either way)
    val arms = Seq(
      "raw" -> (() => ivfPqRecallLadderShared(emb, idCol, vecCol,
        queryPred, nCentroids, m, nCodes, k, nprobes, exact)),
      "residual" -> (() => ivfPqRecallLadderResidualShared(emb, idCol,
        vecCol, queryPred, nCentroids, m, nCodes, k, nprobes, exact))) ++
      // third encoding (r11 order sheet #2): Lloyd-TRAINED coarse
      // centroids + per-subspace codebooks at the same code budget —
      // the row the r11 measurement said was needed before
      // residual-vs-raw could be read as more than a seed artifact
      (if (!includeTrained) Nil
       else Seq("trained" -> (() =>
         ivfPqRecallLadderTrainedShared(emb, idCol, vecCol, queryPred,
           nCentroids, m, nCodes, k, nprobes, trainIters, exact))))
    concurrently(emb.sparkSession, arms.map(_._2))
      .zip(arms.map(_._1))
      .map { case (arm, tag) =>
        arm.select(lit(tag).as("encoding"), col("nprobe"),
          col("n_queries"), col("n_hits"), col("n_exact"),
          col("recall_permille"))
      }
      .reduce(_ unionAll _)
  }

  /** Build independent DataFrame chains on concurrent threads so their
    * plan-time barrier jobs (localCheckpoints, Lloyd rounds) overlap
    * instead of serializing — the standard concurrent-job-submission
    * idiom for independent DAGs sharing one session. Purely a
    * scheduling change: each thunk is self-contained, results come
    * back in input order, and every job still runs to completion
    * before this returns (so plan build stays deterministic).
    *
    * If an arm throws, the jobs of the other arms are cancelled (every
    * arm tags its jobs with one tag unique to this call), every arm is
    * waited for, and the first error is rethrown: no arm outlives the
    * call to run jobs beside the caller's next work.
    */
  private[graft] def concurrently(sess: org.apache.spark.sql.SparkSession,
                                  thunks: Seq[() => DataFrame]): Seq[DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import scala.util.{Failure, Success, Try}
    implicit val ec: ExecutionContext = ExecutionContext.global
    // job group / description / pool are THREAD-LOCAL: global-pool
    // worker threads only inherit them at thread CREATION and keep
    // them forever, so jobs submitted here could run under a stale
    // group (cancelJobGroup and listener attribution then miss them —
    // r12 ADVICE). Capture the caller's values and pin them (and the
    // active session, for SQLConf lookups) inside each Future; clear
    // the session and the tag after the thunk so a reused pool thread
    // doesn't carry them into unrelated work.
    val sc = sess.sparkContext
    val props = (graft.SparkWork.JobGroupProps :+ "spark.scheduler.pool")
      .map(k => k -> sc.getLocalProperty(k))
    val tag = s"graft-concurrently-${java.util.UUID.randomUUID()}"
    val fs = thunks.map { t =>
      Future {
        try {
          org.apache.spark.sql.SparkSession.setActiveSession(sess)
          props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          sc.addJobTag(tag)
          t()
        } finally {
          sc.removeJobTag(tag)
          org.apache.spark.sql.SparkSession.clearActiveSession()
        }
      }
    }
    // fail fast on the first errored arm (awaiting arms in input order
    // would let later arms run on before the error is seen)
    Try(Await.result(Future.sequence(fs), Duration.Inf)) match {
      case Success(dfs) => dfs
      case Failure(e) =>
        // cancel again every 50 ms until every arm has ended: a job an
        // arm submits after one cancel is caught by the next
        val ended = Future.sequence(fs.map(_.transform(Success(_))))
        while (!ended.isCompleted) {
          sc.cancelJobsWithTag(tag, "a sibling arm of concurrently failed")
          Try(Await.ready(ended, 50.millis))
        }
        throw e
    }
  }

  /** Batch IVF-PQ serving — [[ivfPqTopK]] for a query SET (the shape a
    * deployed 100 TB index actually runs: one scored-candidate pass for
    * the whole batch, not a plan per query). Candidates are pruned to
    * each query's `nprobe` nearest cells (broadcast shortlist), scored
    * by the broadcast LUT (sub, code) equi-join + integer-micro sums —
    * 4-byte codes only, no vector math per candidate — and ranked per
    * query. Output (query_id, neighbor_id, adc_dist), top-k by smallest
    * ADC distance, neighbor-id tiebreak; queries excluded as candidates.
    */
  def ivfPqBatchTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, nCentroids: Int, m: Int = 8,
                     nCodes: Int = 16, k: Int = 10,
                     nprobe: Int = 1): DataFrame =
    ivfPqBatchTopKIndexed(
      ivfPqIndex(emb, idCol, vecCol, nCentroids, m, nCodes),
      emb, idCol, vecCol, queryPred, nCentroids, m, nCodes, k, nprobe)

  /** [[ivfPqBatchTopK]] over a PREBUILT index `idx` = (id, centroid,
    * sub, code) — the deployed serving path (r11 order sheet #3): at
    * 100 TB the index is written ONCE, partitioned/bucketed by
    * `centroid`, and a probe reads 4-byte codes from the shortlisted
    * cells only (the broadcast centroid join triggers dynamic partition
    * pruning on a centroid-partitioned layout), never touching vectors
    * or paying the build again. The query side still reads `emb` for
    * the query batch, the ≤1024-row centroid table, and the m×nCodes
    * codebook — all broadcast-sized.
    */
  def ivfPqBatchTopKIndexed(idx: DataFrame, emb: DataFrame, idCol: String,
                            vecCol: String, queryPred: Column,
                            nCentroids: Int, m: Int = 8, nCodes: Int = 16,
                            k: Int = 10, nprobe: Int = 1): DataFrame = {
    require(k > 0, "k must be positive")
    require(nprobe >= 1 && nprobe <= nCentroids,
      "nprobe must be in [1, nCentroids]")
    val qcent = probeCentroids(
      emb.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      emb.filter(col(idCol) < nCentroids)
        .select(col(idCol).as("centroid"), col(vecCol).as("__cvec")),
      nprobe)
    val cb = pqSubvectors(emb.filter(col(idCol) < nCodes), idCol, vecCol, m)
      .select(col(idCol).as("code"), col("sub"), col("subvec").as("__cbvec"))
    val lut = pqSubvectors(emb.filter(queryPred), idCol, vecCol, m)
      .select(col(idCol).as("query_id"), col("sub"),
        col("subvec").as("__qvec"))
      .join(cb, "sub")
      .select(col("query_id"), col("sub"), col("code"),
        round(sqDistance(col("__qvec"), col("__cbvec")) * 1e6).cast("long")
          .as("__lm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col(idCol).asc)
    // centroid prune FIRST, query-exclusion after (the joins filter on
    // disjoint keys, so order commutes on results — gate-verified):
    // the broadcast centroid join is on the index's PARTITION column,
    // so a centroid-partitioned layout dynamic-partition-prunes the
    // scan to the probed cells' files BEFORE any row is read; with the
    // anti-join first (the r11 shape), the full index scanned ahead of
    // the prune — n rows instead of n·nprobe/nCells at 100 TB
    idx.join(broadcast(qcent.select(col("query_id"), col("centroid"))),
        Seq("centroid"))
      .join(broadcast(emb.filter(queryPred).select(col(idCol).as("__qid"))),
        col(idCol) === col("__qid"), "left_anti")
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__lm")).as("__adc"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (col("__adc").cast("double") / 1e6).as("adc_dist"))
  }

  /** Scale twin of `knnForIds` (exact brute-force kNN): candidates come
    * from the IVF centroid block — an equi-join on `centroid`, the same
    * shape as `hardNegatives` — and the per-query top-k window runs
    * over block survivors only (rows per window ≈ n/nCentroids, not n).
    * Recall trade: neighbors in other blocks are missed, and a vector
    * alone in its block returns no rows — the standard IVF nprobe=1
    * semantics, replayed exactly by the oracle.
    */
  def blockedKnn(emb: DataFrame, idCol: String, vecCol: String,
                 nCentroids: Int, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val assigned = assignToCentroids(emb, idCol, vecCol, nCentroids)
    val q = assigned.select(col(idCol).as("query_id"), col("centroid"),
      col(vecCol).as("__qvec"))
    val c = assigned.select(col(idCol).as("neighbor_id"), col("centroid"),
      col(vecCol).as("__cvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    q.join(c, "centroid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", sim6(col("__qvec"), col("__cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Batch ANN serving: exact top-k neighbors for EVERY query in a
    * (small) query batch against the corpus — the nightly re-ranking /
    * eval-retrieval shape. The batch broadcasts (one bounded
    * BNLJ build side — the POINT is that queries are few and the
    * corpus is scanned once for all of them), per-query top-k is one
    * window over the per-query candidates.
    */
  def batchTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol).asc)
    emb.filter(!queryPred)
      .crossJoin(broadcast(q))
      .withColumn("sim", sim6(col(vecCol), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("rank"), col("sim"))
  }

  /** ANN quality evaluation: recall@k of the IVF index against the
    * exact batch top-k — the "measure, don't guess" gate every ANN
    * deployment needs before trading exactness for speed. One exact
    * pass ([[batchTopK]]), one IVF pass (same-centroid candidates),
    * one (query, neighbor) equi-join; queries with empty IVF blocks
    * honestly score 0.
    */
  def annRecall(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, nCentroids: Int, k: Int): DataFrame = {
    val exact = batchTopK(emb, idCol, vecCol, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint() // counts and the hit join both read it
    val assigned = assignToCentroids(emb, idCol, vecCol, nCentroids)
    val q = assigned.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        col("centroid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol).asc)
    val approx = assigned.filter(!queryPred)
      .join(broadcast(q), Seq("centroid"))
      .withColumn("sim", sim6(col(vecCol), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("__k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__hits"), lit(0L)).as("n_hits"),
        col("__k").as("k"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") /
          col("__k").cast("double"), 6).as("recall"))
  }

  /** Embedding DRIFT between two corpus slices — the model-ops monitor
    * (did a re-embed/backfill shift the space?): per-dimension means
    * in exact micro-quantized integers (truncating div — both engines
    * truncate toward zero), then ONE summary row: cosine between the
    * two mean vectors + L∞/L1 of their difference. The per-dimension
    * aggregate is (dim)-keyed — constant-size output; the input scan
    * is one pass.
    */
  def embeddingDrift(emb: DataFrame, idCol: String, vecCol: String,
                     slicePred: Column): DataFrame = {
    val dims = emb.select(slicePred.as("__a"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .withColumn("__xm",
        round(col("__x").cast("double") * 1e6).cast("long"))
      .groupBy(col("__pos"))
      .agg(sum(when(col("__a"), col("__xm"))).as("__sa"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("__na"),
        sum(when(!col("__a"), col("__xm"))).as("__sb"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__nb"))
      .select(col("__pos"), expr("__sa div __na").as("__ma"),
        expr("__sb div __nb").as("__mb"))
    dims.agg(
        sum(col("__ma").cast("decimal(38,0)") * col("__mb")).as("__dot"),
        sum(col("__ma").cast("decimal(38,0)") * col("__ma")).as("__naa"),
        sum(col("__mb").cast("decimal(38,0)") * col("__mb")).as("__nbb"),
        max(abs(col("__ma") - col("__mb"))).as("max_abs_diff_micro"),
        sum(abs(col("__ma") - col("__mb"))).as("l1_diff_micro"))
      .select(
        round(col("__dot").cast("double") /
          (sqrt(col("__naa").cast("double")) *
            sqrt(col("__nbb").cast("double"))), 6).as("mean_cosine"),
        col("max_abs_diff_micro"), col("l1_diff_micro"))
  }

  /** Embedding-health audit: per-dimension count, exact micro-quantized
    * sum, floored variance (micro² units) and min/max — dead dimensions
    * (variance 0), scale drift and clipped values surface here before
    * they poison similarity search or k-means. Elements quantize FIRST
    * (the [[embeddingDrift]] spelling), then aggregate as exact
    * integers, so every output is partition-order-independent; the
    * variance numerator n·Σq² − (Σq)² is nonnegative, so floored
    * division is engine-identical (no signed-division edge). One
    * posexplode scan + one d-key hash aggregate map-side partials
    * absorb entirely — d rows out, one tiny shuffle, linear in corpus
    * size at any scale.
    */
  def dimVarianceProfile(emb: DataFrame, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("__pos").cast("long").as("dim"),
        round(col("__x").cast("double") * 1e6).cast("long").as("__q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("__q")).as("sum_micro"),
        sum(col("__q").cast("decimal(38,0)") * col("__q")).as("__ss"),
        min(col("__q")).as("min_micro"),
        max(col("__q")).as("max_micro"))
      .select(col("dim"), col("n_vecs"), col("sum_micro"),
        expr("""CAST((CAST(n_vecs AS DECIMAL(38,0)) * __ss -
               |CAST(sum_micro AS DECIMAL(38,0)) * sum_micro)
               |div (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("var_microsq"),
        col("min_micro"), col("max_micro"))

  /** kNN-distance outlier scores: each vector's MEAN cosine similarity
    * to its IVF-blocked k nearest neighbors, ranked ascending — the
    * embedding-space anomaly detector (mislabeled, corrupted, or
    * out-of-distribution points sit far from everything, so their kNN
    * mean similarity is low). Vectors alone in their block have no
    * kNN rows and drop out — at production k/centroid ratios every
    * vector has neighbors.
    *
    * Exactness: neighbor sims are the 6-dp `blockedKnn` values; the
    * mean is an exact integer-micro sum with ONE IEEE division at the
    * end. TakeOrderedAndProject serves the bottom-k.
    */
  def knnOutliers(emb: DataFrame, idCol: String, vecCol: String,
                  nCentroids: Int, k: Int, bottomK: Int): DataFrame = {
    require(bottomK > 0, "bottomK must be positive")
    blockedKnn(emb, idCol, vecCol, nCentroids, k)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(round(col("sim") * 1e6).cast("long")).as("sum_sim_micro"))
      .withColumn("mean_sim",
        round(col("sum_sim_micro").cast("double") /
          col("n_neighbors").cast("double") / lit(1e6), 6))
      .orderBy(col("mean_sim").asc, col("query_id").asc)
      .limit(bottomK)
  }

  /** Reciprocal (mutual) kNN pairs: (a, b) kept iff b is in a's top-k
    * AND a is in b's top-k — the high-precision dedup/link filter (a
    * hub vector appears in thousands of kNN lists, but its OWN list
    * holds only its true neighborhood; mutuality strips those
    * asymmetric hub edges, the k-reciprocal re-ranking idea).
    *
    * Built on `blockedKnn` (IVF-blocked candidates — the 100 TB kNN
    * path): the kNN edge list materializes ONCE (localCheckpoint — the
    * forward and reverse sides both read it), the mutuality test is one
    * self equi-join on the canonical (id_a, id_b) pair key. `sim` is
    * the symmetric 6-dp cosine, reported from the forward edge.
    */
  /** kNN label-consistency score — the confident-learning-style
    * mislabeled-sample detector for curated training sets: for every
    * vector, the share of its k nearest neighbors (IVF-blocked, the
    * 100 TB kNN path) that carry the SAME label. A low score on an
    * otherwise-dense neighborhood is the classic annotation-error
    * signal; `agreement` is one IEEE division of exact counts,
    * rounded 6 dp.
    *
    * Shape: `blockedKnn` + one label equi-join on the neighbor id +
    * one per-query aggregate — nothing beyond existing join classes.
    * Vectors whose block holds no other member emit no row (no
    * neighbors → no evidence either way).
    */
  def labelConsistency(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, nCentroids: Int,
                       k: Int): DataFrame = {
    val knn = blockedKnn(emb, idCol, vecCol, nCentroids, k)
    val labels = emb.select(col(idCol).as("__nid"), col(labelCol).as("__nlbl"))
    val own = emb.select(col(idCol).as("query_id"), col(labelCol).as("label"))
    knn.join(labels, knn("neighbor_id") === col("__nid"))
      .join(own, "query_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nlbl") === col("label"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("agreement",
        round(col("n_same").cast("double") /
          col("n_neighbors").cast("double"), 6))
  }

  def mutualKnn(emb: DataFrame, idCol: String, vecCol: String,
                nCentroids: Int, k: Int): DataFrame = {
    val knn = blockedKnn(emb, idCol, vecCol, nCentroids, k)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .localCheckpoint()
    val fwd = knn.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("sim"))
    val rev = knn.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("id_a"), col("query_id").as("id_b"))
    fwd.join(rev, Seq("id_a", "id_b"))
      .select("id_a", "id_b", "sim")
  }
}
