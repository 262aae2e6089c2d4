package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType|DoubleType)` columns, built
  * entirely from codegen'd higher-order functions (`zip_with`,
  * `aggregate`, `transform`) — no UDFs, so every expression stays inside
  * whole-stage codegen and survives a 1000-executor scale-up unchanged.
  *
  * Semantics mirror the reference's cosine scalar
  * (reference: src/embedding/Clustering.cpp:7-27): dimension mismatch or a
  * zero-norm side yields 0.0 rather than null/NaN.
  *
  * All arithmetic is done in Double regardless of input element type, with
  * a strict left-fold (`aggregate`), so results are deterministic and
  * reproducible across engines.
  */
object VectorFunctions {

  /** Cast an array column to array<double> element-wise. */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Left-fold sum of an array<double>. */
  private def fsum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two numeric array columns (Double accumulation). */
  def dot(a: Column, b: Column): Column =
    fsum(zip_with(toDouble(a), toDouble(b), (x, y) => x * y))

  /** Squared L2 norm. */
  def normSq(a: Column): Column = {
    val d = toDouble(a)
    fsum(zip_with(d, d, (x, y) => x * y))
  }

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity with the reference's guard semantics:
    * 0.0 on dimension mismatch or when either vector has zero norm.
    * (reference: src/embedding/Clustering.cpp:7-27)
    */
  def cosine(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    when(size(a) =!= size(b) || na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(dot(a, b) / (na * nb))
  }

  /** Euclidean (L2) distance; 0-guard-free — used by IVF assignment. */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(fsum(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y))))

  /** Squared L2 distance (no sqrt) — the additive form product
    * quantization needs: per-subspace squared distances sum to the
    * full-vector squared distance, so ADC lookup tables stay exact.
    */
  def sqDistance(a: Column, b: Column): Column =
    fsum(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)))

  /** Deterministic pseudo-random sign for hyperplane j, dimension i
    * (both 0-based): a middle bit of an integer mix — portable integer
    * arithmetic, identical in the DuckDB oracle.
    */
  private def hpSign(i: Column, j: Int): Column = {
    val mixed = (i.cast("long") + 1L) * lit((j + 7).toLong) * lit(2654435761L)
    when(pmod(floor(mixed / 1024).cast("long"), lit(2L)) === 1L, lit(1.0))
      .otherwise(lit(-1.0))
  }

  /** Random-hyperplane (sign) LSH signature: bit j = [Σ_i sign_ij·v_i > 0].
    * Cosine-similar vectors collide with probability 1 − θ/π per bit;
    * bucketing on the signature is the LSH scale path for similarity
    * search (SimHash-for-embeddings). Strict left-fold accumulation —
    * engine-portable. `center = true` projects the mean-centered
    * elements instead (the all-nonnegative-population fix — see
    * `SimilarityOps.lshCandidatePairs`); the mean is the left-fold
    * double sum / size, and identical vectors still share every band.
    * Built as the native codegen expression `Graft.hyperplaneSig`.
    */
  def hyperplaneSignature(v: Column, bits: Int,
                          center: Boolean = false): Column =
    graft.Graft.hyperplaneSig(v, bits, center)

  /** The higher-order-function spelling of [[hyperplaneSignature]]
    * (same sign mix, same strict left-fold order), kept as the test
    * reference the native expression must match bit for bit. It is
    * CodegenFallback and re-walks the vector once per bit, so
    * production code does not call it.
    */
  def hyperplaneSignatureHof(v: Column, bits: Int,
                             center: Boolean = false): Column = {
    val input =
      if (!center) v
      else {
        val mean = aggregate(v, lit(0.0d),
          (a, x) => a + x.cast("double")) / size(v)
        transform(v, x => x.cast("double") - mean)
      }
    val d = toDouble(input)
    (0 until bits).map { j =>
      val proj = aggregate(
        zip_with(d, transform(d, (_, i) => hpSign(i, j)), (x, s) => x * s),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** MULTI-WORD hyperplane signature: `words` longs of `bitsPerWord`
    * sign bits each (`array<long>`, word 0 first) — the vector-side
    * sketch that keeps following the occupancy policy past the one-long
    * cap (the saturation `SimilarityOps.naturalBits`' scaladoc records,
    * measured on the vector side by EdgeProbe/BlobProbe,
    * `artifacts/edge_probe.json` and `artifacts/blob_probe.json`). Bit j of
    * word w uses the SAME sign mix as [[hyperplaneSignature]] at global
    * bit index w·bitsPerWord + j, so a wide signature whose total width
    * fits one long is exactly the single-long signature cut at word
    * boundaries — band keys routed through word extraction are
    * byte-identical to the old shift-and-mask slices (spec-pinned).
    * Identical vectors share every word; `center` behaves exactly as in
    * the single-long form. Built as the native codegen expression
    * `Graft.hyperplaneSigWide`.
    */
  def hyperplaneSignatureWide(v: Column, words: Int, bitsPerWord: Int,
                              center: Boolean = false): Column =
    graft.Graft.hyperplaneSigWide(v, words, bitsPerWord, center)

  /** The higher-order-function spelling of [[hyperplaneSignatureWide]],
    * kept as its bit-for-bit test reference; production code does not
    * call it.
    */
  def hyperplaneSignatureWideHof(v: Column, words: Int, bitsPerWord: Int,
                                 center: Boolean = false): Column = {
    val input =
      if (!center) v
      else {
        val mean = aggregate(v, lit(0.0d),
          (a, x) => a + x.cast("double")) / size(v)
        transform(v, x => x.cast("double") - mean)
      }
    val d = toDouble(input)
    array((0 until words).map { w =>
      (0 until bitsPerWord).map { j =>
        val g = w * bitsPerWord + j
        val proj = aggregate(
          zip_with(d, transform(d, (_, i) => hpSign(i, g)), (x, s) => x * s),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }
}
