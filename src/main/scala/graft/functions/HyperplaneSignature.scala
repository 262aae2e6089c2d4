package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the random-hyperplane (sign) LSH
  * signature over an `array<float|double>` column: `words` longs of
  * `bitsPerWord` sign bits each, `array<long>` output, word 0 first.
  * It is the vector-side twin of `Dedup.simhashTableWide`, lifting the
  * one-long band-key cap the engine has measured saturating four times
  * (r11 verdict: EdgeProbe at fixed b12 grew candidates 11.1× for 3.33×
  * data, `artifacts/edge_probe.json`; BlobProbe 1000×/b16 realized 83%
  * of the 3·2¹⁶ sign cells, `artifacts/blob_probe.json`). The
  * single-long signature (`VectorFunctions.hyperplaneSignature`) is
  * word 0 of the one-word form, so one kernel serves both.
  *
  * Why native and not the HOF spelling
  * (`VectorFunctions.hyperplaneSignatureWideHof`, the test reference):
  * that builds one zip_with/transform/aggregate tree per bit, and
  * Catalyst HOFs are CodegenFallback, so every band-key computation ran
  * interpreted, re-walking the vector once per bit (48× at the soak's
  * b16); a centered spelling that nests the mean aggregate inside the
  * transform lambda re-evaluates it per ELEMENT (r10 finding: the
  * binarydedup soak's signature stage alone consumed CPU-hours at
  * 300×). Here ONE loop over the vector accumulates every bit's
  * projection, and the generated code calls that loop
  * ([[Hyperplane.signature]]) without leaving whole-stage codegen. It
  * is bit-identical to the HOF form: same Long-wrapping sign mix, same
  * IEEE double division by 1024, same strict left-fold accumulation in
  * index order per bit, same `proj > 0` test. Bit j of word w projects
  * at GLOBAL bit index w·bitsPerWord + j, so a signature at (words,
  * bitsPerWord) is exactly the one-word signature of words×bitsPerWord
  * bits cut at word boundaries whenever that fits one long
  * (PipelineSpec pins the slice equality).
  *
  * `center = true` first computes the vector's mean (left-fold sum /
  * size, both in doubles) and projects the mean-centered elements —
  * `SimilarityOps.lshCandidatePairs`' opt-in for all-nonnegative
  * populations (byte histograms).
  *
  * Null ELEMENTS (Parquet arrays usually carry containsNull=true): the
  * HOF twin's per-bit `aggregate` folds a null element into a null
  * projection, so every bit's `proj > 0` fails and every word is 0L —
  * centered or not (the mean nulls too). The kernel returns the same
  * all-zero words the moment it sees a null slot, instead of reading it
  * as 0.0 (r10 ADVICE: that gave null-containing vectors band keys
  * different from the HOF reference's).
  *
  * Width bound: the sign mix (i+1)·(g+7)·2654435761 must stay exactly
  * representable in an IEEE double (< 2⁵³) for the DuckDB oracle's
  * exact integer `//` to agree with the engines' double division —
  * dim ≤ 1024 × global bit ≤ 3968 (64 words of 62 bits, or one word of
  * up to 63) keeps the product ≤ 1.1e16/1024 < 2⁵³ with 100× headroom
  * at the fixture's dim 64.
  */
case class HyperplaneSignatureWideExpr(child: Expression, words: Int,
                                       bitsPerWord: Int, center: Boolean)
    extends UnaryExpression {

  require(words >= 1 && words <= 64 && bitsPerWord >= 1 &&
    bitsPerWord <= 63 && words * bitsPerWord <= 64 * 62,
    "hyperplane_sig_wide: words in [1,64], bitsPerWord in [1,63], " +
      "words × bitsPerWord ≤ 3968")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig_wide expects array<float|double>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "hyperplane_sig_wide"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    Hyperplane.signature(input.asInstanceOf[ArrayData], isFloat, words,
      bitsPerWord, center)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.Hyperplane.signature(" +
      s"$v, $isFloat, $words, $bitsPerWord, $center)")

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneSignatureWideExpr = copy(child = newChild)
}

/** Static implementation (top-level object ⇒ static forwarder class,
  * callable from generated Java).
  */
object Hyperplane {

  def signature(v: ArrayData, isFloat: Boolean, words: Int,
                bitsPerWord: Int, center: Boolean): ArrayData = {
    val d = v.numElements()
    val out = new Array[Long](words)
    var n = 0
    while (n < d) {
      if (v.isNullAt(n)) return new GenericArrayData(out)
      n += 1
    }
    var mu = 0.0
    if (center && d > 0) {
      var s = 0.0; var i = 0
      while (i < d) { s += elem(v, isFloat, i); i += 1 }
      mu = s / d
    }
    val bits = words * bitsPerWord
    val projs = new Array[Double](bits)
    var i = 0
    while (i < d) {
      val x = elem(v, isFloat, i) - mu
      var g = 0
      while (g < bits) {
        // Long-wrapping mix, IEEE double division, floor-to-long, pmod —
        // exactly VectorFunctions.hpSign's column arithmetic
        val mixed = (i + 1L) * (g + 7L) * 2654435761L
        val q = java.lang.Math.floor(mixed.toDouble / 1024.0).toLong
        val r = q % 2L
        if ((if (r < 0L) r + 2L else r) == 1L) projs(g) += x
        else projs(g) += -x
        g += 1
      }
      i += 1
    }
    var w = 0
    while (w < words) {
      var sig = 0L
      var j = 0
      while (j < bitsPerWord) {
        if (projs(w * bitsPerWord + j) > 0.0) sig |= (1L << j)
        j += 1
      }
      out(w) = sig
      w += 1
    }
    new GenericArrayData(out)
  }

  private def elem(v: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
}
