package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the random-hyperplane (sign) LSH
  * signature over an `array<float|double>` column, with whole-stage
  * codegen: ONE fused loop over the vector accumulates every bit's
  * projection — no per-bit intermediate arrays, no interpreted
  * higher-order functions.
  *
  * The HOF formulation (`VectorFunctions.hyperplaneSignatureHof`, the
  * test reference) builds `bits` separate zip_with/transform/aggregate
  * trees; Catalyst HOFs are CodegenFallback, so every band-key
  * computation ran interpreted, re-walking the vector once per bit (48×
  * at the soak's b16), and the r9 `centerSignature` option multiplied
  * that again by nesting the mean aggregate inside the transform lambda
  * — re-evaluated per ELEMENT (measured: the binarydedup soak's
  * signature stage alone consumed CPU-hours at 300×, r10 finding). This
  * expression is bit-identical to the HOF form — same Long-wrapping
  * sign mix, same IEEE double division by 1024, same strict left-fold
  * accumulation in index order per bit, same `proj > 0` test — so every
  * oracle-replayed band key is unchanged; it is just compiled.
  *
  * `center = true` first computes the vector's mean (left-fold sum /
  * size, both in doubles) and projects the mean-centered elements —
  * `SimilarityOps.lshCandidatePairs`' opt-in for all-nonnegative
  * populations (byte histograms), same arithmetic as the transform
  * spelling it replaces.
  *
  * Null ELEMENTS (Parquet arrays usually carry containsNull=true):
  * the HOF twin's per-bit `aggregate` folds a null element into a null
  * projection, so every bit's `proj > 0` falls to the `otherwise(0)`
  * branch and the whole signature is 0L — centered or not (the mean
  * nulls too). This expression short-circuits to the same 0L the
  * moment it sees a null slot, instead of reading it as 0.0 (which
  * would give a null-containing vector band keys different from the
  * HOF reference's — r10 ADVICE).
  */
case class HyperplaneSignatureExpr(child: Expression, bits: Int,
                                   center: Boolean)
    extends UnaryExpression {

  require(bits >= 1 && bits <= 63, "hyperplane_sig bits in [1,63]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<float|double>, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "hyperplane_sig"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = arr.numElements()
    // any null element => signature 0L (the HOF twin's null-fold result)
    var n = 0
    while (n < d) {
      if (arr.isNullAt(n)) return 0L
      n += 1
    }
    def elem(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    var mu = 0.0
    if (center && d > 0) {
      var s = 0.0; var i = 0
      while (i < d) { s += elem(i); i += 1 }
      mu = s / d
    }
    val projs = new Array[Double](bits)
    var i = 0
    while (i < d) {
      val x = elem(i) - mu
      var j = 0
      while (j < bits) {
        // Long-wrapping mix, IEEE double division, floor-to-long, pmod —
        // exactly VectorFunctions.hpSign's column arithmetic
        val mixed = (i + 1L) * (j + 7L) * 2654435761L
        val q = java.lang.Math.floor(mixed.toDouble / 1024.0).toLong
        val r = q % 2L
        val sign = if ((if (r < 0L) r + 2L else r) == 1L) 1.0 else -1.0
        projs(j) += x * sign
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (projs(j) > 0.0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val projs = ctx.addMutableState("double[]", "hpProjs",
      v => s"$v = new double[$bits];")
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val mu = ctx.freshName("mu")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val mixed = ctx.freshName("mixed")
      val q = ctx.freshName("q")
      val r = ctx.freshName("r")
      val centerBlock = if (center) {
        s"""
           |if ($d > 0) {
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $d; $i++) $s += (double) $a.$getter($i);
           |  $mu = $s / $d;
           |}
         """.stripMargin
      } else ""
      val hn = ctx.freshName("hasNull")
      s"""
         |final int $d = $a.numElements();
         |boolean $hn = false;
         |for (int $i = 0; $i < $d && !$hn; $i++) $hn = $a.isNullAt($i);
         |${ev.value} = 0L;
         |if (!$hn) {
         |  double $mu = 0.0;
         |  $centerBlock
         |  java.util.Arrays.fill($projs, 0.0);
         |  for (int $i = 0; $i < $d; $i++) {
         |    final double $x = ((double) $a.$getter($i)) - $mu;
         |    for (int $j = 0; $j < $bits; $j++) {
         |      final long $mixed = ($i + 1L) * ($j + 7L) * 2654435761L;
         |      final long $q = (long) java.lang.Math.floor((double) $mixed / 1024.0);
         |      long $r = $q % 2L;
         |      if ($r < 0L) $r += 2L;
         |      $projs[$j] += ($r == 1L) ? $x : -$x;
         |    }
         |  }
         |  for (int $j = 0; $j < $bits; $j++) {
         |    if ($projs[$j] > 0.0) ${ev.value} |= (1L << $j);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneSignatureExpr = copy(child = newChild)
}

/** MULTI-WORD hyperplane signature: `words` longs of `bitsPerWord` sign
  * bits each, `array<long>` output — the vector-side twin of
  * `Dedup.simhashTableWide`, lifting the one-long band-key cap the
  * engine has now measured saturating four times (r11 verdict: EdgeProbe
  * at fixed b12 grew candidates 11.1× for 3.33× data,
  * `artifacts/edge_probe.json`; BlobProbe 1000×/b16 realized 83% of the
  * 3·2¹⁶ sign cells, `artifacts/blob_probe.json` — the single-long
  * form had no knob left past bands×bitsPerBand = 63).
  *
  * Bit j of word w projects with the SAME per-(dimension, bit) sign mix
  * as [[HyperplaneSignatureExpr]] at GLOBAL bit index w·bitsPerWord + j,
  * so a wide signature at (words, bitsPerWord) is exactly the
  * words×bitsPerWord single-long signature cut at word boundaries
  * whenever that product fits one long — CosineExpressionSpec pins the
  * slice equality, and `SimilarityOps.lshCandidatePairs` band keys are
  * byte-identical through the routing change. Same fused loop (ONE pass
  * over the vector accumulates every bit), same IEEE double /1024 mix,
  * same `proj > 0` test, same centering option, same null-element
  * short-circuit (any null slot ⇒ all-zero words, the HOF twin's
  * null-fold result).
  *
  * Width bound: the sign mix (i+1)·(g+7)·2654435761 must stay exactly
  * representable in an IEEE double (< 2⁵³) for the DuckDB oracle's
  * exact integer `//` to agree with the engines' double division —
  * dim ≤ 1024 × global bit ≤ 3968 (words ≤ 64, bitsPerWord ≤ 62) keeps
  * the product ≤ 1.1e16/1024 < 2⁵³ with 100× headroom at the fixture's
  * dim 64.
  */
case class HyperplaneSignatureWideExpr(child: Expression, words: Int,
                                       bitsPerWord: Int, center: Boolean)
    extends UnaryExpression {

  require(words >= 1 && words <= 64 && bitsPerWord >= 1 && bitsPerWord <= 62,
    "hyperplane_sig_wide: words in [1,64], bitsPerWord in [1,62]")

  private val bits = words * bitsPerWord

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

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = arr.numElements()
    val out = new Array[Long](words)
    var n = 0
    while (n < d) {
      if (arr.isNullAt(n))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      n += 1
    }
    def elem(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    var mu = 0.0
    if (center && d > 0) {
      var s = 0.0; var i = 0
      while (i < d) { s += elem(i); i += 1 }
      mu = s / d
    }
    val projs = new Array[Double](bits)
    var i = 0
    while (i < d) {
      val x = elem(i) - mu
      var g = 0
      while (g < bits) {
        val mixed = (i + 1L) * (g + 7L) * 2654435761L
        val q = java.lang.Math.floor(mixed.toDouble / 1024.0).toLong
        val r = q % 2L
        val sign = if ((if (r < 0L) r + 2L else r) == 1L) 1.0 else -1.0
        projs(g) += x * sign
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
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val projs = ctx.addMutableState("double[]", "hpwProjs",
      v => s"$v = new double[$bits];")
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val g = ctx.freshName("g")
      val j = ctx.freshName("j")
      val w = ctx.freshName("w")
      val mu = ctx.freshName("mu")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val mixed = ctx.freshName("mixed")
      val q = ctx.freshName("q")
      val r = ctx.freshName("r")
      val out = ctx.freshName("outWords")
      val sig = ctx.freshName("sig")
      val hn = ctx.freshName("hasNull")
      val centerBlock = if (center) {
        s"""
           |if ($d > 0) {
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $d; $i++) $s += (double) $a.$getter($i);
           |  $mu = $s / $d;
           |}
         """.stripMargin
      } else ""
      // the output array is allocated fresh per row: GenericArrayData
      // wraps it by reference, so a reused buffer would alias rows
      s"""
         |final int $d = $a.numElements();
         |boolean $hn = false;
         |for (int $i = 0; $i < $d && !$hn; $i++) $hn = $a.isNullAt($i);
         |final long[] $out = new long[$words];
         |if (!$hn) {
         |  double $mu = 0.0;
         |  $centerBlock
         |  java.util.Arrays.fill($projs, 0.0);
         |  for (int $i = 0; $i < $d; $i++) {
         |    final double $x = ((double) $a.$getter($i)) - $mu;
         |    for (int $g = 0; $g < $bits; $g++) {
         |      final long $mixed = ($i + 1L) * ($g + 7L) * 2654435761L;
         |      final long $q = (long) java.lang.Math.floor((double) $mixed / 1024.0);
         |      long $r = $q % 2L;
         |      if ($r < 0L) $r += 2L;
         |      $projs[$g] += ($r == 1L) ? $x : -$x;
         |    }
         |  }
         |  for (int $w = 0; $w < $words; $w++) {
         |    long $sig = 0L;
         |    for (int $j = 0; $j < $bitsPerWord; $j++) {
         |      if ($projs[$w * $bitsPerWord + $j] > 0.0) $sig |= (1L << $j);
         |    }
         |    $out[$w] = $sig;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneSignatureWideExpr = copy(child = newChild)
}
