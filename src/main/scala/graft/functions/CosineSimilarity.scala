package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns, with whole-stage codegen: one fused loop
  * computes dot product and both norms — no intermediate arrays, no
  * virtual calls per element (the HOF formulation allocates a zipped
  * array and folds it per row; in an all-pairs join that's the entire
  * hot path).
  *
  * Semantics are identical to `VectorFunctions.cosine` (reference
  * guards, src/embedding/Clustering.cpp:7-27: dimension mismatch or
  * zero norm → 0.0) AND bit-identical: the loop accumulates in the same
  * left-fold order, so oracle-validated results are unchanged when this
  * expression replaces the HOF version. The loop is written once, in
  * [[Cosine.sim]], which both the interpreted path and the generated
  * code call.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Cosine.sim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Cosine.sim($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Static implementation (top-level object ⇒ static forwarder class,
  * callable from generated Java).
  */
object Cosine {

  def sim(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }
}
