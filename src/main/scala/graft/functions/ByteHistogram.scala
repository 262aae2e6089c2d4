package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, FloatType}

/** Native Catalyst expression: normalized `bins`-bin byte histogram of a
  * binary column — the columnar form of `Multimodal.featureStub`. The
  * histogram stays inside whole-stage codegen (the generated code calls
  * the one loop over the payload bytes, [[Histogram.bytes]]; no Row
  * round-trip), where the `rdd.mapPartitions` formulation broke
  * columnar execution and codegen for every operator downstream of it.
  * Empty/missing payloads give the all-zero vector, matching the stub.
  */
case class ByteHistogram(child: Expression, bins: Int)
    extends UnaryExpression {

  require(bins >= 1 && bins <= 256, "byte_histogram bins in [1,256]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"byte_histogram expects a binary argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = "byte_histogram"

  override protected def nullSafeEval(input: Any): Any =
    Histogram.bytes(input.asInstanceOf[Array[Byte]], bins)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.Histogram.bytes($b, $bins)")

  override protected def withNewChildInternal(newChild: Expression): ByteHistogram =
    copy(child = newChild)
}

/** Static implementation (top-level object ⇒ static forwarder class,
  * callable from generated Java).
  */
object Histogram {

  def bytes(payload: Array[Byte], bins: Int): ArrayData = {
    val h = new Array[Float](bins)
    if (payload.nonEmpty) {
      var i = 0
      while (i < payload.length) {
        h((payload(i) & 0xff) * bins / 256) += 1f
        i += 1
      }
      val n = payload.length.toFloat
      var j = 0
      while (j < bins) { h(j) /= n; j += 1 }
    }
    new GenericArrayData(h)
  }
}
