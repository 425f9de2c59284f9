package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Native Catalyst expression for the stored-int8 ANN scoring kernel: the
  * exact integer dot over two BINARY columns (the 64 B quantized vectors of the
  * Ann.int8 layout), fully inside whole-stage codegen — binary columns
  * arrive in generated code as `byte[]`, so the scan → score →
  * TakeOrderedAndProject path is one fused stage with no object fence (the
  * typed-Dataset form pays a DeserializeToObject boundary per row).
  * Oracle-proven equivalent to the typed form by q60's SQL, which
  * reproduces quantization + scoring from the float source.
  */
case class Int8DotExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two binary arguments, got ${left.dataType}, ${right.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "int8_dot_fast"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Int8DotExpr.compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.Int8DotExpr.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8DotExpr =
    copy(left = newLeft, right = newRight)
}

object Int8DotExpr {
  /** Static forwarder for generated code — delegates to the ONE definition
    * of the quantized dot (Ann.dotInt8), so the typed and codegen paths
    * cannot desynchronize.
    */
  def compute(a: Array[Byte], b: Array[Byte]): Long =
    graft.operators.Ann.dotInt8(a, b)
}
