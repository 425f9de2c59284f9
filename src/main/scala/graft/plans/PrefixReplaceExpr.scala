package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.text.PrefixTrie

/** Native Catalyst expression for C1 (prefix canonicalization): a single
  * pass over the string instead of the 26-deep `replace` chain — same
  * semantics (property-tested against the sequential fold), ~an order of
  * magnitude less copying on the canonicalization hot path, and still fully
  * inside whole-stage codegen via a static call.
  *
  * This was the first place profiling justified dropping below the public
  * Column API (SURVEY.md §4 "revisit only if the prefix-replace chain
  * dominates"). Unary, so it is its own class; it is registered through
  * `NativeKernels.table` like the binary kernels.
  */
case class PrefixReplaceExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = PrefixReplaceExpr.name

  override protected def nullSafeEval(input: Any): Any =
    PrefixTrie.replaceAllUTF8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.PrefixTrie.replaceAllUTF8($c)")

  override protected def withNewChildInternal(newChild: Expression): PrefixReplaceExpr =
    copy(child = newChild)
}

object PrefixReplaceExpr {
  val name = "replace_prefixes_fast"
}
