package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** A binary native kernel: its SQL name, the type both inputs must have,
  * its result type and its `compute`. Each kernel is the object that owns
  * its static `compute(a, b)` (ScaledDotExpr, Int8DotExpr, CosineExpr,
  * SigAgreeExpr); generated code calls that method, and `eval` is the same
  * method for interpreted evaluation.
  */
abstract class BinaryKernel(val name: String, val input: DataType, val result: DataType)
    extends Serializable {
  def eval(a: Any, b: Any): Any
  /** The static method generated code calls: `<owner>.compute`. */
  final def computeRef: String = getClass.getName.stripSuffix("$") + ".compute"
}

/** The one Catalyst expression for every binary kernel: it reads both
  * columns in place (ArrayData / byte[]) inside whole-stage codegen, so
  * scan → score → filter or TakeOrderedAndProject stays one fused stage
  * with no object fence. Renders as `<name>(left, right)`; the kernel is
  * not printed as an argument.
  */
case class BinaryKernelExpr(kernel: BinaryKernel, left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(kernel.input, kernel.input)
  override def dataType: DataType = kernel.result
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel.eval(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${kernel.computeRef}($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BinaryKernelExpr =
    copy(left = newLeft, right = newRight)
}

/** The engine's native kernels — the only place one is named and built:
  * `replace_prefixes_fast` (PrefixReplaceExpr), `scaled_dot_fast`,
  * `int8_dot_fast`, `cosine_fast` and `sig_agree_fast` (BinaryKernelExpr).
  *
  * Two ways in, one table: `GraftExtensions` injects every entry into
  * sessions built with the extension, and `ensure(spark)` installs the
  * entries missing from a session built without it (the operators call it
  * before they use a kernel). `ensure` asks the session's own registry each
  * time rather than keeping a JVM-wide flag: a streaming query runs on a
  * cloned session, and `newSession()` starts from the builtins plus the
  * extensions only.
  */
object NativeKernels {
  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    entry(PrefixReplaceExpr.name, classOf[PrefixReplaceExpr], 1)(c => PrefixReplaceExpr(c.head)) +:
      Seq[BinaryKernel](ScaledDotExpr, Int8DotExpr, CosineExpr, SigAgreeExpr).map(k =>
        entry(k.name, classOf[BinaryKernelExpr], 2)(c => BinaryKernelExpr(k, c.head, c(1))))

  /** A table entry whose builder rejects a call with the wrong number of
    * arguments (SQL text is outside input: a missing argument would
    * otherwise throw an index error, and an extra one would be ignored).
    */
  private def entry(name: String, cls: Class[_], arity: Int)(build: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), (c: Seq[Expression]) => {
      require(c.length == arity, s"$name takes $arity arguments, got ${c.length}")
      build(c)
    })

  /** Register the kernels this session's registry lacks; a no-op once
    * they are there, so a call never replaces a registered builder.
    */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((id, info, build) <- table if !registry.functionExists(id))
      registry.registerFunction(id, info, build)
  }
}

/** Session extension injecting every native kernel of `NativeKernels.table`;
  * enable with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (works on a plain `spark-submit`/`spark-sql` deployment with this jar on
  * the classpath — no code changes in the consuming application) and call
  * `replace_prefixes_fast`, `scaled_dot_fast`, `int8_dot_fast`,
  * `cosine_fast` or `sig_agree_fast` in SQL. Sessions built without it get
  * the same entries from `NativeKernels.ensure`. ExtensionsSpec drives both.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeKernels.table.foreach(ext.injectFunction)
}
