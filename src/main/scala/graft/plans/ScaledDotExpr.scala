package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

/** `scaled_dot_fast`, the ANN scoring kernel: the scaled-integer dot
  * product (per-component floor to milli-units, exact BIGINT accumulation —
  * graft.functions.Sketches.scaledDot) over two `array<float>` columns,
  * fully inside whole-stage codegen (run by BinaryKernelExpr).
  *
  * The typed-Dataset form (q29) pays a DeserializeToObject/Serialize
  * boundary per row — correct but it fences codegen around the scan; this
  * kernel reads the columnar ArrayData in place, so scan → score →
  * TakeOrderedAndProject stays one fused stage. Oracle-proven equivalent to
  * the typed form by q48 (same DuckDB SQL as q29).
  */
object ScaledDotExpr extends BinaryKernel("scaled_dot_fast", ArrayType(FloatType), LongType) {
  def eval(a: Any, b: Any): Any = compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Same arithmetic as Sketches.scaledDot, over columnar ArrayData. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.floor(a.getFloat(i) * 1000.0).toLong * math.floor(b.getFloat(i) * 1000.0).toLong
      i += 1
    }
    s
  }
}
