package graft.plans

import org.apache.spark.sql.types.{BinaryType, LongType}

/** `int8_dot_fast`, the stored-int8 ANN scoring kernel: the exact integer
  * dot over two BINARY columns (the 64 B quantized vectors of the Ann.int8
  * layout), fully inside whole-stage codegen (run by BinaryKernelExpr) —
  * binary columns arrive in generated code as `byte[]`, so the scan → score
  * → TakeOrderedAndProject path is one fused stage with no object fence
  * (the typed-Dataset form pays a DeserializeToObject boundary per row).
  * Oracle-proven equivalent to the typed form by q60's SQL, which
  * reproduces quantization + scoring from the float source.
  */
object Int8DotExpr extends BinaryKernel("int8_dot_fast", BinaryType, LongType) {
  def eval(a: Any, b: Any): Any = compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  /** Static forwarder for generated code — delegates to the ONE definition
    * of the quantized dot (Ann.dotInt8), so the typed and codegen paths
    * cannot desynchronize.
    */
  def compute(a: Array[Byte], b: Array[Byte]): Long =
    graft.operators.Ann.dotInt8(a, b)
}
