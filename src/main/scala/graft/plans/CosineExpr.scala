package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** `cosine_fast`: exact cosine similarity over two `array<float>` columns —
  * the verification kernel of the embedding near-dup family
  * (Dedup.cosineVerified), inside whole-stage codegen (run by
  * BinaryKernelExpr).
  *
  * The typed-Dataset form deserialized BOTH float arrays per surviving
  * candidate pair through a DeserializeToObject/Serialize fence (the same
  * disease sig_agree_fast cured for the minhash estimate tail); this reads
  * the columnar ArrayData in place with zero per-pair allocation.
  *
  * Arithmetic mirrors graft.functions.Sketches.cosine EXACTLY — same
  * accumulation order, same float→double widening (exact), same zero-norm
  * and length-mismatch semantics — so results are bit-identical to the
  * typed form (CosineExprSpec asserts this on adversarial inputs; the
  * q38/q90 oracle hashes pin it end-to-end).
  */
object CosineExpr extends BinaryKernel("cosine_fast", ArrayType(FloatType), DoubleType) {
  def eval(a: Any, b: Any): Any = compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Same arithmetic as Sketches.cosine, over columnar ArrayData. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i); val y = b.getFloat(i)
      dot += x.toDouble * y; na += x.toDouble * x; nb += y.toDouble * y
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}
