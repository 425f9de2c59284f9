package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** `sig_agree_fast`, the MinHash estimate kernel: the number of agreeing
  * positions of two `array<bigint>` signatures (the numerator of
  * `Sketches.estJaccard`), fully inside whole-stage codegen (run by
  * BinaryKernelExpr).
  *
  * The typed-Dataset form deserializes two 64-long arrays into JVM objects
  * PER CANDIDATE PAIR — on an LSH-collision-heavy corpus that is orders of
  * magnitude more rows than surviving pairs and was the GC-heavy serial
  * tail of every candidates query (guide §4: built-ins/native expressions
  * over closures on the hot path; the scaled_dot_fast precedent). Reads the
  * columnar ArrayData in place: zero per-row allocation. Equivalence with
  * `Sketches.estJaccard` is asserted in MinHashFastSpec and by the
  * unchanged q26/q75/q77 oracle hashes.
  */
object SigAgreeExpr extends BinaryKernel("sig_agree_fast", ArrayType(LongType), IntegerType) {
  def eval(a: Any, b: Any): Any = compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Equal positions over min(length) — the estJaccard numerator (the
    * divisor, s1.length, stays in the calling plan so the division exactly
    * matches `eq.toDouble / s1.length`).
    */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq
  }
}
