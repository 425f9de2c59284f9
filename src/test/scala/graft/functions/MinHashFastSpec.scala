package graft.functions

import graft.plans.SigAgreeExpr
import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite

/** The r07 fast sketch path must be bit-identical to the original
  * Set[String]-based path: shingleHashValues(text, n) must carry exactly the
  * distinct values of abs(fnv1a(shingle)) % p over shingles(text, n), and
  * minHashFromHashes over them must equal minHash over the shingle set —
  * on adversarial normalization inputs and a seeded random sweep. The
  * candidate estimate's native kernel (sig_agree_fast) must equal
  * estJaccard.
  */
class MinHashFastSpec extends AnyFunSuite {

  private val p = (1L << 61) - 1
  private val family = Sketches.hashFamily(64)

  private def slowValues(text: String, n: Int): Set[Long] =
    Sketches.shingles(text, n).map(s => math.abs(Sketches.fnv1a(s)) % p)

  private def checkText(text: String, n: Int): Unit = {
    assert(Sketches.shingleHashValues(text, n).toSet == slowValues(text, n),
      s"value set diverges for ${text.take(60).replace("\n", "\\n")}… n=$n")
    assert(
      Sketches.minHashFromHashes(Sketches.shingleHashValues(text, n), family)
        .sameElements(Sketches.minHash(Sketches.shingles(text, n), family)),
      s"signature diverges for ${text.take(60).replace("\n", "\\n")}… n=$n")
  }

  test("adversarial normalization inputs match the Set[String] path") {
    val cases = Seq(
      "", " ", " \t\n\u000B\f\r ", "a", "ab", "abc", "A  B", "  abc  ",
      "the quick  brown\tfox", "aaaaaaaaaaaa", "ab ab ab ab ab",
      "\u0000control at start", "trailing control\u0000",
      "unicode İstanbul straße été", // İ lowercases to 2 chars via full-string toLowerCase
      "emoji 😀 mixed", "tab\tseparated\twords",
      "line\nbreaks\r\nand\u000Bvertical", "x" * 3 // shorter than n=5
    )
    cases.foreach { t => checkText(t, 5); checkText(t, 3) }
  }

  test("seeded random sweep: 300 texts over a small alphabet with heavy repeats") {
    val rng = new scala.util.Random(20260822)
    val alphabet = "ab c\tD\n."
    (0 until 300).foreach { _ =>
      val len = rng.nextInt(400)
      val t = new String(Array.fill(len)(alphabet.charAt(rng.nextInt(alphabet.length))))
      checkText(t, 5)
    }
  }

  test("mulMod fast fold matches the divide-based form for negative operands too") {
    val rng = new scala.util.Random(7)
    def reference(a: Long, b: Long): Long = {
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      (hi * 8 + java.lang.Long.remainderUnsigned(lo, p)) % p
    }
    (0 until 10000).foreach { _ =>
      val a = math.abs(rng.nextLong()) % p + 1
      val b = math.abs(rng.nextLong()) % p
      assert(Sketches.mulMod(a, b, p) == reference(a, b), s"a=$a b=$b")
    }
    // the abs(Long.MinValue) corner: a negative hash value must take the
    // original path and agree with it by construction
    val negB = Long.MinValue % p
    (0 until 100).foreach { i =>
      val a = math.abs(new scala.util.Random(i).nextLong()) % p + 1
      assert(Sketches.mulMod(a, negB, p) == reference(a, negB), s"a=$a b=$negB")
    }
  }

  test("sig_agree_fast kernel equals estJaccard") {
    // the candidate estimate divides the kernel's agreement count by
    // s1.length in the plan (Dedup.estimatePairs); that must be estJaccard
    def viaKernel(s1: Array[Long], s2: Array[Long]): Double =
      SigAgreeExpr.compute(ArrayData.toArrayData(s1), ArrayData.toArrayData(s2)).toDouble / s1.length
    val rng = new scala.util.Random(99)
    val pairs = Seq.fill(200)((Array.fill(64)(rng.nextLong() % 4), Array.fill(64)(rng.nextLong() % 4))) :+
      ((Array.fill(64)(rng.nextLong() % 4), Array.fill(48)(rng.nextLong() % 4))) // unequal lengths
    pairs.foreach { case (s1, s2) =>
      assert(viaKernel(s1, s2) == Sketches.estJaccard(s1, s2))
    }
  }
}
