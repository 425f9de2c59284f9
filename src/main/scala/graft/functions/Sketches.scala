package graft.functions

/** Pure sketch primitives for near-duplicate detection: shingling, MinHash,
  * SimHash, n-gram Jaccard. Deterministic (fixed hash-family seeds), no
  * Spark dependency — the distributed operators in graft.operators.Dedup
  * call these inside codegen-adjacent typed maps, and the unit tests pin
  * their behavior exactly.
  */
object Sketches {

  // All sketch tokenizers lowercase with Locale.ROOT: the default-locale
  // String.toLowerCase is locale-SENSITIVE (a Turkish default locale maps
  // I→ı), which would silently diverge from the DuckDB oracle's
  // locale-independent lower() and break the q27/q58 hash gates on a
  // differently-configured JVM. ROOT pins ASCII casing on every host.
  private val Root = java.util.Locale.ROOT

  // compiled once — String.split/replaceAll(regex) recompile per call, and
  // these tokenizers run per document on the sketch hot path
  private val WsPat = java.util.regex.Pattern.compile("\\s+")

  /** Character n-gram shingles of the whitespace-normalized, lowercased text. */
  def shingles(text: String, n: Int): Set[String] = {
    val norm = WsPat.matcher(text.toLowerCase(Root)).replaceAll(" ").trim
    if (norm.length < n) if (norm.isEmpty) Set.empty else Set(norm)
    else (0 to norm.length - n).map(i => norm.substring(i, i + n)).toSet
  }

  /** 64-bit FNV-1a — stable, engine-independent string hash. */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private val MersennePrime = (1L << 61) - 1

  /** Deterministic (a, b) parameters of the universal hash family, seeded. */
  def hashFamily(numHashes: Int): Array[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Array.fill(numHashes)((math.abs(rng.nextLong()) % MersennePrime + 1,
                           math.abs(rng.nextLong()) % MersennePrime))
  }

  /** MinHash signature over the shingle set: for each (a,b) in the family,
    * min over shingles of (a*h + b) mod p. Empty set → all Long.MaxValue.
    */
  def minHash(sh: Set[String], family: Array[(Long, Long)]): Array[Long] = {
    val hs = sh.iterator.map(s => math.abs(fnv1a(s)) % MersennePrime).toArray
    family.map { case (a, b) =>
      if (hs.isEmpty) Long.MaxValue
      else {
        var m = Long.MaxValue
        var i = 0
        while (i < hs.length) {
          // (a*h+b) mod p without overflow: a,h < 2^61 — use Math.multiplyHigh-free
          // BigInt-avoiding split multiply
          val v = mulMod(a, hs(i), MersennePrime) + b
          val vm = v % MersennePrime
          if (vm < m) m = vm
          i += 1
        }
        m
      }
    }
  }

  /** (a*b) mod (2^61-1) for 0 ≤ a,b < 2^61-1, branch-free 64-bit arithmetic:
    * with p = 2^61-1, 2^64 ≡ 8 (mod p), so ab = hi·2^64 + lo ≡ hi·8 + lo.
    * hi < 2^58 (product < 2^122) keeps hi·8 < 2^61.
    *
    * Division-free on the hot path: p is a Mersenne prime, so x mod p for
    * unsigned x < 2^64 folds as (x & p) + (x >>> 61) (2^61 ≡ 1 mod p) with
    * one conditional subtract — no hardware divide. The minhash inner loop
    * runs this per (shingle × hash function); the two divisions of the
    * previous remainderUnsigned/% form dominated sketching CPU. Negative
    * operands (possible only through the abs(Long.MinValue) corner of the
    * shingle hash) take the original divide-based path so results stay
    * bit-identical for every input.
    */
  def mulMod(a: Long, b: Long, m: Long): Long = {
    require(m == MersennePrime, "mulMod is specialized to p = 2^61-1")
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    if ((a | b) >= 0) {
      val loFold = (lo & m) + (lo >>> 61) // lo mod p: < p + 8, one subtract
      val loM = if (loFold >= m) loFold - m else loFold
      val s = hi * 8 + loM                // < 2^62, no overflow
      val sFold = (s & m) + (s >>> 61)
      if (sFold >= m) sFold - m else sFold
    } else (hi * 8 + java.lang.Long.remainderUnsigned(lo, m)) % m
  }

  /** The DISTINCT shingle-hash values of a text — `shingles(text, n)` mapped
    * through `abs(fnv1a(_)) % p` without materializing shingle strings or a
    * Set[String]: one char-level normalize pass (identical to shingles():
    * toLowerCase(ROOT), `\s+`→" ", String.trim), then fnv1a computed over
    * each n-char window in place, deduplicated by VALUE in a primitive
    * open-addressing table. Value-dedup is min-safe: minHash reduces the
    * hash multiset with min per family entry, so collapsing duplicate
    * values (whether from equal shingles or fnv collisions) cannot change
    * any minimum — MinHashFastSpec asserts signature equality against the
    * Set[String] path. This removes the per-shingle substring + Set
    * allocation that dominated sketching alongside mulMod's divisions.
    */
  def shingleHashValues(text: String, n: Int): Array[Long] = {
    val lower = text.toLowerCase(Root)
    val len = lower.length
    val buf = new Array[Char](len)
    var m = 0
    var i = 0
    var inWs = false
    while (i < len) {
      val c = lower.charAt(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (ws) {
        if (!inWs) { buf(m) = ' '; m += 1; inWs = true }
      } else { buf(m) = c; m += 1; inWs = false }
      i += 1
    }
    // String.trim semantics: strip leading/trailing chars <= ' '
    var lo = 0
    var hi = m
    while (lo < hi && buf(lo) <= ' ') lo += 1
    while (hi > lo && buf(hi - 1) <= ' ') hi -= 1
    def windowHash(from: Int, until: Int): Long = {
      var h = 0xcbf29ce484222325L
      var k = from
      while (k < until) { h ^= buf(k).toLong; h *= 0x100000001b3L; k += 1 }
      math.abs(h) % MersennePrime
    }
    val length = hi - lo
    if (length == 0) return Array.emptyLongArray
    if (length < n) return Array(windowHash(lo, hi))
    val count = length - n + 1
    val cap = Integer.highestOneBit(math.max(2, count) * 2 - 1) << 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val out = new Array[Long](count)
    var outN = 0
    var w = lo
    while (w + n <= hi) {
      val h = windowHash(w, w + n)
      var idx = ((h * 0x9e3779b97f4a7c15L) >>> 40).toInt & (cap - 1)
      var done = false
      while (!done) {
        if (!used(idx)) {
          used(idx) = true; table(idx) = h; out(outN) = h; outN += 1; done = true
        } else if (table(idx) == h) done = true
        else idx = (idx + 1) & (cap - 1)
      }
      w += 1
    }
    if (outN == count) out else java.util.Arrays.copyOf(out, outN)
  }

  /** MinHash over precomputed shingle-hash values (the shingleHashValues
    * fast path) — identical output to `minHash(shingles(text, n), family)`.
    */
  def minHashFromHashes(hs: Array[Long], family: Array[(Long, Long)]): Array[Long] = {
    val out = new Array[Long](family.length)
    if (hs.isEmpty) { java.util.Arrays.fill(out, Long.MaxValue); return out }
    var k = 0
    while (k < family.length) {
      val a = family(k)._1
      val b = family(k)._2
      var min = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = mulMod(a, hs(i), MersennePrime) + b
        // v ∈ (-p, 2p): the conditional subtract equals the original `% p`
        // over that whole range (negative only via the abs corner case)
        val vm = if (v >= MersennePrime) v - MersennePrime else v
        if (vm < min) min = vm
        i += 1
      }
      out(k) = min
      k += 1
    }
    out
  }

  /** LSH band keys: signature split into `bands` bands of `rows` rows; key =
    * (bandIdx, hash of the band slice). Near-dup candidates = pairs sharing
    * any band key — the shuffle key of the distributed join.
    */
  def bandKeys(sig: Array[Long], bands: Int): Array[(Int, Long)] = {
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      val slice = sig.slice(b * rows, (b + 1) * rows)
      (b, fnv1a(slice.mkString(",")))
    }
  }

  /** 64-bit SimHash over word features. */
  def simHash(text: String): Long = {
    val toks = WsPat.split(text.toLowerCase(Root)).filter(_.nonEmpty)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = fnv1a(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // MessageDigest is stateful, not thread-safe, and costly to instantiate —
  // thread-local reuse cuts the per-word md5 cost ~2× on the sketch hot path
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  /** Lowercase hex md5 (identical to DuckDB's `md5(...)`). */
  def md5Hex(s: String): String = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Gate-variant SimHash: 48-bit sketch whose per-word hash is the first
    * 12 hex chars of md5(word) — SQL-expressible (DuckDB `md5` + hex cast),
    * unlike fnv1a's per-char loop, so sketch construction, banding, and the
    * Hamming verify all become oracle-checkable. Same majority-vote
    * construction as simHash; 48 bits keeps the value positive in BIGINT on
    * both engines. Empty token list → 0 (corpus has no empty docs; the
    * oracle would drop a 0-sketch doc from its word CTE).
    */
  def simHash48(text: String): Long = {
    val toks = WsPat.split(text.toLowerCase(Root)).filter(_.nonEmpty)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](48)
    toks.foreach { t =>
      val h = java.lang.Long.parseLong(md5Hex(t).substring(0, 12), 16)
      var b = 0
      while (b < 48) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 48) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Exact Jaccard over two shingle sets. */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) 1.0
    else (a & b).size.toDouble / (a | b).size.toDouble
  }

  /** Estimated Jaccard from two MinHash signatures. */
  def estJaccard(s1: Array[Long], s2: Array[Long]): Double =
    s1.zip(s2).count { case (x, y) => x == y }.toDouble / s1.length

  /** Scaled-integer cosine similarity between float vectors: each component
    * floored to milli-units, dot/norms in exact integer arithmetic — the
    * engine-independent form used by the ANN oracle queries (floor never
    * ties, unlike round, so Spark and DuckDB agree bit-for-bit).
    */
  def scaledDot(a: Array[Float], b: Array[Float]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length && i < b.length) {
      s += math.floor(a(i) * 1000.0).toLong * math.floor(b(i) * 1000.0).toLong
      i += 1
    }
    s
  }

  /** Plain double cosine for Scala-side use (tests, brute-force ANN). */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length && i < b.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}
