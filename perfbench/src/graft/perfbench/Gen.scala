package graft.perfbench

import java.util.SplittableRandom
import graft.model.Page
import graft.text.HtmlCodec

/** Seeded input generators. The same seed gives the same inputs.
  *
  * KG pages reproduce the shape of the repo's documents table: ~300-char
  * word sequences over the engine's small dictionary-bearing vocabulary, so
  * the mention scan finds the dictionary surfaces. Html comes from
  * `HtmlCodec.generate`, so `extract(html) == text` holds per page.
  * The dedup corpus uses a large pseudo-word vocabulary instead, so that
  * unrelated documents share few shingles and only the seeded near-dup
  * families and the shared boilerplate paragraph produce candidates.
  */
object Gen {

  val KgVocab: Array[String] = ("batch part spark line column order small sort fast value scan a " +
    "hash slow group agg filter query big key window row table stream merge data the customer " +
    "join vector").split(" ")

  private val Langs = Array("en", "en", "en", "en", "de", "fr", "es", "zh")
  private val Epoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

  def kgText(r: SplittableRandom): String = {
    val n = 12 + r.nextInt(59)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(KgVocab(r.nextInt(KgVocab.length)))
      i += 1
    }
    sb.toString
  }

  def url(tag: String, i: Long): String = s"https://bench.example/$tag/p$i"

  def ts(minutes: Long): java.sql.Timestamp = new java.sql.Timestamp(Epoch + minutes * 60000L)

  def page(u: String, t: java.sql.Timestamp, text: String, lang: String): Page =
    Page(u, t, HtmlCodec.generate(u, text), text, lang)

  /** `n` pages numbered from `from`; a `longShare` of them concatenate 8-32
    * documents, which skews per-task work.
    */
  def kgPages(r: SplittableRandom, tag: String, from: Long, n: Int, longShare: Double): Seq[Page] =
    (0 until n).map { k =>
      val i = from + k
      val text =
        if (r.nextDouble() < longShare) Seq.fill(8 + r.nextInt(25))(kgText(r)).mkString(" ")
        else kgText(r)
      page(url(tag, i), ts(i), text, Langs(r.nextInt(Langs.length)))
    }

  /** A recrawled version of `p`: about a tenth of its words replaced, a few
    * inserted and a few deleted; the crawl timestamp moves forward.
    */
  def recrawl(r: SplittableRandom, p: Page, minutesLater: Long): Page = {
    val words = p.text.split(" ").toBuffer
    val edits = 1 + words.length / 10
    (0 until edits).foreach { _ =>
      r.nextInt(3) match {
        case 0 if words.nonEmpty => words(r.nextInt(words.length)) = KgVocab(r.nextInt(KgVocab.length))
        case 1                   => words.insert(r.nextInt(words.length + 1), KgVocab(r.nextInt(KgVocab.length)))
        case _ if words.length > 2 => words.remove(r.nextInt(words.length))
        case _                   => ()
      }
    }
    page(p.url, new java.sql.Timestamp(p.warc_ts.getTime + minutesLater * 60000L), words.mkString(" "), p.lang)
  }

  // ------------------------------------------------------------ dedup corpus

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da",
    "fi", "go", "hu", "je", "pa", "qu", "ze", "xi", "wo", "yu")
  private val Stop = Array("the", "and", "of", "is")

  def pseudoVocab(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Seq.fill(2 + r.nextInt(3))(Syllables(r.nextInt(Syllables.length))).mkString
    seen.toArray
  }

  def corpusText(r: SplittableRandom, vocab: Array[String], words: Int): Array[String] =
    Array.fill(words) {
      if (r.nextInt(6) == 0) Stop(r.nextInt(Stop.length)) else vocab(r.nextInt(vocab.length))
    }

  /** A near-duplicate: each word replaced with probability `rate`. */
  def nearDup(r: SplittableRandom, vocab: Array[String], words: Array[String], rate: Double): Array[String] =
    words.map(w => if (r.nextDouble() < rate) vocab(r.nextInt(vocab.length)) else w)

  // ----------------------------------------------------------------- vectors

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def gaussian(r: SplittableRandom, dim: Int): Array[Double] = Array.fill(dim) {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def noisy(r: SplittableRandom, base: Array[Float], sigma: Double): Array[Float] = {
    val g = gaussian(r, base.length)
    unit(Array.tabulate(base.length)(i => base(i) + sigma * g(i)))
  }
}
