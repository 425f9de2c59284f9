package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline: language ID,
  * quality scoring, token counting, fingerprinting. All Column-level
  * (codegen'd) except the character-profile langid fallback which is a pure
  * Scala function usable inside typed maps.
  *
  * Everything here avoids SUM(double)-style order-dependent float
  * aggregation: ratios are emitted as scaled BIGINTs so results are
  * bit-stable across partitionings and engines (important both for the
  * DuckDB oracle and for deterministic re-runs at 1000-executor scale).
  */
object TextAnalysis {

  /** Whitespace token count: robust to runs of whitespace and leading/
    * trailing space; 0 for empty/blank text.
    */
  def tokenCount(text: Column): Column =
    when(trim(text) === "", lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("bigint"))

  /** BPE-ish subword-shaped token count: letter runs, digit runs, and single
    * punctuation marks each count as one token (the common pre-tokenizer
    * shape; RE2/Java-compatible pattern so the DuckDB oracle matches).
    */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0))).cast("bigint")

  /** Quality metrics, scaled-integer form:
    *  - nChars, nTokens
    *  - meanTokenLenMilli = 1000 * (chars-without-spaces) / tokens
    *  - punctPerMille     = 1000 * punctuation chars / chars
    *  - upperPerMille     = 1000 * uppercase chars / chars
    * Integer division keeps results exact in any engine.
    */
  def qualityColumns(text: Column): Seq[Column] = {
    val nChars = length(text).cast("bigint")
    val nTokens = tokenCount(text)
    val nonSpace = length(regexp_replace(text, "\\s", "")).cast("bigint")
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()-]", "")).cast("bigint")
    val upper = length(regexp_replace(text, "[^A-Z]", "")).cast("bigint")
    Seq(
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      when(nTokens === 0, lit(0L))
        .otherwise(nonSpace * 1000L / nTokens).cast("bigint").as("mean_token_len_milli"),
      when(nChars === 0, lit(0L))
        .otherwise(punct * 1000L / nChars).cast("bigint").as("punct_per_mille"),
      when(nChars === 0, lit(0L))
        .otherwise(upper * 1000L / nChars).cast("bigint").as("upper_per_mille")
    )
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercased text — the
    * exact-dedup key. (A rolling-hash shingle fingerprint for near-dup lives
    * in graft.functions.Sketches.)
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Stopword marker lists per language for the n-gram/stopword langid
    * heuristic. Deliberately tiny — the point is the distributed shape
    * (per-row scoring against a broadcast-able constant), not NLP quality.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "de" -> Seq(" der ", " und ", " das ", " ist "),
    "fr" -> Seq(" le ", " et ", " les ", " est "),
    "es" -> Seq(" el ", " y ", " los ", " es "),
    "zh" -> Seq("的", "是", "了", "在")
  )

  /** Column-level langid: score = number of marker hits per language, argmax
    * with 'en' fallback. Expressed as a when-chain over greatest() so it
    * stays codegen'd.
    */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    def score(lang: String): Column =
      stopwords(lang)
        .map(w => when(padded.contains(w), 1).otherwise(0))
        .reduce(_ + _)
    val langs = Seq("en", "de", "fr", "es", "zh")
    val scores = langs.map(l => l -> score(l))
    val best = greatest(scores.map(_._2): _*)
    // first language (in fixed langs order) achieving the max; all-zero → "und"
    scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** PII scrubbing for training text: emails → [EMAIL], North-American-style
    * phone numbers → [PHONE]. Pure `regexp_replace` chain (codegen'd, no
    * UDF); patterns stay inside the Java-regex ∩ RE2 common subset so the
    * DuckDB oracle applies the identical expressions (no backrefs, no
    * lookaround). Email first so a digit-bearing local-part can't be
    * half-eaten by the phone pass.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "[EMAIL]"),
      phonePattern, "[PHONE]")

  /** URL canonicalization for web-corpus dedup keys: lowercase scheme+host,
    * strip the fragment, strip default ports (:80 for http, :443 for
    * https), normalize an empty path to "/", drop tracking params
    * (utm_*, fbclid, gclid), and sort the surviving query params. Pure
    * built-in Column chain (regexp + higher-order array functions — no
    * UDF, no object ser/deser; the HOF lambdas evaluate on Catalyst's
    * internal rows); patterns kept RE2-compatible so the DuckDB oracle
    * runs the identical expressions.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val rawPath = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val q = regexp_extract(noFrag, "\\?(.*)$", 1)
    val params = filter(
      split(q, "&"),
      p => !p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid)=") && p =!= "")
    val qs = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }

  /** fastText-style linear quality classifier (Joulin et al. 2016 shape: a
    * linear model over bag-of-token features), with CLOSED-FORM integer
    * weights so the DuckDB oracle reproduces the score bit-for-bit:
    *
    *  - lexicon feature: common-English cue words carry weight +40 (the
    *    learned-embedding row of a real fastText model, frozen);
    *  - token-shape features: clean lowercase word +8, digit-bearing −25,
    *    other (punctuation/mixed) −10;
    *  - hashing-trick OOV bucket: md5-bucket(token) mod 1024 → a zero-mean
    *    pseudo-weight in [−10, +10] from a closed-form formula — the
    *    hash-bucket weight table of the fastText input matrix.
    *
    * The document score is the SUM of token weights (exact integer — no
    * division, so no negative-integer-division engine skew), and the keep
    * decision compares mean token weight to a threshold via cross-
    * multiplication: keep ⟺ score·1000 ≥ threshold_milli·n_tokens. All
    * Column built-ins (split/filter/aggregate HOFs + md5/conv) — codegen'd,
    * zero UDFs, one narrow pass.
    */
  val qualityLexicon: Seq[String] = Seq(
    "the", "a", "and", "of", "is", "to", "in", "that", "it", "was",
    "for", "on", "are", "as", "with")
  val qualityLexiconWeight = 40L
  val qualityThresholdMilli = 5000L

  /** Per-token classifier weight as a Column (token assumed lowercased). */
  private def tokenWeight(t: Column): Column = {
    val shape = when(t.rlike("^[a-z]+$"), lit(8L))
      .when(t.rlike("[0-9]"), lit(-25L))
      .otherwise(lit(-10L))
    val lex = when(t.isin(qualityLexicon: _*), lit(qualityLexiconWeight)).otherwise(lit(0L))
    val bucket = conv(substring(md5(t), 1, 12), 16, 10).cast("long") % 1024L
    val hashW = (bucket * 2654435761L) % 21L - 10L
    shape + lex + hashW
  }

  /** (n_tokens, ft_score, keep) for a text column — see qualityLexicon.
    * NULL text is scored as empty (0, 0, false) — matching the oracle's
    * LEFT JOIN + coalesce shape — rather than propagating NULL through the
    * whole feature chain.
    */
  def qualityClassifierColumns(text: Column): Seq[Column] = {
    val toks = filter(split(lower(trim(coalesce(text, lit("")))), "\\s+"), t => t =!= "")
    val n = size(toks).cast("bigint")
    val score = aggregate(toks, lit(0L), (acc, t) => acc + tokenWeight(t))
    Seq(
      n.as("n_tokens"),
      score.as("ft_score"),
      (score * 1000L >= lit(qualityThresholdMilli) * n && n > 0).as("keep"))
  }

  // ------------------------------------------------------------- real BPE

  /** Fixed BPE merges table, in PRIORITY order (the trained artifact of a
    * real tokenizer, frozen closed-form like qualityLexicon): each entry
    * merges two adjacent symbols into their concatenation. Compound
    * operands ("th", "ti", …) appear only after the merge that produces
    * them — validated below — which is what makes single-pass application
    * exact (see bpeWordTokens).
    */
  val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "a" -> "n", "e" -> "r", "o" -> "n", "r" -> "e",
    "a" -> "t", "e" -> "n", "o" -> "r", "s" -> "t", "e" -> "s", "a" -> "l",
    "th" -> "e", "in" -> "g", "an" -> "d", "o" -> "u", "t" -> "i",
    "ti" -> "on", "er" -> "s", "c" -> "h", "o" -> "m", "a" -> "r",
    "l" -> "l", "w" -> "h")
  require(bpeMerges.zipWithIndex.forall { case ((a, b), i) =>
    val earlier = bpeMerges.take(i).map { case (x, y) => x + y }.toSet
    (a.length == 1 || earlier(a)) && (b.length == 1 || earlier(b))
  }, "bpeMerges is not well-ordered: a compound operand precedes its producing merge")
  // product uniqueness: two merges yielding the same compound (e.g. ('a','nd')
  // alongside ('an','d')) would let a later merge recreate a symbol an
  // earlier, already-exhausted merge consumes — silently diverging the
  // single-pass replace chain from iterative BPE
  require(bpeMerges.map { case (a, b) => a + b }.distinct.size == bpeMerges.size,
    "bpeMerges products are not unique: two merges produce the same compound symbol")

  /** Reference STANDARD BPE encoder (the iterative algorithm every real
    * tokenizer runs: repeatedly find the highest-priority merge with an
    * adjacent occurrence, merge ALL its occurrences left-to-right
    * non-overlapping, repeat until none applies). Spec-side ground truth
    * for the Column form below.
    */
  def bpeEncodeReference(word: String): List[String] = {
    var syms = word.map(_.toString).toList
    var changed = true
    while (changed) {
      changed = false
      bpeMerges.find { case (a, b) =>
        syms.lazyZip(syms.drop(1)).exists { case (x, y) => x == a && y == b }
      }.foreach { case (a, b) =>
        val out = scala.collection.mutable.ListBuffer[String]()
        var rest = syms
        while (rest.nonEmpty) rest match {
          case x :: y :: tl if x == a && y == b => out += (a + b); rest = tl
          case x :: tl => out += x; rest = tl
          case Nil => ()
        }
        syms = out.toList
        changed = true
      }
    }
    syms
  }

  /** EXACT BPE token count of one (lowercased, a-z-only) word as a pure
    * Column chain: the symbol sequence is encoded as a bar-separated string
    * ("||a||b||c||" — every boundary is exactly two bars) and each merge in
    * priority order is ONE literal string replace of "|a||b|" with "|ab|"
    * (the outer single bars keep the doubled-boundary invariant, and the
    * two-bar gaps mean adjacent occurrences never share pattern chars, so
    * left-to-right non-overlapping replace merges every occurrence — "llll"
    * → "ll","ll", not "ll","l","l").
    *
    * Single pass in priority order IS standard BPE: merging pair (x,y) can
    * never make an EARLIER merge (a,b) newly applicable — it removes x,y
    * occurrences and creates the new symbol xy, whose neighbors become
    * adjacent to xy, never to each other — so once a merge's occurrences
    * are replaced it is exhausted forever. BpeSpec proves the chain equals
    * bpeEncodeReference on adversarial inputs (repeat chains, cascades).
    * Token count = boundary count − 1 = (#chars − #chars-without-"||")/2 − 1;
    * the empty word encodes to "||" and counts 0.
    *
    * Every step is a codegen'd built-in (replace/length) — no UDF — and the
    * merges table is a plain literal in the generated code, so the DuckDB
    * oracle applies the IDENTICAL replace chain (q84).
    */
  def bpeWordTokens(azWord: Column): Column = {
    val sep = concat(lit("||"), regexp_replace(azWord, "(.)", "$1||"))
    val folded = bpeMerges.foldLeft(sep) { case (acc, (a, b)) =>
      replace(acc, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    ((length(folded) - length(replace(folded, lit("||"), lit("")))) / 2 - 1).cast("bigint")
  }

  /** (n_words, bpe_tokens) for a text column: whitespace words, normalized
    * to their a-z characters, each BPE-encoded with the closed-form merges
    * table; bpe_tokens is what a trainer's tokenizer would report for the
    * letter content. One narrow pass, zero shuffles, zero UDFs.
    */
  def bpeTokenCountColumns(text: Column): Seq[Column] = {
    val words = filter(split(lower(trim(coalesce(text, lit("")))), "\\s+"), w => w =!= "")
    Seq(
      size(words).cast("bigint").as("n_words"),
      aggregate(words, lit(0L),
        (acc, w) => acc + bpeWordTokens(regexp_replace(w, "[^a-z]", ""))).as("bpe_tokens"))
  }

  /** Within-document repetition score (the Gopher/MassiveText repetition
    * family, Rae et al. 2021 §A1.1): how much of the document is its own
    * most-repeated word `n`-gram. Returned as exact integers —
    * (maxGramCount, totalGrams) — so the derived per-million fraction
    * `maxGramCount * 1_000_000 / totalGrams` (integer division) is
    * bit-stable and oracle-checkable; a doc with fewer than n words has no
    * grams → (0, 0). Pure per-document function: the distributed form is a
    * narrow map, zero shuffles (repetitionColumns below).
    */
  // compiled once — String.split(regex) recompiles the pattern per call
  private val WsPat = java.util.regex.Pattern.compile("\\s+")

  def repetitionStats(text: String, n: Int = 2): (Long, Long) = {
    val toks = WsPat.split(text).filter(_.nonEmpty)
    if (toks.length < n) return (0L, 0L)
    val counts = new java.util.HashMap[String, Long]()
    var max = 0L
    var total = 0L
    toks.sliding(n).foreach { g =>
      val k = g.mkString(" ")
      val c = counts.merge(k, 1L, (a, b) => a + b)
      if (c > max) max = c
      total += 1
    }
    (max, total)
  }
}
