package graft.text

import graft.model.{RdfObj, Triple}

/** Pure SPARQL-term formatting — semantics ported 1:1 from the reference
  * (all citations into /root/reference/src/wikidata_update/):
  *
  *  - prefix table + replace:  ttl_compare.py:101-129, 287-299
  *  - has_prefix:              ttl_compare.py:302-316
  *  - object rendering:        ttl_compare.py:243-284
  *  - triples → commands:      ttl_compare.py:191-240 (command grammar
  *                             `OP DATA { s p o . };` per sample_result.txt)
  *  - BCE-date preprocessing:  ttl_compare.py:345-369
  *  - to_camel_case:           get_updates.py:951-958
  *  - normalize_predicate:     get_updates.py:360-373
  *  - get_third_element:       get_updates.py:703-708
  *
  * Zero Spark dependencies: every function here is referentially transparent
  * so it can run inside codegen'd Column expressions (via the mirror
  * implementations in graft.functions.SparqlColumns) or typed map stages.
  */
object SparqlFormat {

  /** URI → short-prefix table, in the reference dict's insertion order
    * (ttl_compare.py:101-129). Order is load-bearing: e.g.
    * `prop/statement/value-normalized/` must replace before `prop/statement/`.
    * The reference dict lists `prov`/`wikibase` twice (same value) — Python
    * keeps first position, so the effective order below is faithful.
    */
  val prefixes: Vector[(String, String)] = Vector(
    "http://www.w3.org/ns/prov#" -> "prov",
    "http://schema.org/" -> "schema",
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#" -> "rdf",
    "http://www.w3.org/2000/01/rdf-schema#" -> "rdfs",
    "http://www.w3.org/2004/02/skos/core#" -> "skos",
    "http://wikiba.se/ontology#" -> "wikibase",
    "http://www.wikidata.org/entity/statement/" -> "s",
    "http://www.wikidata.org/entity/" -> "wd",
    "http://www.wikidata.org/prop/direct/" -> "wdt",
    "http://www.wikidata.org/prop/qualifier/value/" -> "pqv",
    "http://www.wikidata.org/prop/qualifier/" -> "pq",
    "http://www.wikidata.org/prop/statement/value-normalized/" -> "psn",
    "http://www.wikidata.org/prop/statement/value/" -> "psv",
    "http://www.wikidata.org/prop/direct-normalized/" -> "wdtn",
    "http://www.wikidata.org/prop/statement/" -> "ps",
    "http://www.wikidata.org/prop/reference/value/" -> "prv",
    "http://www.wikidata.org/prop/reference/value-normalized/" -> "prn",
    "http://www.wikidata.org/prop/reference/" -> "pr",
    "http://www.wikidata.org/prop/novalue/" -> "wdno",
    "http://www.wikidata.org/prop/" -> "p",
    "http://www.w3.org/2001/XMLSchema#" -> "xsd",
    "http://wikiba.se/ontology#Statement" -> "wikibase:statement",
    "http://wikiba.se/ontology#Reference" -> "wikibase:reference",
    "http://www.wikidata.org/reference/" -> "ref",
    "https://www.wikidata.org/wiki/Special:EntityData/" -> "data",
    "http://www.wikidata.org/value/" -> "v"
  )

  /** The 20-line PREFIX preamble written ahead of every output file
    * (sparql_updates.py:35-99; sample_result.txt:1-20).
    */
  val prefixHeader: String = Seq(
    "PREFIX wd: <http://www.wikidata.org/entity/>",
    "PREFIX wdt: <http://www.wikidata.org/prop/direct/>",
    "PREFIX p: <http://www.wikidata.org/prop/>",
    "PREFIX ps: <http://www.wikidata.org/prop/statement/>",
    "PREFIX pr: <http://www.wikidata.org/prop/reference/>",
    "PREFIX prn: <http://www.wikidata.org/prop/reference/value-normalized/>",
    "PREFIX prv: <http://www.wikidata.org/prop/reference/value/>",
    "PREFIX pq: <http://www.wikidata.org/prop/qualifier/>",
    "PREFIX prov: <http://www.w3.org/ns/prov#>",
    "PREFIX schema: <http://schema.org/>",
    "PREFIX skos: <http://www.w3.org/2004/02/skos/core#>",
    "PREFIX wikibase: <http://wikiba.se/ontology#>",
    "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>",
    "PREFIX ref: <http://www.wikidata.org/reference/>",
    "PREFIX v: <http://www.wikidata.org/value/>",
    "PREFIX s: <http://www.wikidata.org/entity/statement/>",
    "PREFIX psn: <http://www.wikidata.org/prop/statement/value-normalized/>",
    "PREFIX wdtn: <http://www.wikidata.org/prop/direct-normalized/>",
    "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>",
    "PREFIX data: <https://www.wikidata.org/wiki/Special:EntityData/>"
  ).mkString("\n")

  /** Longest-listed-first substring replace of every known URI prefix
    * (ttl_compare.py:287-299): replaces occurrences anywhere in the string,
    * in table order.
    */
  def replacePrefixes(s: String): String =
    prefixes.foldLeft(s) { case (acc, (uri, p)) => acc.replace(uri, p + ":") }

  /** True iff the element starts with `<shortPrefix>:` for any table entry
    * (ttl_compare.py:302-316).
    */
  def hasPrefix(element: String): Boolean =
    prefixes.exists { case (_, p) => element.startsWith(p + ":") }

  private def escapeQuotes(s: String): String = s.replace("\"", "\\\"")

  /** Renders an object term for SPARQL emission (ttl_compare.py:243-284).
    * NOTE: like the reference, this expects `o.lex` to already be
    * prefix-replaced by the caller (ttl_compare.py:223 does
    * `o_str = replace_prefixes(o)` before calling) — the 8 golden unit cases
    * pass raw lexicals directly. Literal branch order — quote-escape first,
    * then lang / datatype / blank sentinel / plain; datatype strings get
    * `XMLSchema#`→`xsd:` and `+00:00`→`Z` applied to the fully rendered
    * string — matches the reference byte-for-byte.
    */
  def formatObject(o: RdfObj): String = {
    if (o.kind == "literal") {
      val s = escapeQuotes(o.lex)
      o.lang match {
        case Some(l) => "\"" + s + "\"@" + l
        case None =>
          o.dtype match {
            case Some(dt) =>
              ("\"" + s + "\"^^" + dt)
                .replace("http://www.w3.org/2001/XMLSchema#", "xsd:")
                .replace("+00:00", "Z")
            case None =>
              if (s.startsWith("_:")) s else "\"" + s + "\""
          }
      }
    } else {
      val t = o.lex.replace("<", "").replace(">", "")
      if (t.startsWith("http")) "<" + t + ">"
      else if (hasPrefix(t)) t
      else if (t.startsWith("_:")) t
      else "'" + t + "'"
    }
  }

  /** Filter rules of triples_to_sparql (ttl_compare.py:211-228), applied to
    * the prefix-replaced subject: owl-ns anywhere in s/p/o; foreign `wd:Q…`
    * subjects; any `wd:P…` subject.
    */
  def keepTriple(subj: String, pred: String, obj: String, entityId: String): Boolean = {
    if (subj.contains("/owl#") || pred.contains("/owl#") || obj.contains("/owl#")) false
    else {
      val s = replacePrefixes(subj)
      if (s.startsWith("wd:Q") && s != s"wd:$entityId") false
      else if (s.startsWith("wd:P")) false
      else true
    }
  }

  /** One triple → one update command (ttl_compare.py:233-236 command grammar,
    * as exercised by the reference tests and sample_result.txt).
    */
  def tripleToCommand(t: Triple, operation: String, entityId: String): Option[String] = {
    if (!keepTriple(t.subj, t.pred, t.obj, entityId)) None
    else {
      val s = replacePrefixes(t.subj)
      val p0 = replacePrefixes(t.pred)
      val p = if (p0 == "rdf:type") "a" else p0
      val o = formatObject(RdfObj(replacePrefixes(t.obj), t.objLang, t.objType, t.objKind))
      Some(s"$operation DATA { $s $p $o . };")
    }
  }

  /** List form of triples_to_sparql: commands joined by newline. */
  def triplesToSparql(triples: Seq[Triple], operation: String, entityId: String): String =
    triples.flatMap(tripleToCommand(_, operation, entityId)).mkString("\n")

  private val BcePattern =
    """"(-\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z)"\^\^xsd:dateTime""".r

  /** Rewrites negative-year dateTime literals to a `BCE_…` sentinel string
    * (drops the datatype), returning the modified text plus the
    * sentinel→original map (ttl_compare.py:345-369).
    */
  def preprocessBceDates(ttl: String): (String, Map[String, String]) = {
    val mapping = scala.collection.mutable.LinkedHashMap[String, String]()
    val out = BcePattern.replaceAllIn(ttl, m => {
      val original = m.group(1)
      val custom = "\"BCE_" + original.substring(1) + "\""
      mapping(custom) = original
      java.util.regex.Matcher.quoteReplacement(custom)
    })
    (out, mapping.toMap)
  }

  // compiled once — String.split(regex) recompiles its pattern per call,
  // and these helpers run per row/flush of the diff walk
  private val WsPat = java.util.regex.Pattern.compile("\\s+")

  /** `"normal rank"` → `NormalRank` (get_updates.py:951-958). */
  def toCamelCase(s: String): String =
    WsPat.split(s.stripPrefix("\"").stripSuffix("\"").trim).filter(_.nonEmpty)
      .map(w => w.substring(0, 1).toUpperCase + w.substring(1).toLowerCase)
      .mkString("")

  /** Predicate-family rewrite (get_updates.py:360-373). Returns the
    * normalized predicate plus whether this is a whole-claim add/remove
    * (`ps:`-prefixed input).
    */
  def normalizePredicate(current: String, main: String): (String, Boolean) = {
    if (current == "reference" || current == "prov:wasDerivedFrom")
      ("prov:wasDerivedFrom", false)
    else if (current == "rank" || current == "wikibase:rank")
      ("wikibase:rank", false)
    else if (current.startsWith("p:")) (current.replace("p:", "ps:"), false)
    else if (current.startsWith("ps:")) (current, true)
    else if (current != "qualifier") (main, false)
    else (current, false)
  }

  private val ThirdElement = """(\S+)\s(\S+)\s((".*?"|\S+))""".r

  /** Quoted-string-aware third token of a triple line, only when the
    * predicate is `ps:`-prefixed (get_updates.py:703-708).
    */
  def getThirdElement(triplet: String): Option[String] =
    ThirdElement.findFirstMatchIn(triplet).collect {
      case m if m.group(2).startsWith("ps:") => m.group(3)
    }

  /** The narrow startswith-dispatch prefix replace used by the HTML path
    * (get_updates.py:677-692) — first matching family only.
    */
  def replacePrefixesNarrow(text: String): String = {
    val table = Seq(
      "http://www.wikidata.org/entity/" -> "wd:",
      "http://www.wikidata.org/prop/statement/" -> "ps:",
      "http://www.wikidata.org/prop/qualifier/" -> "pq:",
      "http://www.wikidata.org/prop/reference/value/" -> "prv:",
      "http://www.wikidata.org/prop/reference/" -> "pr:",
      "http://www.wikidata.org/prop/" -> "p:",
      "http://www.wikidata.org/value/" -> "v:"
    )
    table.collectFirst {
      case (uri, p) if text.startsWith(uri) => text.replace(uri, p)
    }.getOrElse(text)
  }

  /** Deterministic statement-id mint replacing the reference's remote
    * statement-node lookup (get_updates.py:806-881): content hash over
    * (entity, pid, obj), shaped like Wikidata's own `s:Qn-…` ids
    * (sample_result.txt:29).
    */
  def mintStatementId(entityId: String, pid: String, obj: String): String =
    // same lowercase-hex md5 as before; md5Hex reuses a thread-local digest
    // and a table-driven hex encode instead of a Formatter per byte
    s"s:$entityId-${graft.functions.Sketches.md5Hex(s"$entityId|$pid|$obj")}"
}
