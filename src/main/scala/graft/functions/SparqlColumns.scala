package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.SparqlFormat

/** Column-expression mirrors of the pure scalar functions in
  * graft.text.SparqlFormat — every one stays inside whole-stage codegen
  * (built-in `replace` / `when` / `concat` / `regexp_replace` only, zero
  * UDFs), per SURVEY.md §2.8-2.9. Semantics cited to
  * /root/reference/src/wikidata_update/ per function.
  */
object SparqlColumns {

  /** C1 — ordered substring replace of all 26 URI prefixes
    * (ttl_compare.py:287-299). Constant-folds into a codegen'd replace chain;
    * table order preserved (value-normalized before statement etc.).
    */
  def replacePrefixes(c: Column): Column =
    SparqlFormat.prefixes.foldLeft(c) { case (acc, (uri, p)) =>
      replace(acc, lit(uri), lit(p + ":"))
    }

  /** C7 — startswith-any-known-prefix predicate (ttl_compare.py:302-316). */
  def hasPrefix(c: Column): Column =
    SparqlFormat.prefixes
      .map { case (_, p) => c.startsWith(p + ":") }
      .reduce(_ || _)

  /** C5 — `"` → `\"` literal-body escaping (ttl_compare.py:259). */
  def escapeQuotes(c: Column): Column = replace(c, lit("\""), lit("\\\""))

  /** C13 — `+00:00` → `Z` timestamp normalization (ttl_compare.py:266). */
  def normalizeTz(c: Column): Column = replace(c, lit("+00:00"), lit("Z"))

  /** C2 — object rendering (ttl_compare.py:243-284) as a when-chain over the
    * tagged-lexical columns (lex already prefix-replaced, like the
    * reference's call site). Branch order matches formatObject exactly.
    */
  def formatObject(lex: Column, lang: Column, dtype: Column, kind: Column): Column = {
    val esc = escapeQuotes(lex)
    val litBranch =
      when(lang.isNotNull, concat(lit("\""), esc, lit("\"@"), lang))
        .when(
          dtype.isNotNull,
          normalizeTz(
            replace(
              concat(lit("\""), esc, lit("\"^^"), dtype),
              lit("http://www.w3.org/2001/XMLSchema#"),
              lit("xsd:")
            )
          )
        )
        .when(esc.startsWith("_:"), esc)
        .otherwise(concat(lit("\""), esc, lit("\"")))
    val bare = replace(replace(lex, lit("<"), lit("")), lit(">"), lit(""))
    val nonLit =
      when(bare.startsWith("http"), concat(lit("<"), bare, lit(">")))
        .when(hasPrefix(bare), bare)
        .when(bare.startsWith("_:"), bare)
        .otherwise(concat(lit("'"), bare, lit("'")))
    when(kind === "literal", litBranch).otherwise(nonLit)
  }

  /** C3 — BCE-date sentinel rewrite (ttl_compare.py:345-369, regex at 354):
    * capture excludes the leading '-' so the sentinel is `BCE_YYYY…`
    * (original[1:] at ttl_compare.py:360), datatype dropped.
    */
  def preprocessBceDates(c: Column): Column =
    regexp_replace(
      c,
      "\"-(\\d{4,}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}Z)\"\\^\\^xsd:dateTime",
      "\"BCE_$1\""
    )

  /** C6 — `"normal rank"` → `NormalRank` (get_updates.py:951-958): strip
    * quotes/space, initcap each word, join.
    */
  def toCamelCase(c: Column): Column =
    regexp_replace(initcap(trim(replace(c, lit("\""), lit("")))), " ", "")

  /** C8 — predicate-family normalization (get_updates.py:360-373). */
  def normalizePredicate(current: Column, main: Column): Column =
    when(current === "reference" || current === "prov:wasDerivedFrom", lit("prov:wasDerivedFrom"))
      .when(current === "rank" || current === "wikibase:rank", lit("wikibase:rank"))
      .when(current.startsWith("p:"), replace(current, lit("p:"), lit("ps:")))
      .when(current.startsWith("ps:"), current)
      .when(current =!= "qualifier", main)
      .otherwise(current)

  /** Deterministic statement-id mint (J3 replacement; SURVEY.md §7.4):
    * content hash shaped like Wikidata's `s:Qn-…` ids.
    */
  def mintStatementId(entity: Column, pid: Column, obj: Column): Column =
    concat(lit("s:"), entity, lit("-"), md5(concat_ws("|", entity, pid, obj)))

  /** F4 — owl-namespace triple filter (ttl_compare.py:211-212). */
  def owlFree(subj: Column, pred: Column, obj: Column): Column =
    !subj.contains("/owl#") && !pred.contains("/owl#") && !obj.contains("/owl#")

  /** F5 — foreign-subject / property-subject filter (ttl_compare.py:225-228),
    * over prefix-replaced subjects.
    */
  def subjectAllowed(subj: Column, entityId: Column): Column =
    (!subj.startsWith("wd:Q") || subj === concat(lit("wd:"), entityId)) &&
      !subj.startsWith("wd:P")

  /** One triple → one `OP DATA { s p o . };` command (ttl_compare.py:233-236;
    * sample_result.txt grammar).
    */
  def command(op: Column, subj: Column, pred: Column, obj: Column): Column =
    concat(op, lit(" DATA { "), subj, lit(" "), pred, lit(" "), obj, lit(" . };"))
}
