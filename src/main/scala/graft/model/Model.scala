package graft.model

import java.sql.Timestamp

/** Core row types of the KG-construction pipeline.
  *
  * Shapes mirror the reference's implicit records (see SURVEY.md §1.1):
  *  - change record: /root/reference/src/wikidata_update/get_updates.py:104-136
  *  - triple set:    /root/reference/src/wikidata_update/ttl_compare.py:168-188
  *  - page table:    BASELINE.json input_hint (url, warc_ts, html, text, lang)
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** A recentchanges-style change record (get_updates.py:104-136). */
final case class Change(
    title: String,
    revid: Long,
    oldRevid: Long,
    changeType: String, // edit | new | log | categorize
    ts: Timestamp
)

/** One RDF term in object position. `kind` ∈ {literal, uri, bnode, prefixed}.
  * Literals carry optional language tag / datatype URI (lexical preserved —
  * byte-fidelity over typed parsing, per ttl_compare.py:243-284).
  */
final case class RdfObj(
    lex: String,
    lang: Option[String],
    dtype: Option[String],
    kind: String
)

/** A parsed triple. Object kept as tagged lexical columns so rendering
  * (SparqlFormat.formatObject) is a pure projection.
  */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    objLang: Option[String],
    objType: Option[String],
    objKind: String
)

/** A dictionary surface-form match inside one page. */
final case class Mention(
    url: String,
    surface: String,
    begin: Int,
    end: Int,
    lang: String
)

/** A linked candidate for a mention. */
final case class Candidate(
    url: String,
    surface: String,
    begin: Int,
    qid: String,
    score: Double
)

/** Alias-dictionary row (broadcast dim). */
final case class Alias(surface: String, qid: String, lang: String, prior: Double)
