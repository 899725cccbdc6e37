package graft.model

import java.sql.Timestamp

/** Core data model.
  *
  * The fundamental datum everywhere is the N-Quad `(s, p, o, g)` — see
  * reference quad-logger/sql-proc/dump_nquads.sql:44-49 (SPARQL scan binding
  * all four positions) and parse_trx_logs.sql:107 (positional quad vector).
  *
  * Terms are kept *lexical* (already-resolved strings); the reference's
  * `__ro2sq` internal-id lexicalization (utils.sql:40,55-57) disappears here.
  * Object terms carry a kind tag + optional datatype/lang, mirroring the
  * formatter branches in utils.sql:35-66.
  */
object TermKind {
  val Iri: Int = 0
  val Bnode: Int = 1
  val Literal: Int = 2
}

/** One quad, flat columns (Catalyst-friendly — no nested struct needed).
  * Subject and graph are IRIs, except a subject whose lex starts with "_:"
  * is a blank node (store-scoped, reference MOTIVATION.md:50-53).
  */
final case class Quad(
    s: String,
    p: String,
    oLex: String,
    oKind: Int,
    oDtype: String, // "" = none; xsd:string is suppressed at serialization
    oLang: String,  // "" = none; lang wins over dtype (utils.sql:57-62)
    g: String)

/** Input web page, shape fixed by BASELINE.json input_hint:
  * (url, warc_ts, html, text, lang). `text` must be a byte-identical pure
  * function of `html` per url. */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)
