"""SPARQL 1.1 Query Results serializers: CSV, TSV, JSON, XML.

rdflib consumers of the reference serialize SELECT/ASK results with
``Result.serialize(format="csv"|"txt"|"json"|"xml")`` over the graphs
pyRdfa returns (/root/reference/pyRdfa/__init__.py:722-725 hands back
rdflib objects precisely so the rdflib result machinery applies).  The
Spark-native twin serializes a SOLUTIONS DataFrame — the output of
:func:`pyrdfa3_spark.operators.sparql.sparql` or the ``bgp_*``
operators — as pure Column algebra:

* ``to_results_csv`` / ``to_results_tsv`` — one ``line`` row per
  solution plus the header line, per the W3C ``sparql11-results-csv-
  tsv`` rules (CSV: RFC 4180 quoting, terms as plain lexical forms;
  TSV: terms in SPARQL syntax — ``<iri>``, ``"literal"`` with ECHAR
  escapes, ``_:bnode``).
* ``to_results_json_bindings`` / ``to_results_xml_bindings`` — one
  serialized BINDING per row (a ``{"var": {"type": .., "value": ..}}``
  JSON object / a ``<result>..</result>`` element).  The enclosing
  document is driver-side framing around a distributed body, so
  ``results_json_doc`` / ``results_xml_doc`` assemble the full
  interchange document with an EXPLICIT row cap that raises — never
  silently truncates — when exceeded; at lake scale keep the
  line-frame form and let the consumer stream it.

Term typing: solution cells are LEXICAL strings (the engine's term
model).  When the frame carries ``__shape_*`` companion columns for a
variable (operator-level solutions with ``shape_vars``), the
serializers use them — language tags and datatypes included.  Without
companions the type is lexically inferred (bnode label / IRI scheme /
else literal) and lang/datatype are omitted: the same documented
posture as the serializer facade and VALUES-introduced bindings.

Scale shape: every ``to_*`` is one narrow projection — no shuffle, no
UDF; the header is a 1-row union.  Line order inside the frame is not
meaningful (CSV/TSV rows are independent); order by ``ord`` for a
header-first text file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrdfa3_spark.operators import graphops as G
from pyrdfa3_spark.plans.serialize import (
    _json_str, _nt_escape, _xml_escape_attr, _xml_escape_text,
)

_HEADER_ORD = 0
_ROW_ORD = 1


def _solution_vars(sols: DataFrame, columns=None) -> list[str]:
    vars_ = [c for c in (columns or sols.columns)
             if not c.startswith(G.SHAPE_PREFIX)]
    if not vars_:
        raise ValueError("solutions frame has no result variables")
    return vars_


def _term_kind(sols: DataFrame, v: str):
    """(is_bnode, is_iri, lang, datatype) Column 4-tuple for variable
    ``v`` — companion-backed when the frame carries shape columns,
    lexically inferred otherwise (lang/dt NULL)."""
    iri_c, lang_c, dt_c = G.shape_names(v)
    col = F.col(v)
    is_bnode = col.startswith("_:")
    if iri_c in sols.columns:
        is_iri = F.coalesce(F.col(iri_c), G._lexical_is_iri(v)) \
            & ~is_bnode
        lang = F.col(lang_c) if lang_c in sols.columns \
            else F.lit(None).cast("string")
        dt = F.col(dt_c) if dt_c in sols.columns \
            else F.lit(None).cast("string")
    else:
        is_iri = G._lexical_is_iri(v) & ~is_bnode
        lang = F.lit(None).cast("string")
        dt = F.lit(None).cast("string")
    return is_bnode, is_iri, lang, dt


def _with_header(spark, header: str, body: DataFrame) -> DataFrame:
    head = spark.createDataFrame(
        [(_HEADER_ORD, header)], "ord int, line string")
    return head.unionByName(
        body.select(F.lit(_ROW_ORD).alias("ord"), "line"))


def to_results_csv(sols: DataFrame, columns=None) -> DataFrame:
    """Solutions -> SPARQL 1.1 CSV results lines: ``(ord, line)`` with
    the header at ``ord`` 0 and one row per solution at ``ord`` 1.
    Fields are the plain lexical forms (IRIs bare, bnodes ``_:label``),
    RFC 4180-quoted when they contain a quote, comma, or line break;
    unbound cells are empty."""
    vars_ = _solution_vars(sols, columns)
    fields = []
    for v in vars_:
        val = F.coalesce(F.col(v).cast("string"), F.lit(""))
        quoted = F.concat(
            F.lit('"'), F.replace(val, F.lit('"'), F.lit('""')),
            F.lit('"'))
        fields.append(
            F.when(val.rlike('[",\n\r]'), quoted).otherwise(val))
    body = sols.select(F.concat_ws(",", *fields).alias("line"))
    return _with_header(sols.sparkSession, ",".join(vars_), body)


def _tsv_term(sols: DataFrame, v: str):
    is_bnode, is_iri, lang, dt = _term_kind(sols, v)
    col = F.col(v).cast("string")
    lit_core = F.concat(F.lit('"'), _nt_escape(col), F.lit('"'))
    literal = (F.when(lang.isNotNull(),
                      F.concat(lit_core, F.lit("@"), lang))
               .when(dt.isNotNull(),
                     F.concat(lit_core, F.lit("^^<"), dt, F.lit(">")))
               .otherwise(lit_core))
    term = (F.when(is_bnode, col)
            .when(is_iri, F.concat(F.lit("<"), col, F.lit(">")))
            .otherwise(literal))
    return F.coalesce(term, F.lit(""))  # unbound -> empty field


def to_results_tsv(sols: DataFrame, columns=None) -> DataFrame:
    """Solutions -> SPARQL 1.1 TSV results lines (``(ord, line)``,
    header ``?var`` names at ``ord`` 0): terms in SPARQL syntax —
    ``<iri>``, ``_:bnode``, ``"literal"`` with ECHAR escapes plus
    ``@lang`` / ``^^<dt>`` when the frame carries shape companions."""
    vars_ = _solution_vars(sols, columns)
    body = sols.select(F.concat_ws(
        "\t", *[_tsv_term(sols, v) for v in vars_]).alias("line"))
    return _with_header(sols.sparkSession,
                        "\t".join("?" + v for v in vars_), body)


def _json_binding(sols: DataFrame, v: str):
    is_bnode, is_iri, lang, dt = _term_kind(sols, v)
    col = F.col(v).cast("string")
    typ = (F.when(is_bnode, F.lit("bnode"))
           .when(is_iri, F.lit("uri")).otherwise(F.lit("literal")))
    value = F.when(is_bnode, F.substring(col, 3, 2_147_483_000)) \
        .otherwise(col)
    extra = (F.when(is_bnode | is_iri, F.lit(""))
             .when(lang.isNotNull(),
                   F.concat(F.lit(', "xml:lang": '), _json_str(lang)))
             .when(dt.isNotNull(),
                   F.concat(F.lit(', "datatype": '), _json_str(dt)))
             .otherwise(F.lit("")))
    entry = F.concat(F.lit(f'"{v}": {{"type": "'), typ,
                     F.lit('", "value": '), _json_str(value), extra,
                     F.lit("}"))
    return F.when(col.isNotNull(), entry)  # unbound -> omitted


def to_results_json_bindings(sols: DataFrame, columns=None) -> DataFrame:
    """Solutions -> one JSON binding object per ``line`` row (the
    ``results.bindings`` array elements of the SPARQL 1.1 JSON results
    format); unbound variables are omitted from the object per spec.
    Pair with :func:`results_json_doc` for the full document."""
    vars_ = _solution_vars(sols, columns)
    entries = [_json_binding(sols, v) for v in vars_]
    return sols.select(F.concat(
        F.lit("{"), F.concat_ws(", ", *entries), F.lit("}"))
        .alias("line"))


def to_results_xml_bindings(sols: DataFrame, columns=None) -> DataFrame:
    """Solutions -> one ``<result>..</result>`` element per ``line``
    row (the SPARQL Query Results XML Format body); unbound variables
    omit their ``<binding>`` element."""
    vars_ = _solution_vars(sols, columns)
    parts = []
    for v in vars_:
        is_bnode, is_iri, lang, dt = _term_kind(sols, v)
        col = F.col(v).cast("string")
        text = _xml_escape_text(col)
        term = (F.when(is_bnode, F.concat(
                    F.lit("<bnode>"),
                    _xml_escape_text(F.substring(col, 3, 2_147_483_000)),
                    F.lit("</bnode>")))
                .when(is_iri, F.concat(F.lit("<uri>"), text,
                                       F.lit("</uri>")))
                .when(lang.isNotNull(), F.concat(
                    F.lit('<literal xml:lang="'), _xml_escape_attr(lang),
                    F.lit('">'), text, F.lit("</literal>")))
                .when(dt.isNotNull(), F.concat(
                    F.lit('<literal datatype="'), _xml_escape_attr(dt),
                    F.lit('">'), text, F.lit("</literal>")))
                .otherwise(F.concat(F.lit("<literal>"), text,
                                    F.lit("</literal>"))))
        parts.append(F.when(col.isNotNull(), F.concat(
            F.lit(f'<binding name="{v}">'), term, F.lit("</binding>"))))
    return sols.select(F.concat(
        F.lit("<result>"), F.concat_ws("", *parts), F.lit("</result>"))
        .alias("line"))


def _collect_capped(lines: DataFrame, max_rows: int) -> list[str]:
    rows = [r[0] for r in lines.limit(max_rows + 1).collect()]
    if len(rows) > max_rows:
        raise ValueError(
            f"result exceeds max_rows={max_rows}; raise the cap or "
            "keep the distributed line-frame form (to_results_*)")
    return rows


def results_json_doc(sols: DataFrame, columns=None,
                     max_rows: int = 100_000) -> str:
    """The full SPARQL 1.1 JSON results document (rdflib
    ``Result.serialize(format="json")`` twin).  Driver-side framing
    around the distributed binding lines — raises past ``max_rows``
    instead of truncating."""
    vars_ = _solution_vars(sols, columns)
    body = _collect_capped(
        to_results_json_bindings(sols, vars_), max_rows)
    head = ", ".join(f'"{v}"' for v in vars_)
    return ('{"head": {"vars": [' + head + ']}, '
            '"results": {"bindings": [' + ", ".join(body) + "]}}")


def results_xml_doc(sols: DataFrame, columns=None,
                    max_rows: int = 100_000) -> str:
    """The full SPARQL Query Results XML document (rdflib
    ``Result.serialize(format="xml")`` twin); raises past
    ``max_rows`` instead of truncating."""
    vars_ = _solution_vars(sols, columns)
    body = _collect_capped(
        to_results_xml_bindings(sols, vars_), max_rows)
    head = "".join(f'<variable name="{v}"/>' for v in vars_)
    return ('<?xml version="1.0"?>\n'
            '<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
            f"<head>{head}</head><results>" + "".join(body)
            + "</results></sparql>")
