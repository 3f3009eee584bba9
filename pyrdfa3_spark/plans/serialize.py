"""Serializer sinks (S6): N-Triples, Turtle, JSON-LD, RDF/XML export.

The reference serializes through rdflib (turtle/nt/xml/json-ld,
/root/reference/pyRdfa/__init__.py:722-725 and pyRdfaExtras/serializers).
The Spark-native sink is the partitioned triple table (plans/extract.py
``write_triples``); this module adds the interchange-text path as pure
Column algebra — one ``line`` column, writable with ``df.write.text``.
Escaping follows the N-Triples grammar (ECHAR: \\\\ \\" \\n \\r \\t).

The ``orderBy`` at the tail of each formatter is a deliberate global
sort for deterministic text output; these sinks run on dimension-sized
interchange graphs (the whole frame is about to be coalesced into one
text file anyway).  For 100 TB graph exports use ``write_triples`` —
partitioned parquet with in-partition sorting — not a text serializer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _nt_escape(col):
    # order matters: backslash first
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    return out


def _nt_terms():
    """(subj, pred, obj) N-Triples term expressions — shared by the
    N-Triples and N-Quads statement assemblers."""
    subj = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
        .otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    pred = F.concat(F.lit("<"), F.col("pred"), F.lit(">"))
    lit_core = F.concat(F.lit('"'), _nt_escape(F.col("obj")), F.lit('"'))
    literal = F.when(F.col("obj_lang").isNotNull(),
                     F.concat(lit_core, F.lit("@"), F.col("obj_lang"))) \
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(lit_core, F.lit("^^<"), F.col("obj_datatype"),
                       F.lit(">"))) \
        .otherwise(lit_core)
    obj = F.when(~F.col("obj_is_iri"), literal) \
        .when(F.col("obj").startswith("_:"), F.col("obj")) \
        .otherwise(F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
    return subj, pred, obj


def to_ntriples(triples: DataFrame) -> DataFrame:
    """triples(subj, pred, obj, obj_is_iri, obj_lang, obj_datatype) ->
    one-column DataFrame ``line`` of N-Triples statements."""
    subj, pred, obj = _nt_terms()
    return triples.select(
        F.concat_ws(" ", subj, pred, obj, F.lit(".")).alias("line"))


def to_nquads(quads: DataFrame, graph_col: str = "graph") -> DataFrame:
    """Named-graph quad lines: the N-Triples terms plus a graph label
    (IRI or bnode) — the provenance-preserving interchange format for a
    lake whose extraction tags every triple with its source
    conversation/turn.  Same single narrow projection as N-Triples."""
    subj, pred, obj = _nt_terms()
    g = F.when(F.col(graph_col).startswith("_:"), F.col(graph_col)) \
        .otherwise(F.concat(F.lit("<"), F.col(graph_col), F.lit(">")))
    return quads.select(
        F.concat_ws(" ", subj, pred, obj, g, F.lit(".")).alias("line"))


def to_trig(quads: DataFrame, graph_col: str = "graph") -> DataFrame:
    """TriG export: each named graph becomes one ``<g> { ... }`` block
    holding its statements (sorted in-group), default-graph rows (NULL
    graph term) serialize as bare top-level statements.  Statements
    use the N-Triples term algebra — TriG's grammar is a Turtle
    superset, so the blocks parse under any TriG reader.

    Scale shape: one groupBy(graph) shuffle for the named rows (the
    same per-graph grouping any TriG writer needs; graphs are
    conversation/turn-sized in the lake), default rows stay a narrow
    projection unioned in."""
    subj, pred, obj = _nt_terms()
    stmt = F.concat_ws(" ", subj, pred, obj, F.lit("."))
    named = (quads.filter(F.col(graph_col).isNotNull())
             .select(F.col(graph_col).alias("g"), stmt.alias("stmt"))
             .groupBy("g")
             .agg(F.array_sort(F.collect_list("stmt")).alias("stmts")))
    gterm = F.when(F.col("g").startswith("_:"), F.col("g")) \
        .otherwise(F.concat(F.lit("<"), F.col("g"), F.lit(">")))
    block = F.concat(gterm, F.lit(" {\n  "),
                     F.concat_ws("\n  ", "stmts"), F.lit("\n}"))
    default = (quads.filter(F.col(graph_col).isNull())
               .select(stmt.alias("block")))
    return (named.select(block.alias("block"))
            .unionByName(default).orderBy("block"))


# --------------------------------------------------------------------------
# Turtle export: subject-grouped, prefix-compressed.  Unlike N-Triples
# this needs per-subject grouping — groupBy(subj) + in-group sort, then
# string assembly per group; still pure Column algebra (collect_list of
# structs + aggregate), no Python in the path.
# --------------------------------------------------------------------------

TURTLE_DEFAULT_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "schema": "http://schema.org/",
    "dc": "http://purl.org/dc/terms/",
    "foaf": "http://xmlns.com/foaf/0.1/",
}


def _pname_or_iri(col, prefixes: dict[str, str]):
    """Compress an IRI to prefix:local when a prefix matches and the
    local part is PN-safe, else <iri>."""
    out = F.concat(F.lit("<"), col, F.lit(">"))
    for pr, ns in prefixes.items():
        local = F.substring(col, len(ns) + 1, 10_000)
        ok = col.startswith(ns) & local.rlike(r"^[A-Za-z0-9_.\-]*$") \
            & ~local.endswith(".")
        out = F.when(ok, F.concat(F.lit(pr + ":"), local)).otherwise(out)
    return out


def to_turtle(triples: DataFrame,
              prefixes: dict[str, str] | None = None) -> DataFrame:
    """triples -> one row per subject with a ``block`` column of turtle
    text; prepend :func:`turtle_header` when writing."""
    prefixes = TURTLE_DEFAULT_PREFIXES if prefixes is None else prefixes
    subj = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
        .otherwise(_pname_or_iri(F.col("subj"), prefixes))
    pred = F.when(F.col("pred") == TURTLE_DEFAULT_PREFIXES["rdf"] + "type",
                  F.lit("a")) \
        .otherwise(_pname_or_iri(F.col("pred"), prefixes))
    lit_core = F.concat(F.lit('"'), _nt_escape(F.col("obj")), F.lit('"'))
    literal = F.when(F.col("obj_lang").isNotNull(),
                     F.concat(lit_core, F.lit("@"), F.col("obj_lang"))) \
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(lit_core, F.lit("^^"),
                       _pname_or_iri(F.col("obj_datatype"), prefixes))) \
        .otherwise(lit_core)
    obj = F.when(~F.col("obj_is_iri"), literal) \
        .when(F.col("obj").startswith("_:"), F.col("obj")) \
        .otherwise(_pname_or_iri(F.col("obj"), prefixes))
    po = F.concat(pred, F.lit(" "), obj)
    grouped = (triples
               .select(subj.alias("s"), po.alias("po"))
               .groupBy("s")
               .agg(F.array_sort(F.collect_list("po")).alias("pos")))
    block = F.concat(F.col("s"), F.lit(" "),
                     F.concat_ws(" ;\n    ", F.col("pos")), F.lit(" ."))
    return grouped.select(block.alias("block")).orderBy("block")


def turtle_header(prefixes: dict[str, str] | None = None) -> str:
    prefixes = TURTLE_DEFAULT_PREFIXES if prefixes is None else prefixes
    return "".join(f"@prefix {p}: <{ns}> .\n" for p, ns in
                   sorted(prefixes.items()))


# --------------------------------------------------------------------------
# JSON-LD export (reference: pyRdfaExtras/serializers json-ld output of
# pyRdfa/__init__.py:722-725).  One flat node object per subject per
# line ("JSON-LD lines"): {"@id": s, pred: [{"@value"|"@id": ...}], ...}.
#
# CONTRACT: the default emits *expanded-form* node objects with full
# predicate IRIs as keys — a lake-interchange format that any JSON-LD
# processor accepts.  Passing ``context`` (prefix -> namespace) emits
# @context-COMPACTED node lines instead (CURIE keys, rdf:type folded to
# "@type", plain literals as bare strings), matching what the
# reference's rdflib json-ld plugin produces for that context; pair the
# lines with :func:`jsonld_context_line`.  Context *inference* is a
# separate whole-document census pass (:func:`infer_jsonld_context`);
# compaction itself stays per-row local against the (inferred or
# pinned) broadcast prefix map, so it distributes freely.
# Term objects are built as typed structs and serialized with ``to_json``
# (null fields dropped), so literal escaping is Spark's own JSON writer;
# only subject/predicate key strings are escaped by hand.
# --------------------------------------------------------------------------


def _json_str(col):
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    # JSON (RFC 8259) forbids RAW control characters in strings — the
    # remaining C0 controls must go out as \uXXXX or the emitted
    # document is unparseable by strict parsers
    for cp in (*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20)):
        out = F.replace(out, F.lit(chr(cp)), F.lit(f"\\u{cp:04x}"))
    return F.concat(F.lit('"'), out, F.lit('"'))


def _compact_iri(col, context: dict[str, str]):
    """IRI -> CURIE string under ``context`` when a namespace matches
    and the local part is term-safe, else the IRI unchanged.  Longest
    namespace wins (checked last = outermost ``when``) so nested
    namespaces compact deterministically."""
    out = col
    for pr, ns in sorted(context.items(), key=lambda kv: len(kv[1])):
        local = F.substring(col, len(ns) + 1, 10_000)
        ok = col.startswith(ns) & local.rlike(r"^[A-Za-z0-9_.\-]*$")
        out = F.when(ok, F.concat(F.lit(pr + ":"), local)).otherwise(out)
    return out


def infer_jsonld_context(triples: DataFrame,
                         seed: dict[str, str] | None = None,
                         max_prefixes: int = 50,
                         min_uses: int = 1) -> dict[str, str]:
    """Derive a compaction ``@context`` (prefix -> namespace) from the
    graph's own namespace census — the context *inference* the
    reference gets from rdflib's json-ld plugin (closing the one
    documented serializer gap; cf. pyRdfa/__init__.py:722-725 handing
    the graph to the plugin serializer).

    Census: every IRI position (subject, predicate, IRI object,
    datatype) splits at its LAST ``# / :`` delimiter into (namespace,
    term-safe local part); namespaces are counted distributively (one
    map-side-partial groupBy) and the top ``max_prefixes`` by usage
    (ties broken by namespace, so the result is deterministic) are
    collected — a bounded dim, never fact-table cardinality.

    Naming: a namespace in ``seed`` (default: the W3C RDFa 1.1
    initial-context ``bind()`` table, ``functions/initial_context.py``)
    keeps its published prefix (shortest, then alphabetical, when
    several seed prefixes share one namespace — ``dc`` over
    ``dcterms``); other namespaces take their last identifier-like
    path segment (``.../ns/prov#`` -> ``prov``, ``urn:p:`` -> ``p``;
    the scheme segment is never used), with a numeric suffix on
    collision and ``ns`` as the fallback.  The result feeds
    :func:`to_jsonld`'s ``context=`` and re-parses via
    ``sources/jsonld.py::parse_jsonld_compact`` — inference, emit and
    re-parse agree on the same prefix map by construction."""
    import re as _re

    from pyrdfa3_spark.functions.initial_context import INITIAL_PREFIXES

    if seed is None:
        seed = INITIAL_PREFIXES
    iris = (triples.filter(~F.col("subj").startswith("_:"))
            .select(F.col("subj").alias("iri"))
            .unionByName(triples.select(F.col("pred").alias("iri"))))
    if "obj_is_iri" in triples.columns:
        iris = iris.unionByName(
            triples.filter(F.col("obj_is_iri"))
            .select(F.col("obj").alias("iri")))
    if "obj_datatype" in triples.columns:
        iris = iris.unionByName(
            triples.filter(F.col("obj_datatype").isNotNull())
            .select(F.col("obj_datatype").alias("iri")))
    # greedy .* -> the LAST delimiter; empty match = no term-safe
    # local part, so the IRI cannot compact and casts no census vote
    ns_col = F.regexp_extract(
        F.col("iri"), r"^(.*[#/:])[A-Za-z0-9_.\-]+$", 1)
    census = (iris.select(ns_col.alias("ns"))
              .filter(F.col("ns") != "")
              .groupBy("ns").agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") >= min_uses)
              .orderBy(F.col("n").desc(), F.col("ns"))
              .limit(max_prefixes).collect())
    by_ns: dict[str, str] = {}
    for pr, ns in seed.items():
        cur = by_ns.get(ns)
        if cur is None or (len(pr), pr) < (len(cur), cur):
            by_ns[ns] = pr
    context: dict[str, str] = {}
    taken: set[str] = set()
    for row in census:
        ns = row["ns"]
        name = by_ns.get(ns)
        if name is None:
            segs = [s for s in _re.split(r"[#/:]", ns) if s]
            cands = [s for s in (segs[1:] if len(segs) > 1 else segs)
                     if _re.match(r"^[A-Za-z][A-Za-z0-9_\-]*$", s)]
            name = cands[-1] if cands else "ns"
        base, k = name, 2
        while name in taken:
            name, k = f"{base}{k}", k + 1
        taken.add(name)
        context[name] = ns
    return context


def jsonld_context_line(context: dict[str, str]) -> str:
    """The shared ``{"@context": {...}}`` object (sorted keys) that
    pairs with compacted node lines — write it as the sidecar/first
    line of a compacted JSON-LD-lines dataset."""
    import json as _json

    return _json.dumps({"@context": dict(sorted(context.items()))},
                       separators=(",", ":"))


def _to_jsonld_compact(triples: DataFrame,
                       context: dict[str, str]) -> DataFrame:
    """Compacted node lines: CURIE keys, ``rdf:type`` folded to
    ``"@type"`` with compacted-IRI string values, IRI objects as
    ``{"@id": curie}``, plain literals as bare JSON strings,
    lang/typed literals as alphabetically-keyed term objects.  All
    string assembly — same two-shuffle shape as the expanded form."""
    from pyrdfa3_spark.functions.constants import RDF_TYPE

    is_type = (F.col("pred") == RDF_TYPE) & F.col("obj_is_iri")
    rendered = (
        F.when(is_type, _json_str(_compact_iri(F.col("obj"), context)))
        .when(F.col("obj_is_iri"),
              F.concat(F.lit('{"@id":'),
                       _json_str(_compact_iri(F.col("obj"), context)),
                       F.lit("}")))
        .when(F.col("obj_lang").isNotNull(),
              F.concat(F.lit('{"@language":'), _json_str(F.col("obj_lang")),
                       F.lit(',"@value":'), _json_str(F.col("obj")),
                       F.lit("}")))
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(F.lit('{"@type":'),
                       _json_str(_compact_iri(F.col("obj_datatype"),
                                              context)),
                       F.lit(',"@value":'), _json_str(F.col("obj")),
                       F.lit("}")))
        .otherwise(_json_str(F.col("obj"))))
    key = F.when(is_type, F.lit('"@type"')) \
        .otherwise(_json_str(_compact_iri(F.col("pred"), context)))
    subj = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
        .otherwise(_compact_iri(F.col("subj"), context))
    by_key = (triples
              .select(subj.alias("s"), key.alias("key"),
                      rendered.alias("term"))
              .groupBy("s", "key")
              .agg(F.array_sort(F.collect_list("term")).alias("terms")))
    entry = F.concat(F.col("key"), F.lit(":["),
                     F.concat_ws(",", F.col("terms")), F.lit("]"))
    node = (by_key
            .select("s", entry.alias("entry"))
            .groupBy("s")
            .agg(F.array_sort(F.collect_list("entry")).alias("entries")))
    jsonld = F.concat(F.lit('{"@id":'), _json_str(F.col("s")),
                      F.lit(","), F.concat_ws(",", F.col("entries")),
                      F.lit("}"))
    return node.select(jsonld.alias("jsonld")).orderBy("jsonld")


def to_jsonld(triples: DataFrame,
              context: dict[str, str] | None = None) -> DataFrame:
    """triples -> one row per subject, column ``jsonld`` holding a flat
    JSON-LD node object (expanded form; bnodes keep ``_:`` labels).
    With ``context``, nodes are @context-compacted instead (see
    :func:`_to_jsonld_compact`)."""
    if context is not None:
        return _to_jsonld_compact(triples, context)
    term = F.struct(
        F.when(F.col("obj_is_iri"), F.col("obj")).alias("@id"),
        F.when(~F.col("obj_is_iri"), F.col("obj")).alias("@value"),
        F.col("obj_lang").alias("@language"),
        F.when(~F.col("obj_is_iri"), F.col("obj_datatype")).alias("@type"),
    )
    by_pred = (triples
               .select(F.col("subj"), F.col("pred"), term.alias("term"))
               .groupBy("subj", "pred")
               .agg(F.array_sort(F.collect_list("term")).alias("terms")))
    entry = F.concat(_json_str(F.col("pred")), F.lit(":"),
                     F.to_json(F.col("terms")))
    node = (by_pred
            .select("subj", entry.alias("entry"))
            .groupBy("subj")
            .agg(F.array_sort(F.collect_list("entry")).alias("entries")))
    jsonld = F.concat(F.lit('{"@id":'), _json_str(F.col("subj")),
                      F.lit(","), F.concat_ws(",", F.col("entries")),
                      F.lit("}"))
    return node.select(jsonld.alias("jsonld")).orderBy("jsonld")


# --------------------------------------------------------------------------
# RDF/XML export (reference output formats 'xml'/'pretty-xml').  One
# rdf:Description block per subject; each property element carries its
# own xmlns declaration so no global prefix table is needed.  Like
# rdflib's serializer, predicates whose IRI does not end in an XML-name
# local part cannot be expressed in RDF/XML — those rows are dropped
# (count them with ``rdfxml_unserializable`` before exporting).  Rows
# whose terms carry characters XML 1.0 forbids outright (C0 controls
# other than tab/LF/CR — unrepresentable even as character references)
# are dropped under the same contract: one poisoned literal must not
# invalidate the whole exported document.  Audit everything the export
# will drop with ``rdfxml_unserializable_rows``.
# --------------------------------------------------------------------------

_LOCALNAME_RE = r"([A-Za-z_][A-Za-z0-9_.\-]*)$"

# XML 1.0 Char excludes these outright; no escape can carry them
_XML_ILLEGAL_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"


def _xml_expressible(triples: DataFrame):
    """Boolean column: RDF/XML can carry this row at all."""
    ok = F.regexp_extract("pred", _LOCALNAME_RE, 1) != ""
    for c in ("subj", "pred", "obj"):
        ok = ok & ~F.col(c).rlike(_XML_ILLEGAL_RE)
    return ok


def _xml_escape_text(col):
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    # a raw CR would be normalized to LF by every conforming XML
    # parser (XML 1.0 §2.11) — only a character reference survives
    return F.replace(out, F.lit("\r"), F.lit("&#13;"))


def _xml_escape_attr(col):
    out = F.replace(_xml_escape_text(col), F.lit('"'), F.lit("&quot;"))
    # attribute-value normalization (§3.3.3) maps raw LF/tab to spaces
    out = F.replace(out, F.lit("\n"), F.lit("&#10;"))
    return F.replace(out, F.lit("\t"), F.lit("&#9;"))


def rdfxml_unserializable(triples: DataFrame) -> DataFrame:
    """Predicates RDF/XML cannot carry (no XML-name local part)."""
    return (triples
            .filter(F.regexp_extract("pred", _LOCALNAME_RE, 1) == "")
            .select("pred").distinct())


def rdfxml_unserializable_rows(triples: DataFrame) -> DataFrame:
    """Every row :func:`to_rdfxml` will drop — inexpressible predicate
    OR a term carrying an XML-1.0-illegal character."""
    return triples.filter(~_xml_expressible(triples))


def to_rdfxml(triples: DataFrame) -> DataFrame:
    """triples -> one row per subject, column ``block`` holding an
    <rdf:Description> element; wrap with :func:`rdfxml_header` /
    :func:`rdfxml_footer` when writing."""
    local = F.regexp_extract("pred", _LOCALNAME_RE, 1)
    ns = F.expr(f"substring(pred, 1, length(pred) - "
                f"length(regexp_extract(pred, '{_LOCALNAME_RE}', 1)))")
    df = triples.filter(_xml_expressible(triples))
    is_bnode_obj = F.col("obj").startswith("_:")
    obj_attr = F.when(
        ~F.col("obj_is_iri"),
        F.when(F.col("obj_lang").isNotNull(),
               F.concat(F.lit(' xml:lang="'),
                        _xml_escape_attr(F.col("obj_lang")), F.lit('"')))
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(F.lit(' rdf:datatype="'),
                       _xml_escape_attr(F.col("obj_datatype")), F.lit('"')))
        .otherwise(F.lit("")))
    prop_open = F.concat(F.lit("p:"), local, F.lit(' xmlns:p="'),
                         _xml_escape_attr(ns), F.lit('"'))
    prop = F.when(
        F.col("obj_is_iri") & is_bnode_obj,
        F.concat(F.lit("    <"), prop_open, F.lit(' rdf:nodeID="'),
                 F.substring(F.col("obj"), 3, 10_000), F.lit('"/>'))) \
        .when(
        F.col("obj_is_iri"),
        F.concat(F.lit("    <"), prop_open, F.lit(' rdf:resource="'),
                 _xml_escape_attr(F.col("obj")), F.lit('"/>'))) \
        .otherwise(
        F.concat(F.lit("    <"), prop_open, obj_attr, F.lit(">"),
                 _xml_escape_text(F.col("obj")),
                 F.lit("</p:"), local, F.lit(">")))
    subj_attr = F.when(
        F.col("subj").startswith("_:"),
        F.concat(F.lit('rdf:nodeID="'),
                 F.substring(F.col("subj"), 3, 10_000), F.lit('"'))) \
        .otherwise(F.concat(F.lit('rdf:about="'),
                            _xml_escape_attr(F.col("subj")), F.lit('"')))
    grouped = (df
               .select(subj_attr.alias("s"), prop.alias("p"))
               .groupBy("s")
               .agg(F.array_sort(F.collect_list("p")).alias("props")))
    block = F.concat(F.lit("  <rdf:Description "), F.col("s"), F.lit(">\n"),
                     F.concat_ws("\n", F.col("props")),
                     F.lit("\n  </rdf:Description>"))
    return grouped.select(block.alias("block")).orderBy("block")


RDFXML_HEADER = ('<?xml version="1.0" encoding="utf-8"?>\n<rdf:RDF '
                 'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">')
RDFXML_FOOTER = "</rdf:RDF>"
