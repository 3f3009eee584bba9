"""Serializer sinks: N-Triples escaping and Turtle round-trip."""

from __future__ import annotations

from pyrdfa3_spark.functions.turtle import parse_turtle
from pyrdfa3_spark.operators.rdfa_engine import Literal
from pyrdfa3_spark.plans.serialize import (
    to_ntriples, to_turtle, turtle_header,
)

from tests.graph_compare import diff, isomorphic

ROWS = [
    ("http://schema.org/Person", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://www.w3.org/2000/01/rdf-schema#Class", True, None, None),
    ("http://ex.org/s", "http://schema.org/name", 'A "quoted"\nname',
     False, "en", None),
    ("http://ex.org/s", "http://schema.org/age", "42", False, None,
     "http://www.w3.org/2001/XMLSchema#integer"),
    ("_:b1", "http://schema.org/knows", "http://ex.org/s", True, None, None),
    ("http://ex.org/s", "http://schema.org/tag", "back\\slash",
     False, None, None),
]
COLS = ["subj", "pred", "obj", "obj_is_iri", "obj_lang", "obj_datatype"]


def _expected_triples():
    out = []
    for s, p, o, is_iri, lang, dt in ROWS:
        out.append((s, p, o if is_iri else Literal(o, lang, dt)))
    return out


def test_ntriples_escaping(spark):
    df = spark.createDataFrame(ROWS, COLS)
    lines = {r["line"] for r in to_ntriples(df).collect()}
    assert ('<http://ex.org/s> <http://schema.org/name> '
            '"A \\"quoted\\"\\nname"@en .') in lines
    assert ('<http://ex.org/s> <http://schema.org/tag> '
            '"back\\\\slash" .') in lines


def test_turtle_roundtrip(spark):
    df = spark.createDataFrame(ROWS, COLS)
    blocks = [r["block"] for r in to_turtle(df).collect()]
    text = turtle_header() + "\n".join(blocks)
    assert "schema:Person a rdfs:Class" in text
    assert '"42"^^xsd:integer' in text
    reparsed = parse_turtle(text)
    assert isomorphic(reparsed, _expected_triples()), \
        diff(reparsed, _expected_triples()) + "\n---\n" + text


def test_jsonld_roundtrip(spark):
    import json

    from pyrdfa3_spark.plans.serialize import to_jsonld

    df = spark.createDataFrame(ROWS, COLS)
    lines = [r["jsonld"] for r in to_jsonld(df).collect()]
    rebuilt = []
    for line in lines:
        node = json.loads(line)  # every line must be valid JSON
        s = node.pop("@id")
        for pred, terms in node.items():
            for t in terms:
                if "@id" in t:
                    rebuilt.append((s, pred, t["@id"]))
                else:
                    rebuilt.append((s, pred, Literal(
                        t["@value"], t.get("@language"), t.get("@type"))))
    assert isomorphic(rebuilt, _expected_triples()), \
        diff(rebuilt, _expected_triples()) + "\n---\n" + "\n".join(lines)


def test_rdfxml_roundtrip(spark):
    import xml.dom.minidom as minidom

    from pyrdfa3_spark.plans.serialize import (
        RDFXML_FOOTER, RDFXML_HEADER, rdfxml_unserializable, to_rdfxml,
    )

    RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    df = spark.createDataFrame(ROWS, COLS)
    assert rdfxml_unserializable(df).count() == 0
    blocks = [r["block"] for r in to_rdfxml(df).collect()]
    doc = minidom.parseString(
        RDFXML_HEADER + "\n" + "\n".join(blocks) + RDFXML_FOOTER)
    rebuilt = []
    for desc in doc.getElementsByTagNameNS(RDF_NS, "Description"):
        s = desc.getAttributeNS(RDF_NS, "about") or \
            "_:" + desc.getAttributeNS(RDF_NS, "nodeID")
        for el in desc.childNodes:
            if el.nodeType != el.ELEMENT_NODE:
                continue
            pred = el.namespaceURI + el.localName
            if el.hasAttributeNS(RDF_NS, "resource"):
                rebuilt.append((s, pred, el.getAttributeNS(RDF_NS, "resource")))
            elif el.hasAttributeNS(RDF_NS, "nodeID"):
                rebuilt.append((s, pred,
                                "_:" + el.getAttributeNS(RDF_NS, "nodeID")))
            else:
                text = "".join(c.data for c in el.childNodes
                               if c.nodeType == c.TEXT_NODE)
                lang = el.getAttribute("xml:lang") or None
                dt = el.getAttributeNS(RDF_NS, "datatype") or None
                rebuilt.append((s, pred, Literal(text, lang, dt)))
    assert isomorphic(rebuilt, _expected_triples()), \
        diff(rebuilt, _expected_triples()) + "\n---\n" + "\n".join(blocks)


def test_rdfxml_unserializable_predicate(spark):
    from pyrdfa3_spark.plans.serialize import rdfxml_unserializable, to_rdfxml

    rows = [("http://ex.org/s", "http://ex.org/p/", "v", False, None, None),
            ("http://ex.org/s", "http://ex.org/ok", "w", False, None, None)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean, "
              "obj_lang string, obj_datatype string")
    assert [r["pred"] for r in rdfxml_unserializable(df).collect()] == \
        ["http://ex.org/p/"]
    blocks = "\n".join(r["block"] for r in to_rdfxml(df).collect())
    assert "p:ok" in blocks and "http://ex.org/p/" not in blocks


def test_nquads_lines_extend_ntriples(spark):
    """Each N-Quads line is its N-Triples statement with the graph
    label spliced in before the terminating dot."""
    from pyspark.sql import functions as F

    from pyrdfa3_spark.plans.serialize import to_nquads, to_ntriples

    rows = [
        ("urn:s", "urn:p", "plain \"text\"\n", False, "en", None, "urn:g1"),
        ("_:b0", "urn:p", "urn:o", True, None, None, "_:g2"),
        ("urn:s", "urn:p", "5", False, None,
         "http://www.w3.org/2001/XMLSchema#integer", "urn:g1"),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_lang string, obj_datatype string, graph string")
    nt = [r["line"] for r in to_ntriples(df).collect()]
    nq = [r["line"] for r in to_nquads(df).collect()]
    for t_line, q_line, row in zip(nt, nq, rows):
        gterm = row[6] if row[6].startswith("_:") else f"<{row[6]}>"
        assert q_line == t_line[:-1] + gterm + " ."


def test_jsonld_compact(spark):
    import json

    from pyrdfa3_spark.plans.serialize import (
        jsonld_context_line, to_jsonld,
    )

    ctx = {"schema": "http://schema.org/",
           "xsd": "http://www.w3.org/2001/XMLSchema#",
           "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
           "ex": "http://ex.org/"}
    df = spark.createDataFrame(ROWS, COLS)
    nodes = {json.loads(r["jsonld"])["@id"]: json.loads(r["jsonld"])
             for r in to_jsonld(df, context=ctx).collect()}

    # rdf:type folds to @type with compacted-IRI string values
    assert nodes["schema:Person"]["@type"] == ["rdfs:Class"]
    s = nodes["ex:s"]
    assert s["schema:age"] == [{"@type": "xsd:integer", "@value": "42"}]
    assert s["schema:name"] == [{"@language": "en",
                                 "@value": 'A "quoted"\nname'}]
    # plain literal compacts to a bare string; IRI object to {"@id"}
    assert s["schema:tag"] == ["back\\slash"]
    assert nodes["_:b1"]["schema:knows"] == [{"@id": "ex:s"}]

    hdr = json.loads(jsonld_context_line(ctx))
    assert hdr["@context"]["schema"] == "http://schema.org/"


def test_jsonld_compact_longest_prefix_wins(spark):
    import json

    from pyrdfa3_spark.plans.serialize import to_jsonld

    ctx = {"v": "urn:v:", "vx": "urn:v:x/"}
    rows = [("urn:v:x/a", "urn:v:p", "urn:v:x/b", True, None, None)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean, "
              "obj_lang string, obj_datatype string")
    node = json.loads(to_jsonld(df, context=ctx).collect()[0]["jsonld"])
    assert node["@id"] == "vx:a"
    assert node["v:p"] == [{"@id": "vx:b"}]


def test_ntriples_reader_roundtrip(spark):
    """parse_ntriples(to_ntriples(g)) is the identity on the triple
    set, across every term shape (IRI/bnode subjects and objects,
    plain/lang/typed literals, ECHAR escapes)."""
    from pyrdfa3_spark.sources.ntriples import parse_ntriples

    df = spark.createDataFrame(ROWS, COLS)
    back = parse_ntriples(to_ntriples(df))
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)


def test_nquads_reader_roundtrip_and_errors(spark):
    from pyrdfa3_spark.plans.serialize import to_nquads
    from pyrdfa3_spark.sources.ntriples import parse_errors, parse_nquads

    quads = [r + ("urn:graph:g1" if i % 2 else "_:g0",)
             for i, r in enumerate(ROWS)]
    df = spark.createDataFrame(quads, COLS + ["graph"])
    back = parse_nquads(to_nquads(df))
    assert sorted(tuple(r) for r in back.collect()) == sorted(quads)

    junk = spark.createDataFrame(
        [("# comment",), ("",), ("not a statement",),
         ('<urn:s> <urn:p> "unclosed .',),
         ('<urn:s> <urn:p> "fine" .',)], ["line"])
    assert parse_nquads(junk).count() == 1
    errs = {r["line"] for r in parse_errors(junk).collect()}
    assert errs == {"not a statement", '<urn:s> <urn:p> "unclosed .'}


def test_ntriples_reader_from_files(spark, tmp_path):
    """The to_ntriples -> read_ntriples loop through actual text
    files (split-parallel scan path)."""
    from pyrdfa3_spark.sources.ntriples import read_ntriples

    df = spark.createDataFrame(ROWS, COLS)
    path = str(tmp_path / "dump.nt")
    to_ntriples(df).write.text(path)
    back = read_ntriples(spark, path)
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)


def test_jsonld_reader_roundtrip(spark):
    """parse_jsonld(to_jsonld(g)) is the identity on the triple set,
    across every term shape (IRI/bnode subjects and objects,
    plain/lang/typed literals, JSON escapes)."""
    from pyrdfa3_spark.plans.serialize import to_jsonld
    from pyrdfa3_spark.sources.jsonld import parse_jsonld

    df = spark.createDataFrame(ROWS, COLS)
    back = parse_jsonld(to_jsonld(df))
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)


def test_jsonld_reader_errors_and_files(spark, tmp_path):
    from pyrdfa3_spark.plans.serialize import to_jsonld
    from pyrdfa3_spark.sources.jsonld import (
        parse_errors, parse_jsonld, read_jsonld,
    )

    junk = spark.createDataFrame(
        [("",), ("   ",), ("{broken",), ('{"no":"id"}',),
         ('{"@id":"urn:s","urn:p":[{"@value":"ok"}]}',)], ["jsonld"])
    good = parse_jsonld(junk).collect()
    assert [tuple(r) for r in good] == [
        ("urn:s", "urn:p", "ok", False, None, None)]
    errs = {r["line"] for r in parse_errors(junk).collect()}
    assert errs == {"{broken", '{"no":"id"}'}

    df = spark.createDataFrame(ROWS, COLS)
    path = str(tmp_path / "dump.jsonl")
    to_jsonld(df).write.text(path)
    back = read_jsonld(spark, path)
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)


def test_rdfdocs_reader_roundtrips(spark):
    """Per-document reader closes the Turtle and RDF/XML loops.  Bnode
    labels are parser-scoped (rewritten to _:d<doc>b<n>), so the
    bnode-bearing fixture is compared by graph isomorphism, the
    bnode-free subset by exact identity."""
    from pyrdfa3_spark.plans.serialize import (
        RDFXML_FOOTER, RDFXML_HEADER, to_rdfxml, to_turtle, turtle_header,
    )
    from pyrdfa3_spark.sources.rdfdocs import (
        parse_rdf_documents, triples_only,
    )

    df = spark.createDataFrame(ROWS, COLS)

    def one_doc(blocks, header, footer=""):
        from pyspark.sql import functions as F
        return blocks.select(
            F.lit(1).alias("doc_id"),
            F.concat(F.lit(header), F.col("block"),
                     F.lit(footer)).alias("text"))

    for fmt, docs in (
            ("turtle", one_doc(to_turtle(df), turtle_header())),
            ("rdfxml", one_doc(to_rdfxml(df), RDFXML_HEADER + "\n",
                               "\n" + RDFXML_FOOTER))):
        back = triples_only(parse_rdf_documents(docs, fmt=fmt))
        got = [(r.subj, r.pred,
                r.obj if r.obj_is_iri
                else Literal(r.obj, r.obj_lang, r.obj_datatype))
               for r in back.collect()]
        assert isomorphic(got, _expected_triples()), \
            f"{fmt}: " + diff(got, _expected_triples())


def test_rdfdocs_reader_error_rows(spark):
    """A document that fails to parse becomes ONE diagnostics row,
    never a task failure; cross-document bnode labels cannot collide."""
    from pyrdfa3_spark.sources.rdfdocs import (
        parse_errors, parse_rdf_documents, triples_only,
    )

    docs = spark.createDataFrame(
        [(1, "[] <urn:p> [] ."), (2, "[] <urn:p> [] ."),
         (3, "@prefix broken"), (4, "<u <v")], ["doc_id", "text"])
    parsed = parse_rdf_documents(docs, fmt="turtle")
    errs = parse_errors(parsed).collect()
    assert sorted(r.doc_id for r in errs) == [3, 4]
    good = triples_only(parsed).collect()
    labels = {r.subj for r in good} | {r.obj for r in good}
    assert len(good) == 2 and len(labels) == 4  # all four bnodes distinct

    xml_bad = spark.createDataFrame(
        [(1, "<notrdf/>"), (2, "<rdf:RDF xmlns:rdf="
          "\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\"/>")],
        ["doc_id", "text"])
    px = parse_rdf_documents(xml_bad, fmt="rdfxml")
    assert [r.doc_id for r in parse_errors(px).collect()] == [1]
    assert triples_only(px).count() == 0


def test_trig_blocks_and_default_graph(spark):
    """Named graphs become sorted { } blocks; NULL-graph rows are bare
    top-level statements (TriG default graph)."""
    from pyrdfa3_spark.plans.serialize import to_trig

    quads = [
        ("urn:s1", "urn:p", "v1", False, None, None, "urn:g1"),
        ("urn:s2", "urn:p", "urn:s1", True, None, None, "urn:g1"),
        ("_:b", "urn:p", "line1\nline2", False, "en", None, "_:gb"),
        ("urn:s3", "urn:p", "default", False, None, None, None),
    ]
    df = spark.createDataFrame(
        quads, "subj string, pred string, obj string, obj_is_iri boolean,"
        " obj_lang string, obj_datatype string, graph string")
    blocks = [r["block"] for r in to_trig(df).collect()]
    assert '<urn:s3> <urn:p> "default" .' in blocks
    g1 = next(b for b in blocks if b.startswith("<urn:g1>"))
    assert g1 == ('<urn:g1> {\n  <urn:s1> <urn:p> "v1" .\n'
                  '  <urn:s2> <urn:p> <urn:s1> .\n}')
    gb = next(b for b in blocks if b.startswith("_:gb"))
    assert gb == ('_:gb {\n  _:b <urn:p> "line1\\nline2"@en .\n}')
    assert len(blocks) == 3


def test_trig_reader_roundtrip_and_quads(spark):
    """parse_rdf_documents(fmt='trig') closes the TriG loop: named
    blocks come back with their graph term, bare statements with
    graph=None; bnode graphs/subjects rewrite doc-scoped."""
    from pyrdfa3_spark.functions.turtle import parse_trig
    from pyrdfa3_spark.plans.serialize import to_trig
    from pyrdfa3_spark.sources.rdfdocs import (
        parse_rdf_documents, triples_only,
    )
    from pyspark.sql import functions as F

    quads = [r + ("urn:graph:g1" if i % 2 else None,)
             for i, r in enumerate(ROWS)]
    df = spark.createDataFrame(
        quads, "subj string, pred string, obj string, obj_is_iri boolean,"
        " obj_lang string, obj_datatype string, graph string")
    docs = to_trig(df).agg(
        F.concat_ws("\n", F.collect_list("block")).alias("text")
    ).select(F.lit(1).alias("doc_id"), "text")
    back = triples_only(parse_rdf_documents(docs, fmt="trig"))
    got = [(r.subj, r.pred,
            r.obj if r.obj_is_iri
            else Literal(r.obj, r.obj_lang, r.obj_datatype), r.graph)
           for r in back.collect()]
    want = [(s, p, o if is_iri else Literal(o, lang, dt), g)
            for s, p, o, is_iri, lang, dt, g in quads]
    # bnode labels are reader-scoped; compare per-graph isomorphism of
    # the triple parts plus exact graph terms
    assert sorted(g or "" for *_, g in got) == \
        sorted(g or "" for *_, g in want)
    assert isomorphic([t[:3] for t in got], [t[:3] for t in want]), \
        diff([t[:3] for t in got], [t[:3] for t in want])
    # direct parser check: GRAPH keyword + pname labels + default graph
    qs = parse_trig("""@prefix ex: <http://ex.org/> .
        <urn:s0> ex:p "d" .
        GRAPH ex:g { <urn:s1> ex:p <urn:s2> }""")
    assert ("urn:s0", "http://ex.org/p") == qs[0][:2] and qs[0][3] is None
    assert qs[1] == ("urn:s1", "http://ex.org/p", "urn:s2",
                     "http://ex.org/g")


def test_rdfdocs_reader_never_fails_tasks_on_junk(spark):
    """Garbage documents of every shape become diagnostics rows, never
    task failures — the extraction UDF's fault-isolation rule applied
    to the readers."""
    from pyrdfa3_spark.sources.rdfdocs import parse_errors, parse_rdf_documents

    junk = [
        "", "   ", "\x00\x01\x02", "<", "<>" * 500, "@prefix", '"' * 99,
        "<urn:s> <urn:p>", "( ( ( (", "[ [ [", "}", "{", "a a a .",
        "<urn:s> <urn:p> <urn:o> .",  # one good doc
        "\\u0000 not turtle", "#" * 1000, "<urn:s> . <urn:p>",
        "[] .",  # ANON subject needs predicates (not a bnode list)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(junk)], ["doc_id", "text"])
    for fmt in ("turtle", "rdfxml", "trig"):
        parsed = parse_rdf_documents(docs, fmt=fmt)
        n_err = parse_errors(parsed).count()  # must not raise
        assert n_err >= len(junk) - 4, (fmt, n_err)


def test_jsonld_compact_roundtrip_and_errors(spark):
    """parse_jsonld_compact inverts to_jsonld(context=...) exactly —
    including the trap where a PLAIN literal's text looks like a term
    object (the variant token type disambiguates) — and routes junk to
    parse_errors_compact instead of misparsing."""
    from pyrdfa3_spark.plans.serialize import (jsonld_context_line,
                                               to_jsonld)
    from pyrdfa3_spark.sources.jsonld import (parse_errors_compact,
                                              parse_jsonld_compact)

    ctx = {"p": "urn:p:", "n": "urn:nation:",
           "xsd": "http://www.w3.org/2001/XMLSchema#"}
    rows = [
        ("urn:nation:N1", "urn:p:name", 'x says "hi"\n', False, "en",
         None),
        ("urn:nation:N1", "urn:p:key", "1", False, None,
         "http://www.w3.org/2001/XMLSchema#integer"),
        ("_:b1", "urn:p:in", "urn:nation:N2", True, None, None),
        ("urn:nation:N2",
         "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "urn:p:T", True, None, None),
        ("urn:nation:N2", "urn:p:plain", '{"@value":"fake"}', False,
         None, None),
        ("urn:other:o", "urn:p:plain", "hello", False, None, None),
    ]
    g = spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
              "obj_is_iri boolean, obj_lang string, obj_datatype string")
    side = spark.createDataFrame([(jsonld_context_line(ctx),)],
                                 ["jsonld"])
    lines = side.unionByName(to_jsonld(g, context=ctx))
    back = parse_jsonld_compact(lines, ctx)
    assert sorted(map(tuple, back.collect())) == sorted(rows)
    assert parse_errors_compact(lines).count() == 0

    junk = spark.createDataFrame(
        [("",), ("   ",), ("not json",), ('{"no":"id"}',),
         ('{"@context":{"p":"urn:p:"}}',),  # sidecar: skipped, not err
         ('{"@id":"ok","p:x":["v"]}',)],
        ["jsonld"])
    errs = parse_errors_compact(junk)
    assert sorted(r["line"] for r in errs.collect()) == [
        "not json", '{"no":"id"}']
    assert parse_jsonld_compact(junk, {"p": "urn:p:"}).count() == 1


def test_adversarial_literal_roundtrips(spark):
    """Escape-corner fuzz pinned: raw NUL (the old unescape sentinel),
    form feed (a str.splitlines boundary), CR (XML parsers normalize
    raw CR to LF), trailing/double backslashes, astral unicode.  Every
    format either round-trips the literal exactly or — RDF/XML on
    XML-1.0-illegal characters — drops the row into the documented
    ``rdfxml_unserializable_rows`` channel, never poisoning the rest
    of the document."""
    import re

    from pyrdfa3_spark.graph import SparkGraph
    from pyrdfa3_spark.plans.serialize import (
        RDFXML_FOOTER, RDFXML_HEADER, rdfxml_unserializable_rows,
    )

    lits = ["plain", 'with "quotes"', "back\\slash", "trailing\\",
            "tab\tand\nnewline\rcr", "null\x00char", "\x0c formfeed",
            "unicode é中\U0001F600", "both\"'\\", "\\\\double",
            "end\\t", "\rstart", "&amp; <tag>"]
    rows = [(f"http://ex.org/s{i}", "http://ex.org/p", lit,
             False, None if i % 3 else "en", None)
            for i, lit in enumerate(lits)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri "
              "boolean, obj_lang string, obj_datatype string")
    g = SparkGraph(df)

    def key_set(sg):
        return {(r["subj"], r["pred"], r["obj"], bool(r["obj_is_iri"]),
                 r["obj_lang"], r["obj_datatype"])
                for r in sg.df.collect()}

    orig = key_set(g)
    for fmt in ("nt", "turtle", "json-ld"):
        text = "\n".join(r[0] for r in g.serialize(fmt).collect())
        got = key_set(SparkGraph.empty(spark).parse(data=text, format=fmt))
        assert got == orig, fmt

    illegal = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")
    xml_ok = {t for t in orig if not illegal.search(t[2])}
    text = (RDFXML_HEADER + "\n"
            + "\n".join(r[0] for r in g.serialize("xml").collect())
            + "\n" + RDFXML_FOOTER)
    got = key_set(SparkGraph.empty(spark).parse(data=text, format="xml"))
    assert got == xml_ok
    assert rdfxml_unserializable_rows(df).count() == len(orig) - len(xml_ok)


def test_turtle_pn_local_esc(spark):
    """Turtle 1.1 PN_LOCAL_ESC: backslash-escaped punctuation in
    prefixed-name local parts resolves with the escape stripped."""
    from pyrdfa3_spark.functions.turtle import parse_turtle

    doc = ("@prefix ex: <http://ex.org/> .\n"
           "ex:s ex:p ex:with\\~tilde .\n"
           "ex:s2 ex:p ex:a\\,b\;c .\n")
    got = {(s, p, o) for s, p, o in parse_turtle(doc)}
    assert got == {
        ("http://ex.org/s", "http://ex.org/p",
         "http://ex.org/with~tilde"),
        ("http://ex.org/s2", "http://ex.org/p", "http://ex.org/a,b;c"),
    }


def test_infer_jsonld_context(spark):
    from pyrdfa3_spark.plans.serialize import infer_jsonld_context

    rows = [
        ("http://www.w3.org/ns/prov#act", "http://ex.org/vocab#p",
         "lit", False, None,
         "http://www.w3.org/2001/XMLSchema#integer"),
        ("urn:thing:T1", "http://ex.org/vocab#p",
         "http://www.w3.org/ns/prov#other", True, None, None),
        ("urn:thing:T2", "http://schema.org/name",
         "x", False, "en", None),
    ]
    ctx = infer_jsonld_context(spark.createDataFrame(
        rows, ["subj", "pred", "obj", "obj_is_iri", "obj_lang",
               "obj_datatype"]))
    inv = {v: k for k, v in ctx.items()}
    # seed (W3C initial context) namespaces keep their published names
    assert inv["http://www.w3.org/ns/prov#"] == "prov"
    assert inv["http://www.w3.org/2001/XMLSchema#"] == "xsd"
    assert inv["http://schema.org/"] == "schema"
    # non-seed namespaces take their last identifier-like segment
    assert inv["http://ex.org/vocab#"] == "vocab"
    assert inv["urn:thing:"] == "thing"


def test_infer_jsonld_context_collisions_and_cap(spark):
    from pyrdfa3_spark.plans.serialize import infer_jsonld_context

    rows = [
        # two distinct namespaces both deriving the name "v": the
        # more-used one wins the bare name, the other gets v2
        ("s1", "http://a.example/v#p", "x", False, None, None),
        ("s2", "http://a.example/v#q", "x", False, None, None),
        ("s3", "http://b.example/v#p", "x", False, None, None),
    ]
    schema = ("subj string, pred string, obj string, "
              "obj_is_iri boolean, obj_lang string, "
              "obj_datatype string")
    ctx = infer_jsonld_context(spark.createDataFrame(rows, schema))
    assert ctx["v"] == "http://a.example/v#"
    assert ctx["v2"] == "http://b.example/v#"
    # census cap keeps only the most-used namespaces
    capped = infer_jsonld_context(
        spark.createDataFrame(rows, schema), max_prefixes=1)
    assert list(capped.values()) == ["http://a.example/v#"]


def test_infer_context_compact_roundtrip(spark):
    import json

    from pyrdfa3_spark.plans.serialize import (
        infer_jsonld_context, to_jsonld,
    )
    from pyrdfa3_spark.sources.jsonld import parse_jsonld_compact

    df = spark.createDataFrame(ROWS, COLS)
    ctx = infer_jsonld_context(df)
    lines = to_jsonld(df, context=ctx)
    # keys really are compacted under the inferred context
    node = json.loads(lines.collect()[0]["jsonld"])
    assert all(":" not in k or not k.startswith("http")
               for k in node)
    back = parse_jsonld_compact(lines, ctx)
    orig = {tuple(r) for r in df.collect()}
    assert {tuple(r) for r in back.collect()} == orig
