"""SPARQL 1.1 Query Results serializers (rdflib Result.serialize
parity surface: CSV / TSV / JSON / XML over solutions frames)."""

from __future__ import annotations

import json
import xml.dom.minidom as minidom

import pytest
from pyspark.sql import functions as F

from pyrdfa3_spark.operators.graphops import bgp_match
from pyrdfa3_spark.plans.results import (
    results_json_doc, results_xml_doc, to_results_csv,
    to_results_json_bindings, to_results_tsv, to_results_xml_bindings,
)


@pytest.fixture(scope="module")
def shaped_triples(spark):
    rows = [
        # IRI object
        ("urn:s:1", "urn:p:knows", "urn:s:2", True, None, None),
        # lang-tagged literal with every ECHAR-escapable character
        ("urn:s:1", "urn:p:name", 'Ada says "hi"\n\tback\\slash',
         False, "en", None),
        # typed literal
        ("urn:s:2", "urn:p:age", "36", False, None,
         "http://www.w3.org/2001/XMLSchema#integer"),
        # bnode object + plain literal with a comma (CSV quoting)
        ("_:b0", "urn:p:note", "plain, with comma", False, None, None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean,"
              " obj_lang string, obj_datatype string")


@pytest.fixture(scope="module")
def sols(shaped_triples):
    # one solution row per triple; ?o carries shape companions, ?s not
    return bgp_match(shaped_triples, [("?s", "?p", "?o")],
                     shape_vars={"o"})


def _lines(df):
    return [r["line"] for r in df.collect()]


def test_results_csv(sols):
    out = to_results_csv(sols.select("s", "o")).collect()
    by_ord = {}
    for r in out:
        by_ord.setdefault(r["ord"], []).append(r["line"])
    assert by_ord[0] == ["s,o"]
    rows = set(by_ord[1])
    # plain comma-free fields stay bare; IRIs/bnodes are bare lexical
    assert "urn:s:1,urn:s:2" in rows
    # quote/newline and comma fields are RFC 4180-quoted
    assert 'urn:s:1,"Ada says ""hi""\n\tback\\slash"' in rows
    assert '_:b0,"plain, with comma"' in rows
    assert "urn:s:2,36" in rows


def test_results_csv_unbound_empty(spark, shaped_triples):
    s = bgp_match(shaped_triples,
                  [("?s", "urn:p:knows", "?x")],
                  optional=[("?s", "urn:p:missing", "?m")])
    body = [r["line"] for r in to_results_csv(s).collect()
            if r["ord"] == 1]
    assert body == ["urn:s:1,urn:s:2,"]


def test_results_tsv_companions_and_inference(sols):
    out = _lines(to_results_tsv(sols, columns=["s", "o"]).where("ord = 1"))
    # ?s has no companions -> lexical inference (urn: scheme -> IRI,
    # _: -> bnode); ?o has companions -> lang/datatype serialized
    assert "<urn:s:1>\t<urn:s:2>" in out
    assert ('<urn:s:1>\t"Ada says \\"hi\\"\\n\\tback\\\\slash"@en'
            in out)
    assert ("<urn:s:2>\t"
            '"36"^^<http://www.w3.org/2001/XMLSchema#integer>' in out)
    assert '_:b0\t"plain, with comma"' in out
    header = _lines(to_results_tsv(sols, columns=["s", "o"])
                    .where("ord = 0"))
    assert header == ["?s\t?o"]


def test_results_json_doc(sols):
    doc = json.loads(results_json_doc(sols, columns=["s", "o"]))
    assert doc["head"]["vars"] == ["s", "o"]
    bindings = doc["results"]["bindings"]
    assert len(bindings) == 4
    by_s = {}
    for b in bindings:
        by_s.setdefault(b["s"]["value"], []).append(b)
    assert by_s["b0"][0]["s"] == {"type": "bnode", "value": "b0"}
    os_ = {json.dumps(b["o"], sort_keys=True) for b in bindings}
    assert json.dumps({"type": "uri", "value": "urn:s:2"},
                      sort_keys=True) in os_
    assert json.dumps(
        {"type": "literal", "value": 'Ada says "hi"\n\tback\\slash',
         "xml:lang": "en"}, sort_keys=True) in os_
    assert json.dumps(
        {"type": "literal", "value": "36",
         "datatype": "http://www.w3.org/2001/XMLSchema#integer"},
        sort_keys=True) in os_


def test_results_json_unbound_omitted(shaped_triples):
    s = bgp_match(shaped_triples, [("?s", "urn:p:knows", "?x")],
                  optional=[("?s", "urn:p:missing", "?m")])
    [line] = _lines(to_results_json_bindings(s))
    assert json.loads(line) == {
        "s": {"type": "uri", "value": "urn:s:1"},
        "x": {"type": "uri", "value": "urn:s:2"}}


def test_results_xml_doc(sols):
    doc = results_xml_doc(sols, columns=["s", "o"])
    dom = minidom.parseString(doc)  # well-formed incl. escapes
    assert len(dom.getElementsByTagName("result")) == 4
    names = {v.getAttribute("name")
             for v in dom.getElementsByTagName("variable")}
    assert names == {"s", "o"}
    lits = {(el.getAttribute("xml:lang") or el.getAttribute("datatype"),
             el.firstChild.nodeValue)
            for el in dom.getElementsByTagName("literal")}
    assert ("en", 'Ada says "hi"\n\tback\\slash') in lits
    assert ("http://www.w3.org/2001/XMLSchema#integer", "36") in lits


def test_results_doc_cap_raises(sols):
    with pytest.raises(ValueError, match="max_rows"):
        results_json_doc(sols, max_rows=2)


def test_results_text_query_surface(spark):
    """End-to-end: sparql() text solutions -> CSV/TSV lines (the
    lexical-inference path — text-surface projections carry no
    companions)."""
    from pyrdfa3_spark.operators.sparql import sparql

    t = spark.createDataFrame(
        [("urn:a", "urn:p", "x,y"), ("urn:a", "urn:q", "urn:b")],
        ["subj", "pred", "obj"])
    s = sparql(t, "SELECT ?s ?o WHERE { ?s <urn:p> ?o }")
    assert _lines(to_results_csv(s).where("ord = 1")) == \
        ['urn:a,"x,y"']
    assert _lines(to_results_tsv(s).where("ord = 1")) == \
        ['<urn:a>\t"x,y"']


def test_results_json_escapes_control_chars(spark):
    """RFC 8259: raw C0 controls are forbidden in JSON strings — a
    literal carrying form feed / NUL must emit as \\uXXXX and the
    binding line must satisfy a STRICT parser."""
    import json

    from pyrdfa3_spark.plans.results import to_results_json_bindings

    sols = spark.createDataFrame([("ctl\x0c\x00\x01x",)], ["v"])
    line = to_results_json_bindings(sols).collect()[0]["line"]
    parsed = json.loads(line)
    assert parsed["v"]["value"] == "ctl\x0c\x00\x01x"
