"""Golden-graph tests for the RDFa engine (FIXTURES.md §2 feature matrix).

Expected triples are hand-derived from the RDFa 1.1 Core processing model;
each case cites the reference code path it exercises
(paths relative to /root/reference/).
"""

from __future__ import annotations

import pytest

from pyrdfa3_spark.functions.constants import (
    RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, RDF_XMLLITERAL,
    RDFA_USES_VOCABULARY, XHTML_ROLE, XSD, XSD_DATE, XSD_DATETIME,
    XSD_DURATION, XSD_GYEAR,
)
from pyrdfa3_spark.functions.hostlang import Host
from pyrdfa3_spark.operators.rdfa_engine import Literal, RDFaProcessor
from pyrdfa3_spark.sources.dom import parse_html, parse_xml

from tests.graph_compare import diff, isomorphic

BASE = "http://fixture.test/doc"
SCHEMA = "http://schema.org/"
FOAF = "http://xmlns.com/foaf/0.1/"
DC = "http://purl.org/dc/terms/"


def run_html(html, base=BASE, host=Host.HTML5, version="1.1"):
    proc = RDFaProcessor(base=base, host=host, rdfa_version=version)
    triples = proc.process(parse_html(html))
    return triples, proc


def run_xml(xml, base=BASE, host=Host.SVG, version="1.1"):
    proc = RDFaProcessor(base=base, host=host, rdfa_version=version)
    triples = proc.process(parse_xml(xml))
    return triples, proc


def assert_graph(actual, expected):
    assert isomorphic(actual, expected), "\n" + diff(actual, expected)


# --------------------------------------------------------------------------
# plain literals + language inheritance (state.py:229-257, property.py:136-138)
# --------------------------------------------------------------------------

def test_plain_literal_lang_inheritance():
    html = ('<html lang="en"><body>'
            '<p about="#a" property="http://purl.org/dc/terms/title">Hello</p>'
            '<p about="#b" property="http://purl.org/dc/terms/title" '
            'lang="fr">Bonjour</p>'
            '<p about="#c" property="http://purl.org/dc/terms/title" '
            'lang="">None</p>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#a", DC + "title", Literal("Hello", "en", None)),
        (BASE + "#b", DC + "title", Literal("Bonjour", "fr", None)),
        (BASE + "#c", DC + "title", Literal("None", None, None)),
    ])


def test_xml_lang_priority_over_lang():
    html = ('<html><body>'
            '<p about="#a" property="dc:title" lang="fr" xml:lang="de">x</p>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#a", DC + "title", Literal("x", "de", None)),
    ])


# --------------------------------------------------------------------------
# @content / @datatype (property.py:96-136, 286-311)
# --------------------------------------------------------------------------

def test_content_and_datatype():
    html = ('<html><body lang="en">'
            '<span about="#a" property="schema:age" datatype="xsd:integer" '
            'content="30">thirty</span>'
            '<span about="#a" property="schema:name" content="Alice">A</span>'
            '<span about="#a" property="schema:alt" datatype="">typed off'
            '</span></body></html>')
    actual, proc = run_html(html)
    assert_graph(actual, [
        (BASE + "#a", SCHEMA + "age", Literal("30", None, XSD + "integer")),
        (BASE + "#a", SCHEMA + "name", Literal("Alice", "en", None)),
        (BASE + "#a", SCHEMA + "alt", Literal("typed off", "en", None)),
    ])


def test_bad_datatype_value_warns_but_keeps_literal():
    html = ('<html><body><span about="#a" property="schema:age" '
            'datatype="xsd:integer" content="NaNny"/></body></html>')
    actual, proc = run_html(html)
    assert_graph(actual, [
        (BASE + "#a", SCHEMA + "age", Literal("NaNny", None, XSD + "integer")),
    ])
    assert any(d[1] == "incompatible-literal" for d in proc.diagnostics)


def test_xml_literal():
    html = ('<html><body><span about="#a" property="schema:desc" '
            'datatype="rdf:XMLLiteral">a <b>bold</b> move</span>'
            '</body></html>')
    actual, _ = run_html(html)
    assert len(actual) == 1
    s, p, o = actual[0]
    assert (s, p) == (BASE + "#a", SCHEMA + "desc")
    assert o.datatype == RDF_XMLLITERAL
    assert "bold" in o.value and o.value.startswith("a <b")


# --------------------------------------------------------------------------
# CURIE resolution (termorcurie.py:247-320, 378-465; transform empty [])
# --------------------------------------------------------------------------

def test_prefix_xmlns_safe_curie_and_bnode():
    html = ('<html prefix="ex: http://example.org/ns# '
            'EX2: http://example.org/other#"><body>'
            '<div about="[ex:thing]" rel="ex2:link" resource="_:joe"/>'
            '<div about="_:joe" property="ex:name">Joe</div>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        ("http://example.org/ns#thing", "http://example.org/other#link", "_:x"),
        ("_:x", "http://example.org/ns#name", Literal("Joe", None, None)),
    ])


def test_unknown_prefix_is_ignored_and_empty_safe_curie_pruned():
    html = ('<html><body>'
            '<div about="[]" property="schema:name">me</div>'
            '<div about="#a" rel="nosuch:link" resource="#b"/>'
            '<div about="#a" rel="[nosuch:other]" resource="#b"/>'
            '</body></html>')
    actual, proc = run_html(html)
    # about="[]" pruned -> subject falls back to parent object (= base);
    # an unbound-prefix CURIE outside a safe CURIE is accepted as an
    # absolute IRI in 1.1 (state.py:415-425), inside one it is dropped.
    assert_graph(actual, [
        (BASE, SCHEMA + "name", Literal("me", None, None)),
        (BASE + "#a", "nosuch:link", BASE + "#b"),
    ])
    assert any(d[1] == "empty-safe-curie" for d in proc.diagnostics)
    assert any(d[1] == "unusual-uri-scheme" for d in proc.diagnostics)


def test_curie_with_empty_prefix_and_default_curie_uri():
    html = ('<html><body><div about="#a" rel=":next" resource="#b"/>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#a", "http://www.w3.org/1999/xhtml/vocab#next", BASE + "#b"),
    ])


# --------------------------------------------------------------------------
# TERM + @vocab (termorcurie.py:199-221, 467-499)
# --------------------------------------------------------------------------

def test_vocab_terms_and_reset():
    html = ('<html vocab="http://schema.org/"><body>'
            '<div about="#a" typeof="Person"><span property="name">N</span>'
            '</div>'
            '<div vocab=""><span about="#b" property="license" '
            'resource="#lic"/></div>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE, RDFA_USES_VOCABULARY, SCHEMA),
        (BASE + "#a", RDF_TYPE, SCHEMA + "Person"),
        (BASE + "#a", SCHEMA + "name", Literal("N", None, None)),
        # vocab reset -> 'license' falls back to the initial-context term
        (BASE + "#b", "http://www.w3.org/1999/xhtml/vocab#license",
         BASE + "#lic"),
    ])


def test_term_case_insensitive_fallback():
    html = ('<html><body><div about="#a" rel="LICENSE" resource="#l"/>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#a", "http://www.w3.org/1999/xhtml/vocab#license",
         BASE + "#l"),
    ])


# --------------------------------------------------------------------------
# chaining (parse.py:147-223, 293-300)
# --------------------------------------------------------------------------

def test_bare_property_typeof_chaining():
    # @property w/o @content/@datatype + @typeof mints the typed resource
    # as object (parse.py:177-198)
    html = ('<html vocab="http://schema.org/"><body>'
            '<div about="#me"><div property="address" typeof="PostalAddress">'
            '<span property="postalCode">12345</span></div></div>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE, RDFA_USES_VOCABULARY, SCHEMA),
        ("_:a", RDF_TYPE, SCHEMA + "PostalAddress"),
        (BASE + "#me", SCHEMA + "address", "_:a"),
        ("_:a", SCHEMA + "postalCode", Literal("12345", None, None)),
    ])


def test_rel_incomplete_triples_completed_by_children():
    html = ('<html><body><div about="#me" rel="foaf:knows">'
            '<div about="#bob"><span property="foaf:name">Bob</span></div>'
            '<div about="#eve"><span property="foaf:name">Eve</span></div>'
            '</div></body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#me", FOAF + "knows", BASE + "#bob"),
        (BASE + "#me", FOAF + "knows", BASE + "#eve"),
        (BASE + "#bob", FOAF + "name", Literal("Bob", None, None)),
        (BASE + "#eve", FOAF + "name", Literal("Eve", None, None)),
    ])


def test_rev_reversed_triple():
    html = ('<html><body><div about="#a" rev="dc:creator" resource="#b"/>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#b", DC + "creator", BASE + "#a"),
    ])


def test_hanging_rel_bnode_for_children():
    # no resource on the rel element: children hang off a fresh bnode
    html = ('<html><body><div about="#me" rel="foaf:knows">'
            '<span property="foaf:name">Anon</span></div></body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#me", FOAF + "knows", "_:x"),
        ("_:x", FOAF + "name", Literal("Anon", None, None)),
    ])


def test_typeof_on_object_with_rel():
    # @typeof without @about types the object resource (parse.py:167-170);
    # with @about it types the subject instead (parse.py:153-155)
    html = ('<html><body><div rel="foaf:knows" typeof="foaf:Person"'
            ' resource="#bob"/></body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE, FOAF + "knows", BASE + "#bob"),
        (BASE + "#bob", RDF_TYPE, FOAF + "Person"),
    ])
    html2 = ('<html><body><div about="#me" rel="foaf:knows" '
             'typeof="foaf:Person" resource="#bob"/></body></html>')
    actual2, _ = run_html(html2)
    assert_graph(actual2, [
        (BASE + "#me", RDF_TYPE, FOAF + "Person"),
        (BASE + "#me", FOAF + "knows", BASE + "#bob"),
    ])


# --------------------------------------------------------------------------
# lists (parse.py:237-250, 303-316; state.py:485-549)
# --------------------------------------------------------------------------

def test_inlist_property_order():
    html = ('<html><body><div about="#a">'
            '<span property="dc:creator" inlist="">One</span>'
            '<span property="dc:creator" inlist="">Two</span>'
            '</div></body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#a", DC + "creator", "_:l1"),
        ("_:l1", RDF_FIRST, Literal("One", None, None)),
        ("_:l1", RDF_REST, "_:l2"),
        ("_:l2", RDF_FIRST, Literal("Two", None, None)),
        ("_:l2", RDF_REST, RDF_NIL),
    ])


def test_empty_list_is_nil():
    html = ('<html><body><div about="#a" rel="dc:creator" inlist=""></div>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#a", DC + "creator", RDF_NIL),
    ])


# --------------------------------------------------------------------------
# base handling (state.py:147-202, 290-313)
# --------------------------------------------------------------------------

def test_base_element_and_relative_iris():
    html = ('<html><head><base href="http://other.example/dir/page#frag"/>'
            '</head><body>'
            '<div about="thing" rel="dc:source" href="../up"/>'
            '<div about="#tail" rel="dc:relation" href="x?"/>'
            '</body></html>')
    actual, _ = run_html(html)
    b = "http://other.example/dir/page"
    assert_graph(actual, [
        ("http://other.example/dir/thing", DC + "source",
         "http://other.example/up"),
        (b + "#tail", DC + "relation", "http://other.example/dir/x?"),
    ])


def test_xml_base_in_svg():
    xml = ('<svg xmlns="http://www.w3.org/2000/svg" '
            'xml:base="http://svg.example/root">'
            '<g xml:base="http://svg.example/inner/" about="leaf" '
            'property="dc:title" content="t"/></svg>')
    actual, _ = run_xml(xml, host=Host.SVG)
    assert_graph(actual, [
        ("http://svg.example/inner/leaf", DC + "title",
         Literal("t", None, None)),
    ])


# --------------------------------------------------------------------------
# HTML5 <time> (host/html5.py:39-201)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("value,dtype", [
    ("2026-08-16", XSD_DATE),
    ("2026-08-16T10:11:12", XSD_DATETIME),
    ("2026", XSD_GYEAR),
    ("P3D", XSD_DURATION),
    ("not a date", None),
])
def test_time_element_datatype_sniffing(value, dtype):
    html = (f'<html><body><div about="#a"><time property="dc:date" '
            f'datetime="{value}">shown</time></div></body></html>')
    actual, _ = run_html(html)
    expected_lit = Literal(value, None, dtype)
    assert_graph(actual, [(BASE + "#a", DC + "date", expected_lit)])


# --------------------------------------------------------------------------
# @role (parse.py:491-508, transform/__init__.py:89-117)
# --------------------------------------------------------------------------

def test_role_with_and_without_id():
    html = ('<html><body>'
            '<div id="nav" role="navigation"/>'
            '<div role="http://example.org/custom"/>'
            '</body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        (BASE + "#nav", XHTML_ROLE,
         "http://www.w3.org/1999/xhtml/vocab#navigation"),
        ("_:r", XHTML_ROLE, "http://example.org/custom"),
    ])


# --------------------------------------------------------------------------
# html5 host transform: remove_rel (host/html5.py:203-224)
# --------------------------------------------------------------------------

def test_remove_rel_term_with_property():
    # a term-only @rel coexisting with @property is dropped in HTML5
    html = ('<html><body><a about="#a" property="dc:title" rel="license" '
            'href="http://l.example/">T</a></body></html>')
    actual, _ = run_html(html)
    assert_graph(actual, [
        # property picks up @href as IRI object (property.py:81-86)
        (BASE + "#a", DC + "title", "http://l.example/"),
    ])


# --------------------------------------------------------------------------
# RDFa 1.0 mode (parse.py:325-486, property.py:152-217)
# --------------------------------------------------------------------------

def test_rdfa_10_auto_xmlliteral_and_safe_curie_only():
    html = ('<html version="XHTML+RDFa 1.0" xmlns:dc="http://purl.org/dc/terms/">'
            '<body><div about="#a" property="dc:title">a <b>x</b></div>'
            '</body></html>')
    actual, proc = run_html(html, host=Host.XHTML, version="1.0")
    assert proc.rdfa_version == "1.0"
    assert len(actual) == 1
    s, p, o = actual[0]
    assert o.datatype == RDF_XMLLITERAL


def test_lite_check_diagnostics():
    html = ('<html><body>'
            '<div about="#a" rel="dc:x" resource="#b" content="c" '
            'datatype="" rev="dc:y"></div>'
            '<meta content="fine"/><link rel="stylesheet"/>'
            '</body></html>')
    proc = RDFaProcessor(base=BASE, host=Host.HTML5, check_lite=True)
    proc.process(parse_html(html))
    flagged = sorted({d[2].split("@")[1].split(" ")[0]
                      for d in proc.diagnostics
                      if d[1] == "non-lite-attribute"})
    # meta@content and link@rel are allowed; the div's attrs are flagged
    assert flagged == ["about", "content", "datatype", "rel", "rev"]


def test_atom_host_entry_typeof():
    from pyrdfa3_spark.sources.dom import parse_xml as _px

    atom = ('<feed xmlns="http://www.w3.org/2005/Atom" '
            'xml:base="http://feed.example/">'
            '<entry><title about="" property="title">Hello</title></entry>'
            '</feed>')
    proc = RDFaProcessor(base="http://feed.example/", host=Host.ATOM)
    actual = proc.process(_px(atom))
    # atom default vocabulary (host/__init__.py:92-94) resolves the term;
    # <entry> gets typeof="" which mints a bnode subject for its subtree
    iana = "http://www.iana.org/assignments/relation/"
    assert ("http://feed.example/", iana + "title",
            Literal("Hello", None, None)) in actual


def test_dtd_version_detection_in_pipeline_path():
    from pyrdfa3_spark.functions.hostlang import (
        adjust_xhtml_and_version, Host as H,
    )

    doc10 = ('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML+RDFa 1.0//EN" '
             '"http://www.w3.org/MarkUp/DTD/xhtml-rdfa-1.dtd">'
             '<html xmlns="http://www.w3.org/1999/xhtml"></html>')
    assert adjust_xhtml_and_version(doc10, H.XHTML, "1.1") == (H.XHTML, "1.0")
    doc_plain = '<html xmlns="http://www.w3.org/1999/xhtml"></html>'
    assert adjust_xhtml_and_version(doc_plain, H.XHTML, "1.1") == \
        (H.XHTML5, "1.1")


def test_optin_transformers_meta_openid_dc():
    html = ('<html><head>'
            '<link rel="schema.DC" href="http://purl.org/dc/elements/1.1/"/>'
            '<meta name="DC.title" content="Doc Title"/>'
            '<meta name="plainmeta" content="mv"/>'
            '<link rel="openid.server" href="http://openid.example/s"/>'
            '</head><body></body></html>')
    proc = RDFaProcessor(base=BASE, host=Host.HTML5,
                         transformers=("meta_name", "openid", "dublin_core"))
    actual = proc.process(parse_html(html))
    dc11 = "http://purl.org/dc/elements/1.1/"
    # DC.title -> DC:title resolved via the mined xmlns:DC prefix;
    # openid.server -> openid:server via the injected namespace;
    # plain <meta name> -> treated as @property (term, unresolvable ->
    # dropped with a warning since no vocab is set)
    assert (BASE, dc11 + "title", Literal("Doc Title", None, None)) in actual
    assert (BASE, "http://xmlns.openid.net/auth#server",
            "http://openid.example/s") in actual
    assert any(d[1] == "undefined-term" for d in proc.diagnostics)


def test_determinism_same_doc_twice():
    html = ('<html><body><div about="#me" rel="foaf:knows">'
            '<div typeof="foaf:Person"><span property="foaf:name">B</span>'
            '</div></div></body></html>')
    a1, _ = run_html(html)
    a2, _ = run_html(html)
    assert a1 == a2


def test_hturtle_only_mode():
    """Embedded-RDF-only traversal (reference HTurtleParser): turtle
    islands extracted, RDFa attributes ignored, base inherited."""
    from pyrdfa3_spark.operators.rdfa_engine import RDFaProcessor
    from pyrdfa3_spark.sources.dom import parse_html

    doc = ('<div vocab="http://schema.org/" about="#x">'
           '<span property="name">ignored in hturtle mode</span>'
           '<script type="text/turtle">@prefix s: <http://schema.org/> . '
           '<#a> s:follows <#b> .</script></div>')
    root = parse_html(doc)
    proc = RDFaProcessor(base="http://h.example/d", hturtle_only=True)
    out = proc.process(root)
    assert out == [("http://h.example/d#a", "http://schema.org/follows",
                    "http://h.example/d#b")]
    # the same doc in normal mode emits the RDFa triples as well
    proc2 = RDFaProcessor(base="http://h.example/d")
    assert len(proc2.process(parse_html(doc))) > 1


# The html5 time-format sniffing grid with the XSD datatype the
# reference (pyRdfa/host/html5.py:66-155) assigns, None for a plain
# literal.  It includes single-digit %m/%d/%H/%M/%S values CPython
# strptime accepts ('2014-5-7', '9:5'): the shape gates must not drop
# them.
_TIME_FORMATS = [
    ("2014-05-07", "date"), ("2014-5-7", "date"), ("2014-5-07", "date"),
    ("2014-05-7", "date"), ("2014-05-07Z", "date"),
    ("2014-05", "gYearMonth"), ("2014-5", "gYearMonth"),
    ("2014", "gYear"), ("0001", "gYear"), ("14-05-07", None),
    ("123", None), ("05-07", "gMonthDay"), ("5-7", "gMonthDay"),
    ("1-5", "gMonthDay"), ("12-31", "gMonthDay"), ("13-01", None),
    ("00-00", None), ("09:05", "time"), ("9:5", "time"),
    ("9:05", "time"), ("10:30:5", "time"), ("10:30:05", "time"),
    ("10:30:05Z", "time"), ("10:30:05.5", "time"),
    ("10:30:05.123456", "time"), ("24:00", None), ("23:60", None),
    ("2014-05-07T09:05", "dateTime"), ("2014-5-7T9:5", "dateTime"),
    ("2014-05-07T09:05:06", "dateTime"),
    ("2014-05-07T09:05:06.5Z", "dateTime"),
    ("2014-05-07T09:05Z", "dateTime"),
    ("2014-05-07T09:05:06+02:00", "dateTime"),
    ("2014-5-7T9:5:6-05:00", "dateTime"),
    ("P3D", "duration"), ("P1Y2M3D", None), ("P1Y", None),
    ("P3M", "duration"), ("PT5H", None), ("P1DT2H30M", "duration"),
    ("-P3D", None), ("-P1DT2H", None), ("P", None), ("PX", None),
    ("plain text", None), ("", None), ("2014-05-07 09:05", None),
]


def test_time_format_parity_with_reference():
    """_format_test gives the reference's answer on every value of the
    grid (the table was checked against the reference itself)."""
    from pyrdfa3_spark.operators.rdfa_engine import _format_test

    for v, kind in _TIME_FORMATS:
        assert _format_test(v) == (kind and XSD + kind), v


def test_time_format_table_matches_live_reference():
    """Opt-in: re-check the table against the reference's own sniffing
    when its source tree is present."""
    import os
    import sys

    saved = list(sys.path)
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "refshim"))
    sys.path.insert(0, "/root/reference")
    try:
        from pyRdfa.host.html5 import _format_test as ref_format_test
    except ImportError:
        # leave the rdflib shim off the path for the tests that follow
        sys.path[:] = saved
        pytest.skip("the reference pyRdfa source tree is absent")

    for v, kind in _TIME_FORMATS:
        ref = ref_format_test(v)
        assert (None if ref == "plain" else str(ref)) == (
            kind and XSD + kind), v


def test_cdata_agrees_across_parse_paths():
    """<![CDATA[...]]> must produce identical literals whichever parser
    path runs: HTML semantics treat it as a bogus comment (html5lib),
    so the expat fast path defers to the tolerant parser instead of
    emitting the section as text."""
    from pyrdfa3_spark.sources.dom import parse_html

    doc = ('<div about="#x"><span property="p"><![CDATA[hello]]>'
           'world</span></div>')
    root = parse_html(doc)

    def text_of(n):
        return "".join(c if isinstance(c, str) else text_of(c)
                       for c in n.children)

    assert text_of(root) == "world"


def test_uri_fast_paths_match_urljoin():
    """The _uri fast paths (fragment-only refs, foreign-scheme refs)
    must stay byte-identical to CPython urljoin + the #/? tail repair —
    driven through @href, the attribute the spec types as a plain URI
    (CURIE-shaped values in @about resolve as CURIEs, a different
    path)."""
    import random
    from urllib.parse import urljoin

    from pyrdfa3_spark.functions.hostlang import Host
    from pyrdfa3_spark.operators.rdfa_engine import RDFaProcessor
    from pyrdfa3_spark.sources.dom import parse_html

    base = "http://transcript.local/c1/0"
    refs = ["#", "#x", "#a?b", "urn:isbn:123", "URN:isbn:123",
            "mailto:a@b", "tag:x,2020:y", "doi:10.1/2", "about:blank",
            "data:text/plain,x", "ws://h/p", "svn+ssh://h/p",
            "custom:opaque", "http://other/p", "HTTP://other/p",
            "../up", "down/rel", "?query"]
    rng = random.Random(13)
    for _ in range(300):
        refs.append("".join(rng.choice("#?:/abAB+.-_%~")
                            for _ in range(rng.randint(1, 12))))
    for ref in refs:
        if '"' in ref:
            continue
        want = urljoin(base, ref)
        if ref and ref[-1] in "#?" and (not want or want[-1] != ref[-1]):
            want += ref[-1]
        proc = RDFaProcessor(base=base, host=Host.HTML5,
                             rdfa_version="1.1")
        doc = f'<div about="#s"><a rel="p:r" href="{ref}">x</a></div>'
        triples = proc.process(parse_html(doc))
        objs = {o for s, p, o in triples if p == "p:r"}
        assert objs == {want.strip()}, (ref, objs, want)
