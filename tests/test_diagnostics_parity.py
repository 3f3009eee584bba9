"""Processor-graph spot checks (FIXTURES.md §5): documents with
deliberate errors must produce warnings in our diagnostics channel, and
a clean document none.  Checked against a frozen table of the warning
codes the engine emits per document, not byte-exact messages, matching
the reference's structured-warning design (pyRdfa/options.py:48-99).
The reference warns on every bad document as well; the opt-in live test
re-checks that when the reference source tree is present."""

from __future__ import annotations

import os
import sys

import pytest

from pyrdfa3_spark.functions.hostlang import Host
from pyrdfa3_spark.operators.rdfa_engine import RDFaProcessor
from pyrdfa3_spark.sources.dom import parse_html

# (fragment, the warning codes the engine emits for it)
BAD_DOCS = [
    # undefined prefix inside a safe CURIE -> dropped + warning
    ('<div about="[nosuch:x]" property="http://s.org/p" content="v">'
     '</div>', ["no-curie-in-safe-curie"]),
    # illegal (unterminated) safe CURIE
    ('<div about="[broken" property="http://s.org/p" content="v"></div>',
     ["illegal-safe-curie"]),
    # '_' declared as a prefix
    ('<div prefix="_: http://bad.example/" about="#a" '
     'property="http://s.org/p" content="v"></div>', ["bnode-prefix"]),
    # relative IRI in @rel position (non-legal CURIE reference)
    ('<div about="#a" rel="not/absolute=" resource="#b"></div>',
     ["non-legal-curie-ref"]),
]

CLEAN_DOC = ('<div vocab="http://schema.org/" about="#a" typeof="Thing">'
             '<span property="name">x</span></div>')


def _warning_codes(fragment: str) -> list[str]:
    proc = RDFaProcessor(base="http://diag.test/d", host=Host.HTML5)
    proc.process(parse_html(f"<html><body>{fragment}</body></html>"))
    return [code for severity, code, _msg in proc.diagnostics
            if severity == "warning"]


@pytest.mark.parametrize("fragment,codes", BAD_DOCS)
def test_bad_doc_warns(fragment, codes):
    assert _warning_codes(fragment) == codes


def test_clean_doc_warns_nowhere():
    assert _warning_codes(CLEAN_DOC) == []


def test_both_sides_warn_live_reference():
    """Opt-in: the reference's processor graph (run through the rdflib
    shim) warns on every bad document and stays empty on the clean
    one, when its source tree is present."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "refshim"))
    sys.path.insert(0, "/root/reference")
    try:
        _check_reference_warns()
    finally:
        # leave the rdflib shim off the path for the tests that follow
        sys.path[:] = saved


def _check_reference_warns() -> None:
    import xml.dom.minidom as minidom

    try:
        from pyRdfa import pyRdfa as PyRdfaClass
        from pyRdfa.options import Options
    except ImportError:
        pytest.skip("the reference pyRdfa source tree is absent")

    def reference_warn_count(fragment: str) -> int:
        opts = Options(output_default_graph=True,
                       output_processor_graph=True,
                       embedded_rdf=False, vocab_expansion=False)
        opts.set_host_language("text/html")
        proc = PyRdfaClass(options=opts, base="http://diag.test/d")
        proc.graph_from_DOM(minidom.parseString(
            f"<html><body>{fragment}</body></html>"))
        # the processor graph accumulates warning/error bnodes
        return len(opts.processor_graph.graph)

    for fragment, _codes in BAD_DOCS:
        assert reference_warn_count(fragment) > 0, fragment
    assert reference_warn_count(CLEAN_DOC) == 0
