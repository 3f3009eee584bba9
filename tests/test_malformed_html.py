"""Malformed-HTML parity corpus (WHATWG HTML §13.2.6 tree-construction
fixups; html5lib's documented behaviour — the parser the reference uses
at pyRdfa/__init__.py:619-649 but which is absent in this sandbox).

Each fixture encodes the SPEC-DOCUMENTED fixed-up tree as a hand-written
expectation (independent of both engines).  The one recovery where this
repo's parser deliberately diverges from html5lib — mis-nested
formatting elements, which the adoption agency would re-open — must
emit a diagnostic, never a silently different tree, and must never lose
text content.  These are pure-Python parser tests (no Spark session).
"""

from __future__ import annotations

import pytest

from pyrdfa3_spark.sources.dom import Node, parse_html


def _shape(n):
    """(tag, [children]) skeleton with non-whitespace text leaves."""
    if isinstance(n, str):
        s = n.strip()
        return s if s else None
    kids = [x for x in (_shape(c) for c in n.children) if x is not None]
    return (n.tag, kids)


def _parse(text, diags=None):
    return _shape(parse_html(text, diagnostics=diags))


# --------------------------------------------------------------------- #
# spec-equivalent fixups: the fixed-up tree must MATCH html5lib's
# --------------------------------------------------------------------- #

def test_unclosed_li_are_siblings():
    assert _parse("<ul><li>a<li>b<li>c</ul>") == (
        "ul", [("li", ["a"]), ("li", ["b"]), ("li", ["c"])])


def test_li_closes_through_div_but_not_past_list():
    # §13.2.6.4.7: the li walk skips non-special + address/div/p and
    # closes the open li — the div ends with it
    assert _parse("<ul><li><div>a<li>b</ul>") == (
        "ul", [("li", [("div", ["a"])]), ("li", ["b"])])
    # a nested list is a special boundary: its li stays nested
    assert _parse("<ul><li>a<ul><li>b</ul></ul>") == (
        "ul", [("li", ["a", ("ul", [("li", ["b"])])])])


def test_unclosed_p_and_block_closes_p():
    assert _parse("<div><p>one<p>two</div>") == (
        "div", [("p", ["one"]), ("p", ["two"])])
    # a block start tag closes an open p (button scope)
    assert _parse("<body><p>text<div>block</div></body>") == (
        "body", [("p", ["text"]), ("div", ["block"])])
    # ... even when the markup is well-formed XML (fast path must
    # defer to the HTML5 rule, not the XML nesting)
    assert _parse("<body><p>a<div>b</div></p></body>") == (
        "body", [("p", ["a"]), ("div", ["b"]), ("p", [])])


def test_p_not_closed_across_button_scope_boundary():
    # button is a scope boundary: the inner <p> must NOT close the
    # outer one — it nests inside the button
    assert _parse("<p>a<button>b<p>c</button></p>") == (
        "p", ["a", ("button", ["b", ("p", ["c"])])])


def test_stray_end_p_inserts_empty_p():
    assert _parse("<div>a</p>b</div>") == ("div", ["a", ("p", []), "b"])


def test_end_br_acts_as_br():
    assert _parse("<div>a</br>b</div>") == (
        "div", ["a", ("br", []), "b"])


def test_dt_dd_autoclose():
    assert _parse("<dl><dt>t1<dd>d1<dt>t2<dd>d2</dl>") == (
        "dl", [("dt", ["t1"]), ("dd", ["d1"]),
               ("dt", ["t2"]), ("dd", ["d2"])])


def test_implied_tbody_and_tr():
    assert _parse("<table><tr><td>a</td></tr></table>") == (
        "table", [("tbody", [("tr", [("td", ["a"])])])])
    # td directly under table implies both tbody and tr
    assert _parse("<table><td>a</table>") == (
        "table", [("tbody", [("tr", [("td", ["a"])])])])
    # unclosed cells/rows
    assert _parse("<table><tr><td>a<td>b<tr><td>c</table>") == (
        "table", [("tbody", [("tr", [("td", ["a"]), ("td", ["b"])]),
                             ("tr", [("td", ["c"])])])])


def test_table_section_after_implied_tbody_stays_in_table():
    # §13.2.6.4.13/14: a section start tag in "in table body" / "in
    # row" closes back to the table and inserts there — html5lib's
    # tree, not a foster-parented section before the table
    assert _parse("<table><tr><td>a</td></tr><tfoot><tr><td>b</td></tr>"
                  "</tfoot></table>") == (
        "table", [("tbody", [("tr", [("td", ["a"])])]),
                  ("tfoot", [("tr", [("td", ["b"])])])])
    assert _parse("<table><tr><td>a</td></tr><caption>c</caption>"
                  "</table>") == (
        "table", [("tbody", [("tr", [("td", ["a"])])]),
                  ("caption", ["c"])])
    # an explicit tbody ends the same way, as does an open cell
    assert _parse("<table><tbody><tr><td>a</td></tr><thead><tr><th>h"
                  "</th></tr></thead></tbody></table>") == (
        "table", [("tbody", [("tr", [("td", ["a"])])]),
                  ("thead", [("tr", [("th", ["h"])])])])
    assert _parse("<table><tr><td>a<tbody><tr><td>b</table>") == (
        "table", [("tbody", [("tr", [("td", ["a"])])]),
                  ("tbody", [("tr", [("td", ["b"])])])])


def test_foster_parenting_element_and_text():
    # a div (with RDFa attributes!) misplaced in table context is
    # re-homed BEFORE the table — ancestor chains for context
    # propagation follow the html5lib tree
    got = parse_html('<body><table><div property="p">x</div>'
                     "<tr><td>a</td></tr></table></body>")
    assert _shape(got) == (
        "body", [("div", ["x"]),
                 ("table", [("tbody", [("tr", [("td", ["a"])])])])])
    div = got.element_children()[0]
    assert div.tag == "div" and div.get("property") == "p"
    assert div.parent.tag == "body"
    # stray text in table context fosters out too; cell text stays
    assert _parse("<body><table>oops<tr><td>a</td></table></body>") == (
        "body", ["oops",
                 ("table", [("tbody", [("tr", [("td", ["a"])])])])])
    # the same shapes as WELL-FORMED XML must build the same tree
    # (fast path defers to the tolerant parser on table-context
    # violations)
    assert _parse("<body><table><div>x</div><tbody><tr><td>a</td></tr>"
                  "</tbody></table></body>") == (
        "body", [("div", ["x"]),
                 ("table", [("tbody", [("tr", [("td", ["a"])])])])])


def test_foster_parented_element_keeps_collecting_content():
    # the fostered element is still OPEN: subsequent content belongs
    # to it, not to the table
    assert _parse("<body><table><div>x<span>y</span></div>"
                  "<tr><td>a</td></table></body>") == (
        "body", [("div", ["x", ("span", ["y"])]),
                 ("table", [("tbody", [("tr", [("td", ["a"])])])])])


def test_stray_end_tags_ignored():
    assert _parse("<div>a</span>b</div>") == ("div", ["a", "b"])
    assert _parse("<div>a</table>b</div>") == ("div", ["a", "b"])


# --------------------------------------------------------------------- #
# mis-nested formatting: active-formatting reconstruction (the
# adoption agency's common cases), furthest-block residual -> diagnostic
# --------------------------------------------------------------------- #

def test_misnested_formatting_reconstructs():
    """The canonical adoption-agency case builds html5lib's exact
    tree: </b> implicitly closes the open <i>, which re-opens (as a
    clone) around the following text."""
    diags: list = []
    got = parse_html("<div><b>one<i>two</b>three</i>four</div>",
                     diagnostics=diags)
    assert _shape(got) == (
        "div", [("b", ["one", ("i", ["two"])]), ("i", ["three"]),
                "four"])
    assert got.text_content() == "onetwothreefour"
    assert diags == []  # reconstructed, no divergence to report


def test_block_closing_p_reconstructs_formatting():
    diags: list = []
    got = parse_html("<p><b>one<p>two", diagnostics=diags)
    # html5lib: the <b> re-opens inside the second p ("two" is bold)
    assert _shape(got) == (
        "html", [("p", [("b", ["one"])]), ("p", [("b", ["two"])])])
    assert diags == []


def test_reconstruction_chains_and_cancellation():
    # the clone itself re-closes and re-opens across a third p
    got = parse_html('<div><p><b property="x">a<p>b<p>c</div>')
    assert _shape(got) == (
        "div", [("p", [("b", ["a"])]), ("p", [("b", ["b"])]),
                ("p", [("b", ["c"])])])
    # the clone carries the original's attributes (html5lib clones do)
    second_b = got.element_children()[1].element_children()[0]
    assert second_b.get("property") == "x"
    # an explicit end tag CANCELS a pending reconstruction: after
    # </div> closes over <b>, </b> removes it from the active list,
    # so "y" is not bold
    got = parse_html("<section><div><b>x</div></b>y</section>")
    assert _shape(got) == (
        "section", [("div", [("b", ["x"])]), "y"])
    # ... and with no following content, no clone materializes
    got = parse_html("<section><div><b>x</div></section>")
    assert _shape(got) == ("section", [("div", [("b", ["x"])])])


def test_parent_end_tag_reopens_formatting_child():
    # </div> implicitly closes <b>; b re-opens for the trailing text
    got = parse_html("<section><div><b>x</div>y</section>")
    assert _shape(got) == (
        "section", [("div", [("b", ["x"])]), ("b", ["y"])])


def test_furthest_block_residual_warns_never_loses_text():
    """A formatting END tag crossing an open non-formatting element is
    the spec's furthest-block dance — the one shape this parser closes
    conservatively, with a diagnostic, never silently."""
    diags: list = []
    got = parse_html("<b>one<p>two</b>three", diagnostics=diags)
    assert got.text_content() == "onetwothree"
    assert any(c == "html-misnested-formatting" for _s, c, _m in diags)
    sev, code, msg = next(d for d in diags
                          if d[1] == "html-misnested-formatting")
    assert sev == "warning" and "furthest-block" in msg


def test_wellformed_input_emits_no_diagnostics():
    diags: list = []
    parse_html('<div vocab="http://s.io/" typeof="T">'
               "<span property=\"name\">x</span></div>",
               diagnostics=diags)
    assert diags == []


# --------------------------------------------------------------------- #
# fixups feed extraction: ancestor chain changes are what RDFa sees
# --------------------------------------------------------------------- #

def test_fostered_rdfa_context_does_not_inherit_table_subject():
    """The RDFa consequence of foster parenting: a property inside the
    fostered div must resolve against the div's REAL (post-fixup)
    ancestors — body, not the table's about."""
    from pyrdfa3_spark.operators.rdfa_engine import Host, RDFaProcessor

    html = ('<body about="http://ex.org/page">'
            '<table about="http://ex.org/table">'
            '<div property="http://ex.org/p">val</div>'
            "<tr><td>x</td></tr></table></body>")
    proc = RDFaProcessor(base="http://ex.org/", host=Host.HTML5,
                         rdfa_version="1.1")
    triples = proc.process(parse_html(html))
    subs = {s for s, p, _o in triples if p == "http://ex.org/p"}
    # fostered OUT of the table: subject is the body's about
    assert subs == {"http://ex.org/page"}


def test_noahs_ark_caps_reformatting_depth():
    """A page of repeated unclosed formatting must parse — the spec's
    Noah's Ark clause (max 3 identical active-formatting entries)
    bounds the clone re-nesting; without it the depth guard would
    reject the document that html5lib handles."""
    got = parse_html("<div>" + "<p><b>x" * 200 + "</div>")
    assert got.text_content() == "x" * 200
    # every paragraph still renders its text inside a <b> clone ...
    ps = got.element_children()
    assert len(ps) == 200 and all(p.tag == "p" for p in ps)
    # ... and the nesting inside any one p stays spec-bounded
    def depth(n):
        ks = n.element_children()
        return 1 + max((depth(k) for k in ks), default=0)
    assert max(depth(p) for p in ps) <= 5


def test_deep_nesting_still_guarded():
    from pyrdfa3_spark.sources.dom import DocumentTooDeep

    with pytest.raises(DocumentTooDeep):
        parse_html("<div>" * 500)


def test_deep_nesting_closes_p_like_shallow():
    # the open-<p> count lets a block start tag skip the button-scope
    # walk; the tree must match what the walk builds at any depth
    deep = "<div>" * 350
    inner = parse_html(deep + "<p>a<section>b")
    for _ in range(349):
        (inner,) = inner.element_children()
    assert _shape(inner) == ("div", [("p", ["a"]), ("section", ["b"])])
    # a <p> above the nest closes at the first div; a div inside a
    # button leaves the p outside the button open
    root = parse_html("<p>x" + deep + "<p>y<button><div>z")
    p, inner = root.element_children()
    assert _shape(p) == ("p", ["x"])
    for _ in range(349):
        (inner,) = inner.element_children()
    assert _shape(inner) == (
        "div", [("p", ["y", ("button", [("div", ["z"])])])])


def test_open_p_count_matches_stack_on_tag_soup():
    import random

    from pyrdfa3_spark.sources.dom import _TreeBuilder

    class Checked(_TreeBuilder):
        def _check(self):
            assert self._open_p == sum(n.tag == "p" for n in self.stack)

        def handle_starttag(self, tag, attrs):
            super().handle_starttag(tag, attrs)
            self._check()

        def handle_endtag(self, tag):
            super().handle_endtag(tag)
            self._check()

    tags = ["p", "div", "b", "button", "li", "ul", "table", "tr", "td",
            "tbody", "tfoot", "caption", "span", "dd", "dl"]
    rng = random.Random(5)
    for _ in range(200):
        doc = "".join(
            f"<{'/' if rng.random() < 0.35 else ''}{rng.choice(tags)}>t"
            for _ in range(40))
        b = Checked()
        b.feed(doc)
        b.close()


@pytest.mark.parametrize("doc", [
    "<ul><li>a<li>b</li></li></ul>",
    "<dl><dt>a<dd>b</dd></dt></dl>",
    "<ul><li>a<ul><li>b</li></ul></li></ul>",
    "<ul><li>a<div><ul><li>b</li></ul></div></li></ul>",
    "<table><tr><td>a</td></tr></table>",
    "<table><tbody><tr><td>a</td></tr></tbody></table>",
    "<div><TABLE><caption>c</caption></TABLE></div>",
])
def test_list_items_same_tree_on_both_builders(doc):
    # well-formed XML with an li/dd/dt directly inside an open one
    # leaves the fast path (HTML5 makes them siblings); a nested list
    # is a scope boundary and stays on it.  Table markup always leaves
    # it, even when no fixup would change the tree.
    from pyrdfa3_spark.sources.dom import _parse_html_fast, _TreeBuilder

    b = _TreeBuilder()
    b.feed(doc)
    b.close()
    tolerant = _shape(b.root.element_children()[0])
    assert _parse(doc) == tolerant
    nested_list = "<ul><li>b" in doc
    if nested_list:
        fast = _parse_html_fast(doc).element_children()[0]
        assert _shape(fast) == tolerant
    else:
        with pytest.raises(ValueError):
            _parse_html_fast(doc)


def _full_shape(n):
    """Like _shape, but every text node (whitespace too) is kept."""
    if isinstance(n, str):
        return n
    return (n.tag, [_full_shape(c) for c in n.children])


def _tolerant_children(doc):
    from pyrdfa3_spark.sources.dom import _TreeBuilder

    b = _TreeBuilder()
    b.feed(doc)
    b.close()
    return [_full_shape(c) for c in b.root.children]


def test_fast_path_builds_tolerant_tree_or_routes_out():
    # differential: on well-formed XML the expat reader either builds
    # exactly _TreeBuilder's tree, with one node per start tag, or
    # raises; table markup always raises
    import random

    from pyrdfa3_spark.sources.dom import _parse_html_fast

    tags = "table tbody tr td p div ul li dl dt dd span b".split()
    rng = random.Random(11)

    def element(depth):
        tag = rng.choice(tags)
        kids = "".join(
            element(depth + 1) if depth < 4 and rng.random() < 0.5
            else rng.choice(("t", " "))
            for _ in range(rng.randint(0, 3)))
        return f"<{tag}>{kids}</{tag}>"

    seen = {"fast": 0, "table": 0, "other": 0}
    for _ in range(1500):
        doc = "".join(element(0) for _ in range(rng.randint(1, 2)))
        try:
            fast = _parse_html_fast(doc)
        except ValueError:
            fast = None
        if "<table" in doc:
            assert fast is None, doc
            seen["table"] += 1
        elif fast is None:
            seen["other"] += 1
        else:
            seen["fast"] += 1
            assert ([_full_shape(c) for c in fast.children]
                    == _tolerant_children(doc)), doc
            n_elements = sum(1 for _ in fast.iter_elements()) - 1
            assert n_elements == doc.count("</"), doc
    assert min(seen.values()) >= 50, seen


@pytest.mark.parametrize("doc, fast", [
    # a block start tag closes a <p> open in button scope ...
    ("<p><span><div>x</div></span></p>", False),
    # ... but not across a button
    ("<p><button><div>x</div></button></p>", True),
    ("<select><option>a<option>b</option></option></select>", False),
    ("<select><option>a</option><option>b</option></select>", True),
    # section/row/cell markup outside a table
    ("<tbody><td>x</td></tbody>", False),
    ("<div><tr><td>a<td>b</td></td></tr></div>", False),
    # void elements hold nothing, and </br> is a <br>
    ("<div><img>x</img></div>", False),
    ("<div><br></br></div>", False),
    ('<div><br/>x<img src="a"></img><track/></div>', True),
    # script/style text is raw in HTML: no entity decoding, no tags
    ('<div about="http://e/x" property="http://e/p">'
     '<script>a &amp; b</script></div>', False),
    ("<div><style>p > a { color: red }</style></div>", False),
    ('<div><script type="text/javascript">x</script></div>', False),
])
def test_route_outs_keep_trees_identical(doc, fast):
    from pyrdfa3_spark.sources.dom import _parse_html_fast

    tolerant = _tolerant_children(doc)
    if fast:
        got = _parse_html_fast(doc)
        assert [_full_shape(c) for c in got.children] == tolerant
    else:
        with pytest.raises(ValueError):
            _parse_html_fast(doc)
