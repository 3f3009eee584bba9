"""Minimal document model + stdlib parsers for the extraction UDF.

The reference parses HTML with html5lib and XML with xml.dom.minidom
(/root/reference/pyRdfa/__init__.py:619-660).  Neither html5lib nor lxml
is available in this environment, so we build a small tolerant tree on
top of ``html.parser`` (stdlib) for HTML5 and convert
``xml.dom.minidom`` trees for XML/XHTML/SVG.  The node model is
intentionally tiny: it never crosses the JVM boundary — it lives only
inside the Arrow batch UDF.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from xml.dom import minidom


class Node:
    """One element. ``children`` holds Node instances and plain strings
    (text). Attribute map preserves document order (dict in py3.7+)."""

    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.tag = tag
        self.attrs: dict[str, str] = attrs or {}
        self.children: list = []
        self.parent: Node | None = None

    # -- DOM-ish helpers the engine uses ---------------------------------
    def has(self, name: str) -> bool:
        return name in self.attrs

    def get(self, name: str) -> str:
        return self.attrs.get(name, "")

    def set(self, name: str, value: str) -> None:
        self.attrs[name] = value

    def remove(self, name: str) -> None:
        self.attrs.pop(name, None)

    def append(self, child) -> None:
        if isinstance(child, Node):
            child.parent = self
        self.children.append(child)

    def element_children(self):
        return [c for c in self.children if isinstance(c, Node)]

    def iter_elements(self):
        yield self
        for c in self.children:
            if isinstance(c, Node):
                yield from c.iter_elements()

    def text_content(self) -> str:
        """Recursive text collection (reference: pyRdfa/property.py:231-252)."""
        out = []
        for c in self.children:
            if isinstance(c, Node):
                out.append(c.text_content())
            else:
                out.append(c)
        return "".join(out)

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<Node {self.tag} {self.attrs}>"


# ---------------------------------------------------------------------------
# HTML parsing (tolerant, html.parser based)
# ---------------------------------------------------------------------------

_VOID_ELEMENTS = frozenset(
    """area base br col embed hr img input link meta param source track
    wbr""".split()
)

# Document-level fault isolation: the engine and serializers are
# recursive, so unbounded element depth would hit Python's recursion
# limit inside an executor task.  Real documents stay far below this;
# anything deeper is rejected at parse time and the extraction UDF
# records a per-document diagnostic instead of failing the task.
MAX_DEPTH = 400


class DocumentTooDeep(ValueError):
    pass

# HTML5 tree-construction fixups (the documented html5lib behaviours
# for malformed markup, WHATWG HTML §13.2.6).  The sets below encode
# the spec's scope rules rather than a naive same-tag heuristic:
#
# * _SPECIAL is the spec's "special" element category (abridged to the
#   tags that occur in practice): the auto-close walk for li/dd/dt
#   skips non-special elements (formatting, span, ...) plus the
#   spec-exempt address/div/p, and stops at any other special element.
# * _BUTTON_SCOPE bounds the "p element in button scope" test: a block
#   start tag closes an open <p> unless a scope boundary intervenes.
# * _FMT is the formatting category.  When a close operation
#   implicitly ends formatting elements — `</b>` over an open <i>, a
#   block/li start tag closing a <p> that holds an open <b>, a parent
#   end tag crossing an open formatting child — html5lib's adoption
#   agency / active-formatting reconstruction RE-OPENS them at the
#   new insertion point.  This builder implements that reconstruction
#   (clones re-open in document order, inside the newly-inserted
#   element for start-tag closes, at the parent for end-tag closes),
#   which reproduces html5lib's tree for the common misnesting
#   shapes.  The residual it does NOT attempt is the spec's
#   furthest-block dance: an end tag whose implicitly-closed range
#   contains NON-formatting elements (e.g. `</b>` across an open
#   <div>) closes conservatively and records a diagnostic — never a
#   silently different tree.
# * _TABLE_CTX drives foster parenting: content that the "in table"
#   insertion modes do not allow is re-parented to just before the
#   table (html5lib's fixup), with <tr> under table implying <tbody>
#   and <td>/<th> under table/tbody implying <tr>.
_SPECIAL = frozenset("""address applet area article aside base basefont
    blockquote body br button caption center col colgroup dd details
    dir div dl dt embed fieldset figcaption figure footer form frame
    frameset h1 h2 h3 h4 h5 h6 head header hgroup hr html iframe img
    input li link listing main marquee menu meta nav noembed noframes
    noscript object ol p param plaintext pre script section select
    source style summary table tbody td template textarea tfoot th
    thead title tr track ul wbr xmp""".split())

_BUTTON_SCOPE = frozenset(
    "applet caption html table td th marquee object template button"
    .split())

_FMT = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split())

_BLOCK_CLOSES_P = frozenset("""address article aside blockquote center
    details dialog dir div dl fieldset figcaption figure footer form
    h1 h2 h3 h4 h5 h6 header hgroup hr listing main menu nav ol p pre
    section summary table ul xmp""".split())

# start tag -> (targets to implicitly close, explicit boundary set);
# boundary None means the _SPECIAL-category walk described above
_AUTOCLOSE = {
    "li": ({"li"}, None),
    "dt": ({"dt", "dd"}, None),
    "dd": ({"dt", "dd"}, None),
    "tr": ({"tr"}, {"table", "tbody", "thead", "tfoot", "html"}),
    "td": ({"td", "th"}, {"tr", "table", "html"}),
    "th": ({"td", "th"}, {"tr", "table", "html"}),
    "option": ({"option"}, {"select", "html"}),
}


def _autoclose_index(stack: list, tag: str):
    """Index of the open element an ``li``/``dd``/``dt``/``tr``/...
    start tag implicitly closes (it and everything above it end), or
    None when a scope boundary comes first.  ``stack[0]`` is the
    document node and is never closed."""
    targets, boundary = _AUTOCLOSE[tag]
    for i in range(len(stack) - 1, 0, -1):
        t = stack[i].tag
        if t in targets:
            return i
        if boundary is None:
            if t in _SPECIAL and t not in ("address", "div", "p"):
                return None
        elif t in boundary:
            return None
    return None


def _p_in_button_scope(stack: list):
    """Index of the open <p> a block start tag implicitly closes, or
    None when a button-scope boundary comes first."""
    for i in range(len(stack) - 1, 0, -1):
        t = stack[i].tag
        if t == "p":
            return i
        if t in _BUTTON_SCOPE:
            return None
    return None


# the table's section elements: one of these start tags ends the open
# section (with any row or cell inside it) back at the table
_TABLE_SECTIONS = frozenset(
    "caption colgroup tbody thead tfoot".split())

_TABLE_CTX = {
    "table": {"caption", "colgroup", "col", "thead", "tbody", "tfoot",
              "tr", "td", "th", "style", "script", "template", "form"},
    "tbody": {"tr", "td", "th", "style", "script", "template"},
    "thead": {"tr", "td", "th", "style", "script", "template"},
    "tfoot": {"tr", "td", "th", "style", "script", "template"},
    "tr": {"td", "th", "style", "script", "template"},
}


_RECONSTRUCT_VOID = frozenset(
    "br img embed area wbr input".split())


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.stack = [self.root]
        self.diagnostics: list[tuple[str, str, str]] = []
        # active-formatting entries awaiting reconstruction: filled
        # when a close implicitly ends formatting elements, drained
        # LAZILY the moment content actually follows (spec: no
        # content, no clone)
        self._pending: list[tuple[str, dict]] = []
        # open <p> elements on the stack: a block start tag with none
        # open skips the button-scope walk (O(depth) per tag otherwise)
        self._open_p = 0

    def _warn_fmt_reopen(self, tag: str, closed) -> None:
        fmts = [tag] + [n.tag for n in closed if n.tag in _FMT]
        self.diagnostics.append((
            "warning", "html-misnested-formatting",
            f"</{tag}> crosses open non-formatting element(s) "
            f"<{'>, <'.join(n.tag for n in closed if n.tag not in _FMT)}> "
            f"(the spec's furthest-block case): formatting element(s) "
            f"<{'>, <'.join(fmts)}> close conservatively here instead "
            "of the adoption agency's re-parenting"))

    def _collect_fmt(self, closed) -> None:
        for n in closed:
            if n.tag in _FMT:
                entry = (n.tag, dict(n.attrs))
                # Noah's Ark clause (§13.2.4.3): at most THREE
                # identical active-formatting entries — without it,
                # a page of repeated unclosed formatting
                # ("<p><b>x" * N) re-nests one clone deeper per
                # paragraph until the depth guard kills the document;
                # html5lib caps exactly the same way
                if sum(1 for e in self._pending if e == entry) < 3:
                    self._pending.append(entry)

    def _reconstruct(self) -> None:
        for tag, attrs in self._pending:
            node = Node(tag, attrs)
            self.stack[-1].append(node)
            self._push(node)
        self._pending = []

    def _pop_to(self, i: int) -> None:
        """Close ``stack[i]`` and everything above it."""
        self._open_p -= sum(1 for n in self.stack[i:] if n.tag == "p")
        del self.stack[i:]

    def _close_p_in_button_scope(self) -> None:
        if not self._open_p:
            return
        i = _p_in_button_scope(self.stack)
        if i is not None:
            self._collect_fmt(self.stack[i + 1:])
            self._pop_to(i)

    def _autoclose(self, tag: str) -> None:
        i = _autoclose_index(self.stack, tag)
        if i is not None:
            self._collect_fmt(self.stack[i + 1:])
            self._pop_to(i)

    def _nearest_table(self):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == "table":
                return i
        return None

    def _push(self, node: Node) -> None:
        if len(self.stack) >= MAX_DEPTH:
            raise DocumentTooDeep(
                f"element nesting exceeds MAX_DEPTH={MAX_DEPTH}")
        self.stack.append(node)
        if node.tag == "p":
            self._open_p += 1

    # html.parser lowercases tag and attribute names already.
    def handle_starttag(self, tag, attrs):
        if tag in _BLOCK_CLOSES_P:
            self._close_p_in_button_scope()
        if tag in _AUTOCLOSE:
            self._autoclose(tag)
        # reconstruct active formatting for the start tags that do per
        # spec: phrasing/formatting/unknown elements plus the
        # reconstructing voids — block/structure elements (div, p, li,
        # table, ...) insert first; their CONTENT reconstructs later
        if self._pending and self.stack[-1].tag not in _TABLE_CTX \
                and (tag not in _SPECIAL or tag in _RECONSTRUCT_VOID):
            self._reconstruct()
        # "in table" insertion modes: imply tbody/tr, foster-parent
        # anything the table content model does not allow
        cur = self.stack[-1].tag
        if tag in _TABLE_SECTIONS:
            # "in table body" / "in row" / "in cell": the new section
            # is the table's child, not foster-parented out of it
            ti = self._nearest_table()
            if (ti is not None and ti + 1 < len(self.stack)
                    and self.stack[ti + 1].tag in _TABLE_SECTIONS):
                self._pop_to(ti + 1)
                cur = "table"
        if cur in _TABLE_CTX:
            if tag == "tr" and cur == "table":
                tb = Node("tbody")
                self.stack[-1].append(tb)
                self._push(tb)
            elif tag in ("td", "th") and cur in ("table", "tbody",
                                                 "thead", "tfoot"):
                if cur == "table":
                    tb = Node("tbody")
                    self.stack[-1].append(tb)
                    self._push(tb)
                trn = Node("tr")
                self.stack[-1].append(trn)
                self._push(trn)
            elif tag not in _TABLE_CTX[cur]:
                amap = {}
                for k, v in attrs:
                    if k not in amap:
                        amap[k] = v if v is not None else ""
                node = Node(tag, amap)
                self._foster_insert(node)
                if tag not in _VOID_ELEMENTS:
                    self._push(node)
                return
        amap = {}
        for k, v in attrs:
            if k not in amap:
                amap[k] = v if v is not None else ""
        node = Node(tag, amap)
        self.stack[-1].append(node)
        if tag not in _VOID_ELEMENTS:
            self._push(node)

    def _foster_insert(self, child) -> None:
        """Insert a node/text just before the nearest open table (the
        spec's foster-parenting step for content misplaced in table
        context)."""
        ti = self._nearest_table()
        if ti is None or ti == 0:  # shouldn't happen; append in place
            self.stack[-1].append(child)
            return
        table = self.stack[ti]
        # the table's own parent: a table that was itself fostered
        # sits above an element on the stack that does not hold it
        parent = table.parent
        if isinstance(child, Node):
            child.parent = parent
        idx = next(i for i, c in enumerate(parent.children)
                   if c is table)
        parent.children.insert(idx, child)

    def handle_startendtag(self, tag, attrs):
        amap = {}
        for k, v in attrs:
            if k not in amap:
                amap[k] = v if v is not None else ""
        cur = self.stack[-1].tag
        if cur in _TABLE_CTX and tag not in _TABLE_CTX[cur]:
            self._foster_insert(Node(tag, amap))
            return
        if self._pending \
                and (tag not in _SPECIAL or tag in _RECONSTRUCT_VOID):
            self._reconstruct()
        self.stack[-1].append(Node(tag, amap))

    def handle_endtag(self, tag):
        if tag == "br":
            # spec: </br> is parsed as <br> (a start tag)
            self.handle_startendtag("br", [])
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                above = self.stack[i + 1:]
                if tag in _FMT and any(n.tag not in _FMT
                                       for n in above):
                    # furthest-block residual: a formatting end tag
                    # crossing open non-formatting elements — the one
                    # shape we close conservatively, with a diagnostic
                    self._warn_fmt_reopen(tag, above)
                else:
                    # implied end tags; formatting descendants stay in
                    # the active list and re-open when content follows
                    self._collect_fmt(above)
                self._pop_to(i)
                return
        # not on the stack: an end tag for a pending (implicitly
        # closed) formatting element cancels its reconstruction —
        # the spec's remove-from-active-formatting-list step
        for j in range(len(self._pending) - 1, -1, -1):
            if self._pending[j][0] == tag:
                del self._pending[j]
                return
        if tag == "p":
            # spec: a stray </p> acts as <p></p> — an empty p element
            self.stack[-1].append(Node("p"))
        # any other stray end tag: ignored (error-correcting behaviour)

    def handle_data(self, data):
        if not data:
            return
        if self.stack[-1].tag in _TABLE_CTX:
            if data.strip():
                # non-whitespace text directly in table context is
                # foster-parented before the table (whitespace stays)
                self._foster_insert(data)
                return
        elif self._pending:
            # spec: character tokens (whitespace included) reconstruct
            # the active formatting elements before insertion
            self._reconstruct()
        self.stack[-1].append(data)


# Fast path: most transcript fragments are well-formed XML, which expat
# (C) parses faster than html.parser's pure-Python tokenizer.  It is a
# plain XML reader: tags and attribute names are lowercased and every
# node it creates is in its input.
#
# Invariant: expat builds only trees that no HTML5 fixup would change.
# The fixups themselves (auto-close, implied tbody/tr, foster
# parenting, formatting reconstruction, void elements, </br>) live in
# _TreeBuilder alone.  Wherever one could apply, the fast path raises
# and parse_html hands the document to _TreeBuilder:
#
# * table markup, a <script>/<style> element (html.parser keeps its
#   text raw, expat decodes entities and parses tags in it) and </br>,
#   all by _ROUTE_OUT before expat runs;
# * a block start tag while a <p> is open in button scope;
# * an li/dd/dt/option start tag that auto-closes an open one;
# * content inside a void element;
# * a CDATA section (HTML parses it as a bogus comment);
# * in parse_html, a tab/newline inside a tag (_TAG_CTRL_WS): expat
#   normalizes it in attribute values, html.parser keeps it.
#
# A new fixup goes into _TreeBuilder, plus one route-out here.
# perfbench/measure.py::_takes_fast_path mirrors the gate (_TAG_CTRL_WS,
# then a _parse_html_fast attempt).
_TAG_CTRL_WS = re.compile(r"<[^>]*[\t\n\r]")

# one C-speed scan gates every route-out check below: a document with
# none of these prefixes (most RDFa fragments) pays nothing more.  It
# over-matches (<pre, <link, <track, ...): only a gate, never a test.
_FIXUP_SCAN = re.compile(
    r"<(?:t[abdfhr]|p|li|d[dt]|option|/br|script|style)", re.IGNORECASE)

# run on the lowercased text: a table, section, row or cell start tag
# (the "in table" insertion modes), a raw-text element or a </br> end
# tag
_ROUTE_OUT = re.compile(
    r"<(?:t(?:able|body|head|foot|[dhr])|/br|script|style)[\s/>]")


def _parse_html_fast(text: str) -> Node:
    from xml.parsers import expat

    if _FIXUP_SCAN.search(text) is None:
        has_p = has_autoclose = False
    else:
        tl = text.lower()
        if _ROUTE_OUT.search(tl):
            raise ValueError("table markup, raw text or </br>")
        has_p = "<p" in tl
        has_autoclose = ("<li" in tl or "<dd" in tl or "<dt" in tl
                         or "<option" in tl)

    doc = Node("#document")
    stack = [doc]

    def start(tag, attrs):
        if len(stack) >= MAX_DEPTH + 1:  # +1: the sgr-root wrapper
            raise DocumentTooDeep(
                f"element nesting exceeds MAX_DEPTH={MAX_DEPTH}")
        tag = tag.lower()
        if stack[-1].tag in _VOID_ELEMENTS:
            raise ValueError("element inside a void element")
        if (has_p and tag in _BLOCK_CLOSES_P
                and _p_in_button_scope(stack) is not None):
            raise ValueError(f"<{tag}> closes an open <p>")
        if (has_autoclose and tag in _AUTOCLOSE
                and _autoclose_index(stack, tag) is not None):
            raise ValueError(f"<{tag}> implicitly closes an open element")
        amap = {}
        for i in range(0, len(attrs), 2):
            k = attrs[i].lower()
            if k not in amap:
                amap[k] = attrs[i + 1]
        n = Node(tag, amap)
        stack[-1].append(n)
        stack.append(n)

    def chardata(d):
        if stack[-1].tag in _VOID_ELEMENTS:
            raise ValueError("text inside a void element")
        stack[-1].append(d)

    def reject_cdata():
        raise ValueError("CDATA section")

    p = expat.ParserCreate()
    p.ordered_attributes = True
    p.buffer_text = True
    p.StartElementHandler = start
    p.EndElementHandler = lambda tag: stack.pop()
    p.CharacterDataHandler = chardata
    p.StartCdataSectionHandler = reject_cdata
    p.Parse("<sgr-root>" + text + "</sgr-root>", True)
    return stack[0].children[0]  # the wrapper element


def parse_html(text: str, diagnostics: list | None = None) -> Node:
    """Parse an HTML5 document/fragment; return the document element.

    If the input has no single root element an ``<html>`` root is
    synthesized (html5lib would wrap content into html/body the same
    way; head/body elements without resource attributes are transparent
    for subject resolution, parse.py:89-96).

    ``diagnostics``, when given, collects ``(severity, code, message)``
    tuples for the one recovery where this parser's tree is DOCUMENTED
    to diverge from html5lib's: a formatting end tag crossing open
    non-formatting elements (the spec's furthest-block adoption-agency
    dance).  Spec-equivalent fixups — auto-closing p/li/dd/tr/td,
    foster parenting, implied tbody/tr, stray end tags, and
    active-formatting RECONSTRUCTION of implicitly-closed formatting
    elements — emit nothing because both trees agree.
    """
    wrapper = None
    if not _TAG_CTRL_WS.search(text):
        try:
            wrapper = _parse_html_fast(text)
        except Exception:
            # not well-formed XML -> tolerant parser.  That includes
            # DocumentTooDeep: expat counts RAW nesting, and a page of
            # unclosed tags ("<p><b>x" * N) nests arbitrarily deep
            # there while the tolerant builder's auto-close keeps the
            # real tree shallow — the tolerant path's own depth guard
            # is the authoritative one.
            wrapper = None
    if wrapper is None:
        builder = _TreeBuilder()
        builder.feed(text)
        builder.close()
        wrapper = builder.root
        if diagnostics is not None:
            diagnostics.extend(builder.diagnostics)
    roots = wrapper.element_children()
    if len(roots) == 1 and not _has_stray_text(wrapper):
        doc = roots[0]
        doc.parent = None
        return doc
    root = Node("html")
    for c in wrapper.children:
        root.append(c)
    return root


def _has_stray_text(docnode: Node) -> bool:
    return any(
        isinstance(c, str) and c.strip() for c in docnode.children
    )


# ---------------------------------------------------------------------------
# XML parsing (XHTML / SVG / generic XML) via minidom
# ---------------------------------------------------------------------------

def parse_xml(text: str) -> Node:
    dom = minidom.parseString(text)
    return _convert_minidom(dom.documentElement)


def _convert_minidom(el, depth: int = 0) -> Node:
    if depth >= MAX_DEPTH:
        raise DocumentTooDeep(f"element nesting exceeds MAX_DEPTH={MAX_DEPTH}")
    attrs = {}
    if el.attributes is not None:
        for i in range(el.attributes.length):
            a = el.attributes.item(i)
            attrs[a.name] = a.value
    node = Node(el.tagName, attrs)
    for ch in el.childNodes:
        if ch.nodeType == ch.ELEMENT_NODE:
            node.append(_convert_minidom(ch, depth + 1))
        elif ch.nodeType in (ch.TEXT_NODE, ch.CDATA_SECTION_NODE):
            node.append(ch.data)
    return node


# ---------------------------------------------------------------------------
# Serialization (XML / HTML literal generation)
# ---------------------------------------------------------------------------

def escape_text(s: str) -> str:
    """Re-escape &, <, > (reference: pyRdfa/property.py:222-229)."""
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _escape_attr(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")
    )


def serialize_node(node: Node, extra_attrs: dict[str, str] | None = None) -> str:
    """Serialize one element to XML text, minidom ``toxml`` style
    (attributes in document order, self-closing empty elements).  Used
    for rdf:XMLLiteral / rdf:HTML generation
    (reference: pyRdfa/utils.py:211-239)."""
    parts = ["<", node.tag]
    attrs = dict(node.attrs)
    if extra_attrs:
        for k, v in extra_attrs.items():
            if k not in attrs:
                attrs[k] = v
    for k, v in attrs.items():
        parts.append(f' {k}="{_escape_attr(v)}"')
    if not node.children:
        parts.append("/>")
        return "".join(parts)
    parts.append(">")
    for c in node.children:
        if isinstance(c, Node):
            parts.append(serialize_node(c))
        else:
            parts.append(escape_text(c))
    parts.append(f"</{node.tag}>")
    return "".join(parts)
