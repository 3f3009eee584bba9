"""RDFa 1.1 (and 1.0) Core processing model, re-implemented from scratch.

This is the document-local half of the pipeline: it runs *inside* an
Arrow-batched ``mapInArrow`` UDF, one call per markup fragment, and
returns plain tuples.  Nothing here touches Spark.

Semantics are the W3C RDFa Core processing model; behaviour parity is
pinned against the reference implementation by file:line in each
method's docstring (all paths relative to /root/reference/):

* recursive per-element step          pyRdfa/parse.py:47-321 (1.1) /325-486 (1.0)
* evaluation-context propagation      pyRdfa/state.py:96-267
* CURIE / TERM / URI resolution       pyRdfa/termorcurie.py:378-499, state.py:269-430
* @property literal generation        pyRdfa/property.py:76-311
* built-in DOM pre-passes             pyRdfa/transform/__init__.py:22-117
* HTML5 host transforms               pyRdfa/host/html5.py:157-224
* @role handling                      pyRdfa/parse.py:491-508

Deliberate deviations (documented in SURVEY.md §4.2):
* blank nodes are minted from a per-document counter (``_:bN``) instead
  of process-global rdflib BNodes (termorcurie.py:84-85) so extraction is
  deterministic and parallelism-invariant; graph isomorphism absorbs this;
* the output "graph" is a list of triples; RDF set semantics (dedup) is
  applied by the Spark layer (per-document set in the UDF);
* embedded RDF subtrees (pyRdfa/embeddedRDF.py) are merged via the
  from-scratch readers in pyrdfa3_spark.functions.turtle instead of
  rdflib's parsers.
"""

from __future__ import annotations

import re
from datetime import datetime
from functools import lru_cache
from typing import NamedTuple, Optional
from urllib.parse import uses_relative as _uses_relative_list
from urllib.parse import quote as _urlquote
from urllib.parse import urljoin as _urljoin
from urllib.parse import urlsplit as _urlsplit

# URL parsing dominates the resolver hot path (R3-R7); results are pure
# functions of their inputs, and real corpora repeat bases and vocab
# IRIs heavily, so small memo tables give a big win per Arrow batch.
urlsplit = lru_cache(maxsize=8192)(_urlsplit)
urljoin = lru_cache(maxsize=8192)(_urljoin)

# scheme extraction equivalent to urlsplit()[0] (RFC 3986 scheme rule)
# without the full parse — the resolvers only need the scheme.
_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):")


def _scheme_of(val: str) -> str:
    m = _SCHEME_RE.match(val)
    return m.group(1).lower() if m else ""


# CPython urljoin returns the ref unchanged when its scheme differs from
# the base's or is not hierarchical-relative; _uri mirrors that branch
# as a fast path, so it must use the SAME scheme list
_USES_RELATIVE = frozenset(_uses_relative_list)

from pyrdfa3_spark.functions.constants import (
    COMMON_URI_SCHEMES,
    RDF_FIRST,
    RDF_HTMLLITERAL,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    RDF_XMLLITERAL,
    RDFA_COPY,
    RDFA_PATTERN,
    RDFA_USES_VOCABULARY,
    XHTML_ROLE,
    XHTML_VOCAB,
    XSD,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DURATION,
    XSD_GMONTHDAY,
    XSD_GYEAR,
    XSD_GYEARMONTH,
    XSD_TIME,
)
from pyrdfa3_spark.functions.hostlang import (
    ACCEPT_XML_BASE,
    ACCEPT_XML_LANG,
    DEFAULT_VOCABULARY,
    HTML_HOSTS,
    Host,
)
from pyrdfa3_spark.functions.initial_context import (
    CORE_TERMS,
    INITIAL_PREFIXES,
    TERMS_1_0,
    XHTML_TERMS,
)
from pyrdfa3_spark.sources.dom import Node, escape_text, serialize_node

# NCNAME-ish patterns (reference: pyRdfa/termorcurie.py:72-75)
NCNAME = re.compile(r"^[A-Za-z][A-Za-z0-9._-]*$")
TERMNAME = re.compile(r"^[A-Za-z]([A-Za-z0-9._-]|/)*$")

_LIST_ATTRS = frozenset(["rel", "rev", "property", "typeof", "role"])
_QUOTE_SAFE = ":/\\?=#~"
_WARN_CHARS = (" ", "\n", "\r", "\t")


class Literal(NamedTuple):
    value: str
    lang: Optional[str]
    datatype: Optional[str]


def is_bnode(term) -> bool:
    return isinstance(term, str) and term.startswith("_:")


class ListMapping:
    """@inlist accumulator (reference: pyRdfa/state.py:58-64, 485-549)."""

    __slots__ = ("mapping", "origin")

    def __init__(self):
        self.mapping: dict = {}
        self.origin = None

    def add(self, prop, resource):
        if prop in self.mapping:
            if resource is not None:
                if self.mapping[prop] is None:
                    self.mapping[prop] = [resource]
                else:
                    self.mapping[prop].append(resource)
        else:
            self.mapping[prop] = [resource] if resource is not None else None


class EvalContext:
    """Per-element evaluation context (reference: pyRdfa/state.py:67-267 +
    pyRdfa/termorcurie.py:144-354 folded into one object)."""

    __slots__ = (
        "rdfa_version", "host", "base", "parsed_base", "lang", "ns",
        "xmlns", "terms", "vocab", "default_curie_uri", "default_ns",
        "list_mapping", "new_list",
    )


def _remove_frag_id(uri: str) -> str:
    try:
        s = urlsplit(uri)
        return s._replace(fragment="").geturl()
    except Exception:
        return uri


# attribute sets for the per-node fast paths (checked via one C-level
# set/dict-keys intersection instead of ten method calls per element)
_RELEVANT_ATTRS = frozenset((
    "href", "resource", "about", "property", "rel", "rev",
    "typeof", "src", "vocab", "prefix"))
_SUBJECT_ATTRS = frozenset(("about", "resource", "src", "href"))


class RDFaProcessor:
    """One instance per document.  ``process(root)`` fills ``triples``
    (list of (s, p, o) with o either str IRI/bnode or Literal) and
    ``diagnostics`` (list of (severity, code, message))."""

    def __init__(self, base: str = "", host: str = Host.HTML5,
                 rdfa_version: str = "1.1", check_lite: bool = False,
                 transformers: tuple = (),
                 hturtle_only: bool = False):
        self.base_arg = base
        self.host = host
        self.rdfa_version = rdfa_version
        self.check_lite = check_lite
        self.transformers = transformers  # of: meta_name, openid, dublin_core
        # embedded-RDF-only traversal, mirroring the reference's
        # HTurtleParser plugin (pyRdfa/rdflibparsers.py:273-351): walk
        # the tree for <script type="text/turtle"> / rdf:RDF islands and
        # skip all RDFa attribute processing
        self.hturtle_only = hturtle_only
        self.triples: list = []
        self.diagnostics: list = []
        self._bnode_n = 0
        self._named_bnodes: dict[str, str] = {}
        self._empty_bnode: Optional[str] = None
        # bound-method dispatch for get_uri (replaces a getattr per call
        # in the hottest resolution path)
        self._uri_funcs = {attr: getattr(self, name)
                           for attr, name in self._RESOURCE_TYPE.items()}

    # ------------------------------------------------------------------ #
    # infrastructure
    # ------------------------------------------------------------------ #
    def add(self, s, p, o):
        if s is None or p is None or o is None:
            return
        self.triples.append((s, p, o))

    def warn(self, code: str, message: str, severity: str = "warning"):
        self.diagnostics.append((severity, code, message))

    def new_bnode(self) -> str:
        self._bnode_n += 1
        return f"_:b{self._bnode_n}"

    def named_bnode(self, label: str) -> str:
        # per-document registry; the reference keeps a process-global one
        # (termorcurie.py:84-85) which is non-deterministic across runs.
        if label not in self._named_bnodes:
            self._named_bnodes[label] = self.new_bnode()
        return self._named_bnodes[label]

    def quote_uri(self, uri: str) -> str:
        s = uri.strip()
        if any(c in s for c in _WARN_CHARS):
            self.warn("unusual-char-in-uri", f"Unusual character in URI: {s!r}")
        return _urlquote(s, safe=_QUOTE_SAFE)

    # ------------------------------------------------------------------ #
    # entry point
    # ------------------------------------------------------------------ #
    def process(self, root: Node) -> list:
        if self.hturtle_only:
            self._hturtle_walk(root, None)
            return self.triples
        ctx = self._make_context(root, None)
        self.rdfa_version = ctx.rdfa_version
        # opt-in transformers run first, then the built-ins, matching the
        # reference's options.transformers + builtInTransformers order
        # (pyRdfa/__init__.py:504-505)
        for name in self.transformers:
            getattr(self, "_t_" + name)(root, ctx)
        # built-in DOM pre-passes, same order as the reference's
        # builtInTransformers (pyRdfa/__init__.py:350-352, applied 504-505)
        self._t_empty_safe_curie(root)
        self._t_top_about(root, ctx)
        self._t_vocab_for_role(root)
        if self.check_lite:
            self._t_lite_check(root, ctx)
        if ctx.rdfa_version >= "1.1":
            self._node_1_1(root, None, ctx, [])
        else:
            self._node_1_0(root, None, ctx, [])
        self._expand_prototypes()
        return self.triples

    def _hturtle_walk(self, node: Node, ctx_in: Optional["EvalContext"]):
        """Embedded-RDF-only traversal (reference HTurtleParser,
        rdflibparsers.py:273-351): context propagation still applies so
        xml:base / <base> affect the islands' base IRI."""
        ctx = self._make_context(node, ctx_in)
        if self._is_embedded_rdf(node, ctx):
            return
        for ch in node.element_children():
            self._hturtle_walk(ch, ctx)

    def _expand_prototypes(self):
        """Per-document rdfa:Pattern / rdfa:copy expansion — the reference
        applies this to every graph unconditionally
        (pyRdfa/__init__.py:516 -> transform/prototype.py:26-37).  The
        corpus-level DataFrame variant lives in operators/graphops.py."""
        patterns = {s for (s, p, o) in self.triples
                    if p == RDF_TYPE and o == RDFA_PATTERN}
        if not patterns:
            return
        copies = [(s, o) for (s, p, o) in self.triples
                  if p == RDFA_COPY and o in patterns]
        if not copies:
            return
        referenced = {proto for _, proto in copies}
        bodies: dict[str, list] = {}
        for (s, p, o) in self.triples:
            if s in referenced and not (p == RDF_TYPE and o == RDFA_PATTERN):
                bodies.setdefault(s, []).append((p, o))
        out = []
        for (s, p, o) in self.triples:
            if s in referenced:
                continue
            if p == RDFA_COPY and o in referenced:
                continue
            out.append((s, p, o))
        for x, proto in copies:
            for (p, o) in bodies.get(proto, []):
                out.append((x, p, o))
        self.triples = out

    # ------------------------------------------------------------------ #
    # DOM pre-passes (reference: pyRdfa/transform/__init__.py:22-117)
    # ------------------------------------------------------------------ #
    def _t_empty_safe_curie(self, node: Node):
        for name in ("about", "resource"):
            if node.get(name) == "[]":
                node.remove(name)
                node.set(name + "_pruned", "")
                self.warn("empty-safe-curie",
                          f"Attribute @{name} uses an empty safe CURIE; ignored")
        for ch in node.element_children():
            self._t_empty_safe_curie(ch)

    def _t_top_about(self, root: Node, ctx):
        def has_any(n, *attrs):
            return any(n.has(a) for a in attrs)

        if not root.has("about"):
            if has_any(root, "resource", "href", "src"):
                if has_any(root, "rel", "rev", "property"):
                    root.set("about", "")
            else:
                root.set("about", "")
        if ctx.host in HTML_HOSTS and ctx.rdfa_version < "1.1":
            for el in root.iter_elements():
                if el.tag in ("head", "body"):
                    if not has_any(el, "href", "resource", "about", "src"):
                        el.set("about", "")

    def _t_vocab_for_role(self, node: Node):
        if node.has("role"):
            vals = []
            for v in node.get("role").strip().split():
                vals.append(XHTML_VOCAB + v if TERMNAME.match(v) else v)
            node.set("role", " ".join(vals))
        for ch in node.element_children():
            self._t_vocab_for_role(ch)

    # optional pre-passes (opt-in transformers, reference
    # pyRdfa/transform/{metaname,OpenID,DublinCore}.py). Enabled via the
    # ``transformers`` constructor-style list on process_with_transforms.
    def _t_meta_name(self, root: Node, ctx):
        """T7: <meta name> -> @property (metaname.py:14-28)."""
        if ctx.host not in HTML_HOSTS:
            return
        for el in root.iter_elements():
            if el.tag == "meta" and el.has("name") and not el.has("property"):
                el.set("property", el.get("name"))

    def _t_openid(self, root: Node, ctx):
        """T8: rel="openid.X" -> openid:X + namespace (OpenID.py:24-63)."""
        if ctx.host not in HTML_HOSTS:
            return
        head = next((e for e in root.iter_elements() if e.tag == "head"),
                    None)
        if head is None:
            return
        found = False
        for link in root.iter_elements():
            if link.tag == "link" and link.has("rel"):
                vals = []
                for v in link.get("rel").strip().split():
                    if v.startswith("openid."):
                        vals.append(v.replace("openid.", "openid:"))
                        found = True
                    else:
                        vals.append(v)
                link.set("rel", " ".join(vals))
        if found and not head.has("xmlns:openid"):
            head.set("xmlns:openid", "http://xmlns.openid.net/auth#")

    def _t_dublin_core(self, root: Node, ctx):
        """T9: <link rel="schema.X" href> prefix mining + qname rewrite of
        link@rel / meta@name (DublinCore.py:25-96)."""
        if ctx.host not in HTML_HOSTS:
            return
        head = next((e for e in root.iter_elements() if e.tag == "head"),
                    None)
        if head is None:
            return
        dcprefixes = {}
        for link in root.iter_elements():
            if link.tag == "link" and link.has("rel"):
                rel, uri = link.get("rel"), link.get("href")
                if uri and rel.startswith("schema."):
                    parts = rel.split(".")
                    if len(parts) > 1 and parts[1]:
                        head.set("xmlns:" + parts[1], uri)
                        dcprefixes[parts[1]] = uri

        def rewrite(vals):
            out = []
            for v in vals.strip().split():
                key, _, lname = v.partition(".")
                if lname and key in dcprefixes:
                    out.append(f"{key}:{lname}")
                else:
                    out.append(v)
            return " ".join(out)

        for el in root.iter_elements():
            if el.tag == "link" and el.has("rel"):
                el.set("rel", rewrite(el.get("rel")))
            elif el.tag == "meta" and el.has("name"):
                el.set("property", rewrite(el.get("name")))

    def _t_lite_check(self, node: Node, ctx):
        """RDFa-Lite conformance warnings (F4/T10; reference:
        pyRdfa/transform/lite.py:17-71) — diagnostics only, nothing is
        removed, matching the WG decision noted in the reference."""
        def warn_attr(attr, extra=""):
            self.warn("non-lite-attribute",
                      f"Attribute @{attr} should not be used in RDFa Lite"
                      + extra)

        if ctx.host in HTML_HOSTS:
            if node.tag != "meta" and node.has("content"):
                warn_attr("content")
            if node.tag != "link" and node.has("rel"):
                if node.tag == "a":
                    vals = node.get("rel").strip().split()
                    if any(not TERMNAME.match(v) for v in vals):
                        warn_attr("rel", " (consider using @property)")
                else:
                    warn_attr("rel", " (consider using @property)")
            for attr in ("about", "inlist", "datatype", "rev"):
                if node.has(attr):
                    warn_attr(attr)
        else:
            for attr in ("about", "inlist", "datatype", "rev", "rel",
                         "content"):
                if node.has(attr):
                    warn_attr(attr)
        for ch in node.element_children():
            self._t_lite_check(ch, ctx)

    def _host_transforms(self, node: Node, ctx):
        """Host-language DOM massaging (reference host_dom_transforms,
        pyRdfa/host/__init__.py:86-90)."""
        if ctx.host in (Host.HTML5, Host.XHTML5):
            self._html5_extra_attributes(node, ctx)
            self._remove_rel(node)
        elif ctx.host == Host.ATOM:
            # atom_add_entry_type (T6; pyRdfa/host/atom.py:19-29)
            if node.tag == "entry" and not node.has("typeof") and \
                    not any(node.has(a) for a in
                            ("resource", "about", "href", "src")):
                node.set("typeof", "")

    # ------------------------------------------------------------------ #
    # evaluation-context construction (reference: pyRdfa/state.py:96-267
    # + pyRdfa/termorcurie.py:166-354)
    # ------------------------------------------------------------------ #
    def _make_context(self, node: Node, inherited: Optional[EvalContext]) -> EvalContext:
        top = inherited is None
        attrs = node.attrs
        ctx = EvalContext()
        if not top:
            ctx.rdfa_version = inherited.rdfa_version
            ctx.host = inherited.host
            ctx.base = inherited.base
            ctx.list_mapping = inherited.list_mapping
            ctx.new_list = False
            if ctx.host in ACCEPT_XML_BASE and "xml:base" in attrs:
                ctx.base = _remove_frag_id(attrs["xml:base"])
        else:
            ctx.host = self.host
            ctx.rdfa_version = self.rdfa_version
            ctx.list_mapping = ListMapping()
            ctx.new_list = True
            # @version on the root may pin the RDFa version (state.py:169-175)
            if "version" in attrs:
                v = attrs["version"]
                if "RDFa 1.0" in v or "RDFa1.0" in v:
                    ctx.rdfa_version = "1.0"
                elif "RDFa 1.1" in v or "RDFa1.1" in v:
                    ctx.rdfa_version = "1.1"
            ctx.base = ""
            if ctx.host in HTML_HOSTS:
                # last <base href> wins (state.py:186-189)
                for el in node.iter_elements():
                    if el.tag == "base" and el.has("href"):
                        ctx.base = _remove_frag_id(el.get("href"))
            elif ctx.host in ACCEPT_XML_BASE and "xml:base" in attrs:
                ctx.base = _remove_frag_id(attrs["xml:base"])
            if ctx.base == "":
                ctx.base = self.base_arg
        if inherited is not None and ctx.base == inherited.base:
            ctx.parsed_base = inherited.parsed_base
        else:
            ctx.parsed_base = urlsplit(ctx.base)

        self._update_mappings(node, ctx, inherited)

        # language (state.py:221-257): @lang/@xml:lang for the HTML family
        # (@xml:lang wins, empty value resets), @xml:lang alone elsewhere.
        ctx.lang = inherited.lang if not top else None
        if ctx.host in HTML_HOSTS:
            lang = attrs["lang"].lower() if "lang" in attrs else None
            xmllang = attrs["xml:lang"].lower() if "xml:lang" in attrs \
                else None
            if xmllang is not None:
                ctx.lang = xmllang if xmllang else None
            elif lang is not None:
                ctx.lang = lang if lang else None
        elif ctx.host in ACCEPT_XML_LANG and "xml:lang" in attrs:
            v = attrs["xml:lang"].lower()
            ctx.lang = v if v else None

        # default namespace for XML literals (state.py:261-266)
        if "xmlns" in attrs:
            ctx.default_ns = attrs["xmlns"]
        elif not top and inherited.default_ns is not None:
            ctx.default_ns = inherited.default_ns
        else:
            ctx.default_ns = None
        return ctx

    def _update_mappings(self, node: Node, ctx: EvalContext,
                         inherited: Optional[EvalContext]):
        """Prefix / term / vocab maps (reference: pyRdfa/termorcurie.py:166-354).
        ``INITIAL_PREFIXES`` plays the role of the initial-context dim table
        (joined via broadcast on the Spark side for canonicalization)."""
        top = inherited is None
        attrs = node.attrs

        ctx.default_curie_uri = XHTML_VOCAB if top else inherited.default_curie_uri

        # default vocabulary (@vocab, 1.1 only; termorcurie.py:199-221)
        if ctx.rdfa_version >= "1.1":
            ctx.vocab = DEFAULT_VOCABULARY.get(ctx.host) if top else inherited.vocab
            if "vocab" in attrs:
                if attrs["vocab"] == "":
                    ctx.vocab = DEFAULT_VOCABULARY.get(ctx.host) if top else None
                else:
                    v = self.get_uri(node, ctx, "vocab")
                    if v:
                        ctx.vocab = v
                        if not self.hturtle_only:
                            self.add(ctx.base, RDFA_USES_VOCABULARY, v)
        else:
            ctx.vocab = None

        # terms (termorcurie.py:225-238)
        if top:
            if ctx.rdfa_version >= "1.1":
                ctx.terms = dict(CORE_TERMS)
                if ctx.host == Host.XHTML:
                    ctx.terms.update(XHTML_TERMS)
            else:
                ctx.terms = dict(TERMS_1_0)
        else:
            ctx.terms = inherited.terms

        # local xmlns:* declarations (termorcurie.py:247-273)
        local: dict[str, str] = {}
        xmlns_local: dict[str, str] = {}
        for name, value in attrs.items():
            if name.startswith("xmlns:"):
                prefix = name[6:]
                if prefix == "":
                    continue
                if ctx.rdfa_version >= "1.1" and ctx.host in HTML_HOSTS:
                    self.warn("xmlns-deprecated",
                              f"@xmlns:{prefix} is deprecated in RDFa 1.1")
                if prefix == "_":
                    self.warn("bnode-prefix", "'_' cannot be defined as a prefix")
                elif ":" in prefix:
                    self.warn("colon-in-prefix",
                              f"illegal character in prefix {prefix!r}")
                else:
                    uri = self.quote_uri(value)
                    pr = prefix.lower() if ctx.rdfa_version >= "1.1" else prefix
                    local[pr] = uri
                    xmlns_local[pr] = uri

        # @prefix declarations, leftmost wins (termorcurie.py:277-320)
        if ctx.rdfa_version >= "1.1" and "prefix" in attrs:
            toks = attrs["prefix"].strip().split()
            for i in range(len(toks) - 2, -1, -2):
                prefix, value = toks[i], toks[i + 1]
                if not prefix.endswith(":"):
                    self.warn("invalid-prefix",
                              f"invalid prefix declaration {prefix!r}")
                    continue
                if prefix == ":":
                    self.warn("no-default-prefix",
                              "default prefix cannot be changed via @prefix")
                    continue
                prefix = prefix[:-1]
                uri = self.quote_uri(value)
                if prefix == "_":
                    self.warn("bnode-prefix", "'_' cannot be defined as a prefix")
                elif NCNAME.match(prefix):
                    pr = prefix.lower()
                    if pr in xmlns_local and xmlns_local[pr] != uri:
                        self.warn("prefix-vs-xmlns",
                                  f"@prefix overrides @xmlns:{pr}")
                    local[pr] = uri
                else:
                    self.warn("non-ncname-prefix",
                              f"prefix {prefix!r} is not an NCNAME")

        # copy-on-write inheritance (termorcurie.py:322-341)
        inherited_ns = {} if top else inherited.ns
        if not local:
            ctx.ns = inherited_ns
        else:
            merged = dict(inherited_ns)
            for k, v in local.items():
                if (k in inherited_ns and inherited_ns[k] != v) or (
                        k in INITIAL_PREFIXES and INITIAL_PREFIXES[k] != v):
                    self.warn("prefix-redefinition", f"prefix {k!r} redefined")
                merged[k] = v
            ctx.ns = merged

        inherited_xmlns = {} if top else inherited.xmlns
        if not xmlns_local:
            ctx.xmlns = inherited_xmlns
        else:
            ctx.xmlns = {**inherited_xmlns, **xmlns_local}

    # ------------------------------------------------------------------ #
    # resolution operators R3-R9 (reference: pyRdfa/state.py:269-482,
    # pyRdfa/termorcurie.py:356-499)
    # ------------------------------------------------------------------ #
    def _check_reference(self, val: str, ctx) -> bool:
        netloc = val[2:].split("/", 1)[0].split("?", 1)[0].split("#", 1)[0] \
            if val.startswith("//") else ""
        rest, _, fragment = val.partition("#")
        _, _, query = rest.partition("?")
        if netloc != "" and ctx.rdfa_version >= "1.1":
            self.warn("absolute-curie-reference",
                      f"CURIE reference must not start with //: {val!r}")
            return False
        for part in (query, fragment):
            if any(c in part for c in "#[]"):
                self.warn("illegal-curie-reference",
                          f"illegal character in CURIE reference {val!r}")
                return False
        return True

    def curie_to_uri(self, val: str, ctx) -> Optional[str]:
        """CURIE -> IRI/bnode (reference: pyRdfa/termorcurie.py:378-465)."""
        if val == "":
            return None
        if val == ":":
            return ctx.default_curie_uri or None
        parts = val.split(":", 1)
        if len(parts) == 1:
            return None
        prefix = parts[0].lower() if ctx.rdfa_version >= "1.1" else parts[0]
        reference = parts[1]
        if prefix == "":
            if ctx.default_curie_uri and self._check_reference(reference, ctx):
                return ctx.default_curie_uri + reference
            return None
        if prefix == "_":
            if reference == "":
                if self._empty_bnode is None:
                    self._empty_bnode = self.new_bnode()
                return self._empty_bnode
            return self.named_bnode(reference)
        if not NCNAME.match(prefix):
            return None
        if prefix in ctx.ns and self._check_reference(reference, ctx):
            ns = ctx.ns[prefix]
            return ns if reference == "" else ns + reference
        # the initial-context table only exists in 1.1 (the reference's
        # InitialContext is empty below 1.1, termorcurie.py:119)
        if ctx.rdfa_version >= "1.1" and prefix in INITIAL_PREFIXES \
                and self._check_reference(reference, ctx):
            ns = INITIAL_PREFIXES[prefix]
            return ns if reference == "" else ns + reference
        return None

    def term_to_uri(self, term: str, ctx) -> Optional[str]:
        """TERM -> IRI (reference: pyRdfa/termorcurie.py:467-499)."""
        if not term or not TERMNAME.match(term):
            return None
        if ctx.vocab is not None:
            return ctx.vocab + term
        if term in ctx.terms:
            return ctx.terms[term]
        tl = term.lower()
        for t, uri in ctx.terms.items():
            if t.lower() == tl:
                return uri
        return None

    def _uri(self, val: str, ctx, check: bool = True) -> Optional[str]:
        """Plain URI resolution against base, with the '#'/'?' tail repair
        (reference: pyRdfa/state.py:269-339)."""
        def create(uri: str, chk: bool) -> str:
            u = uri.strip()
            if chk and _scheme_of(u) not in COMMON_URI_SCHEMES:
                self.warn("unusual-uri-scheme", f"unusual URI scheme in {u!r}")
            return u

        def join(base: str, v: str, chk: bool) -> str:
            # fast paths for the two dominant shapes, both provably
            # equal to urljoin (≈20% of engine time was URL resolution):
            # fragment-only refs replace base's fragment (RFC 3986
            # §5.3); refs whose scheme differs from base's or is not in
            # urllib's uses_relative are returned unchanged (CPython
            # urljoin's own first branch)
            if v.startswith("#"):
                h = base.find("#")
                joined = (base if h < 0 else base[:h]) + v
            else:
                vs = _scheme_of(v)
                if vs and (vs != ctx.parsed_base[0]
                           or vs not in _USES_RELATIVE):
                    joined = v
                else:
                    joined = urljoin(base, v)
            if v and v[-1] in "#?" and (not joined or joined[-1] != v[-1]):
                return create(joined + v[-1], chk)
            return create(joined, chk)

        if val == "":
            return ctx.base
        if ctx.parsed_base[0] == "":
            # base is a local name / empty: resolve relative only
            if _scheme_of(val) == "":
                return join(ctx.base, val, False)
            return create(val, False)
        return join(ctx.base, val, check)

    def _curie_or_uri(self, val: str, ctx) -> Optional[str]:
        """@about/@resource resolution (reference: pyRdfa/state.py:341-387)."""
        if val == "":
            return ctx.base
        safe = False
        if val.startswith("["):
            if not val.endswith("]"):
                self.warn("illegal-safe-curie", f"incomplete safe CURIE {val!r}")
                return None
            val = val[1:-1]
            safe = True
        if ctx.rdfa_version >= "1.1":
            retval = self.curie_to_uri(val, ctx)
            if retval is None:
                if safe:
                    self.warn("no-curie-in-safe-curie",
                              f"safe CURIE {val!r} does not resolve")
                    return None
                return self._uri(val, ctx)
            if not is_bnode(retval) and _scheme_of(retval) == "":
                return ctx.base + retval
            return retval
        if safe:
            return self.curie_to_uri(val, ctx)
        return self._uri(val, ctx)

    def _term_curie_or_absuri(self, val: str, ctx) -> Optional[str]:
        """@rel/@rev/@property/@typeof/@datatype/@role resolution
        (reference: pyRdfa/state.py:389-430)."""
        if val == "":
            return None
        if TERMNAME.match(val):
            retval = self.term_to_uri(val, ctx)
            if not retval:
                self.warn("undefined-term", f"unresolvable term {val!r}")
                return None
            return retval
        retval = self.curie_to_uri(val, ctx)
        if retval:
            return retval
        if ctx.rdfa_version >= "1.1":
            scheme = _scheme_of(val)
            if scheme == "":
                self.warn("non-legal-curie-ref",
                          f"relative IRI not allowed here: {val!r}")
                return None
            if scheme not in COMMON_URI_SCHEMES:
                self.warn("unusual-uri-scheme", f"unusual URI scheme in {val!r}")
            return val
        self.warn("undefined-curie", f"unresolvable CURIE {val!r}")
        return None

    _RESOURCE_TYPE = {
        "href": "_uri", "src": "_uri", "vocab": "_uri",
        "about": "_curie_or_uri", "resource": "_curie_or_uri",
        "rel": "_term_curie_or_absuri", "rev": "_term_curie_or_absuri",
        "datatype": "_term_curie_or_absuri", "typeof": "_term_curie_or_absuri",
        "property": "_term_curie_or_absuri", "role": "_term_curie_or_absuri",
    }

    def _ctx_neutral(self, node: Node) -> bool:
        """True when the element can neither change the evaluation
        context nor emit anything on its own: no attributes at all
        (so no RDFa attrs, no xml:base/lang/xmlns*/prefix/vocab, no
        @role), not a tag the host transforms touch without attributes
        (HTML5 <time> derives @datatype from its text, Atom <entry>
        gains @typeof), and not an embedded rdf:RDF island (matched on
        the tag alone under SVG/core hosts; <script> turtle islands
        need a @type attribute, so attribute-free scripts are inert).
        """
        return (not node.attrs and node.tag not in ("time", "entry")
                and not node.tag.endswith("RDF"))

    def get_uri(self, node: Node, ctx, attr: str):
        """Attribute -> IRI(s) dispatch (reference: pyRdfa/state.py:434-465)."""
        val = node.attrs.get(attr)
        if val is None:
            return [] if attr in _LIST_ATTRS else None
        func = self._uri_funcs.get(attr) or self._uri
        if attr in _LIST_ATTRS:
            out = []
            for v in val.strip().split():
                r = func(v.strip(), ctx)
                if r is not None:
                    out.append(r)
            return out
        return func(val.strip(), ctx)

    def get_resource(self, node: Node, ctx, *attrs):
        """First-win resource pick (reference: pyRdfa/state.py:467-482)."""
        for attr in attrs:
            uri = self.get_uri(node, ctx, attr)
            if uri is not None:
                return uri
        return None

    # ------------------------------------------------------------------ #
    # HTML5 host transforms (reference: pyRdfa/host/html5.py:157-224)
    # ------------------------------------------------------------------ #
    def _html5_extra_attributes(self, node: Node, ctx):
        attrs = node.attrs
        if "content" in attrs:
            return
        value = attrs.get("datetime")
        if value is None and node.tag == "time":
            value = node.text_content()
        if value is None:
            return
        if "datatype" not in attrs:
            dt = _format_test(value)
            if dt is not None:
                node.set("datatype", dt)
        node.set("content", value)

    def _remove_rel(self, node: Node):
        if "property" not in node.attrs:
            return
        for attr in ("rev", "rel"):
            if node.has(attr):
                vals = node.get(attr).strip().split()
                if vals:
                    keep = [v for v in vals if not TERMNAME.match(v)]
                    if keep:
                        node.set(attr, " ".join(keep))
                    else:
                        node.remove(attr)

    # ------------------------------------------------------------------ #
    # @role (reference: pyRdfa/parse.py:491-508)
    # ------------------------------------------------------------------ #
    def _handle_role(self, node: Node, ctx):
        if "role" not in node.attrs:
            return
        if node.has("id"):
            subject = ctx.base + "#" + node.get("id").strip()
        else:
            subject = self.new_bnode()
        for obj in self.get_uri(node, ctx, "role"):
            self.add(subject, XHTML_ROLE, obj)

    # ------------------------------------------------------------------ #
    # embedded RDF (E14; reference: pyRdfa/embeddedRDF.py:23-87): merge
    # <script type="text/turtle"> and rdf:RDF subtrees into the output
    # graph, then skip RDFa processing of the subtree.
    # ------------------------------------------------------------------ #
    def _is_embedded_rdf(self, node: Node, ctx) -> bool:
        if ctx.host in (Host.SVG, Host.HTML5, Host.XHTML5, Host.XHTML):
            if node.tag == "script" and \
                    node.get("type").split(";")[0].strip() == "text/turtle":
                from pyrdfa3_spark.functions.turtle import (
                    TurtleError, parse_turtle,
                )
                try:
                    for t in parse_turtle(node.text_content(), base=ctx.base,
                                          bnode_factory=self.new_bnode):
                        self.add(*t)
                except TurtleError as exc:
                    self.warn("embedded-turtle-error", str(exc)[:200])
                return True
        if ctx.host in (Host.SVG, Host.RDFA_CORE):
            if node.tag.rpartition(":")[2] == "RDF":
                from pyrdfa3_spark.functions.turtle import parse_rdfxml_node
                try:
                    for t in parse_rdfxml_node(node, base=ctx.base,
                                               bnode_factory=self.new_bnode):
                        self.add(*t)
                except Exception as exc:
                    self.warn("embedded-rdfxml-error", str(exc)[:200])
                return True
        return False

    # ------------------------------------------------------------------ #
    # the recursive RDFa 1.1 step (reference: pyRdfa/parse.py:72-321)
    # ------------------------------------------------------------------ #
    def _node_1_1(self, node: Node, parent_object, ctx_in: EvalContext,
                  parent_incomplete: list):
        if self._ctx_neutral(node):
            # attribute-free element (the bulk of prose markup): every
            # EvalContext field would inherit verbatim, no host
            # transform / role / embedded-RDF path can fire (the tag
            # guards in _ctx_neutral), and the element itself emits
            # nothing — recurse with the PARENT context object instead
            # of building a copy.  Safe because contexts are only
            # mutated by the slow path of their OWN node (list_mapping
            # reassignment), never by descendants, and ctx.new_list is
            # read only by that same node's _materialize_lists.
            for ch in node.element_children():
                self._node_1_1(ch, parent_object, ctx_in,
                               parent_incomplete)
            return
        ctx = self._make_context(node, ctx_in)
        self._handle_role(node, ctx)
        if self._is_embedded_rdf(node, ctx):
            return
        self._host_transforms(node, ctx)
        attrs = node.attrs  # bound once: this method dominates the profile

        # fast path: no relevant RDFa attribute on the element
        # (parse.py:133-137) — recurse, forwarding incomplete triples.
        if not (_RELEVANT_ATTRS & attrs.keys()):
            for ch in node.element_children():
                self._node_1_1(ch, parent_object, ctx, parent_incomplete)
            return

        def header_check():
            # <head>/<body> without resource attrs inherit the parent
            # object as subject (parse.py:89-96)
            if ctx.host in HTML_HOSTS and node.tag in ("head", "body"):
                if not (_SUBJECT_ATTRS & attrs.keys()):
                    return parent_object
            return None

        current_subject = None
        current_object = None
        typed_resource = None
        has_rel_rev = "rel" in attrs or "rev" in attrs
        bare_property = ("property" in attrs
                         and "content" not in attrs
                         and "datatype" not in attrs)

        if has_rel_rev:
            # @rel/@rev branch (parse.py:147-175)
            current_subject = header_check()
            if "about" in attrs:
                current_subject = self.get_uri(node, ctx, "about")
                if "typeof" in attrs:
                    typed_resource = current_subject
            if current_subject is None:
                current_subject = parent_object
            else:
                ctx.list_mapping = ListMapping()
                ctx.list_mapping.origin = current_subject
                ctx.new_list = True
            current_object = self.get_resource(node, ctx, "resource", "href", "src")
            if "typeof" in attrs and "about" not in attrs:
                if current_object is None:
                    current_object = self.new_bnode()
                typed_resource = current_object
            if "inlist" not in attrs and current_object is not None:
                ctx.list_mapping = ListMapping()
                ctx.list_mapping.origin = current_object
                ctx.new_list = True
        elif bare_property:
            # bare @property branch (parse.py:177-198)
            current_subject = header_check()
            if "about" in attrs:
                current_subject = self.get_uri(node, ctx, "about")
                if "typeof" in attrs:
                    typed_resource = current_subject
            if current_subject is None:
                current_subject = parent_object
            else:
                ctx.list_mapping = ListMapping()
                ctx.list_mapping.origin = current_subject
                ctx.new_list = True
            if typed_resource is None and "typeof" in attrs:
                typed_resource = self.get_resource(
                    node, ctx, "resource", "href", "src")
                if typed_resource is None:
                    typed_resource = self.new_bnode()
                current_object = typed_resource
            else:
                current_object = current_subject
        else:
            # no-rel/rev branch (parse.py:200-223)
            current_subject = header_check()
            if current_subject is None:
                current_subject = self.get_resource(
                    node, ctx, "about", "resource", "href", "src")
            if current_subject is None:
                if "typeof" in attrs:
                    current_subject = self.new_bnode()
                    ctx.list_mapping = ListMapping()
                    ctx.list_mapping.origin = current_subject
                    ctx.new_list = True
                else:
                    current_subject = parent_object
            else:
                ctx.list_mapping = ListMapping()
                ctx.list_mapping.origin = current_subject
                ctx.new_list = True
            current_object = current_subject
            if "typeof" in attrs:
                typed_resource = current_subject

        # type triples (parse.py:227-229)
        if "typeof" in attrs:
            for t in self.get_uri(node, ctx, "typeof"):
                if typed_resource:
                    self.add(typed_resource, RDF_TYPE, t)

        # @rel / @rev triples + incomplete triples (parse.py:234-268)
        incomplete: list = []
        if "rel" in attrs:
            for prop in self.get_uri(node, ctx, "rel"):
                if is_bnode(prop):
                    self.warn("bnode-predicate",
                              "blank node cannot be used as @rel")
                    continue
                if "inlist" in attrs:
                    if current_object is not None:
                        ctx.list_mapping.add(prop, current_object)
                    else:
                        ctx.list_mapping.add(prop, None)
                        incomplete.append((None, prop, None))
                else:
                    if current_object is not None:
                        self.add(current_subject, prop, current_object)
                    else:
                        incomplete.append((current_subject, prop, None))
        if "rev" in attrs:
            for prop in self.get_uri(node, ctx, "rev"):
                if is_bnode(prop):
                    self.warn("bnode-predicate",
                              "blank node cannot be used as @rev")
                    continue
                if current_object is not None:
                    self.add(current_object, prop, current_subject)
                else:
                    incomplete.append((None, prop, current_subject))

        # @property generation (pyRdfa/property.py:76-150)
        if "property" in attrs:
            self._process_property_1_1(node, ctx, current_subject, typed_resource)

        object_to_children = current_object if current_object is not None \
            else self.new_bnode()

        for ch in node.element_children():
            self._node_1_1(ch, object_to_children, ctx, incomplete)

        # complete the parent's incomplete triples (parse.py:293-300)
        for (s, p, o) in parent_incomplete:
            if s is None and o is None:
                ctx_in.list_mapping.add(p, current_subject)
            else:
                self.add(s if s is not None else current_subject, p,
                         o if o is not None else current_subject)

        self._materialize_lists(ctx)

    def _materialize_lists(self, ctx):
        """rdf:first/rest/nil cons chains (reference: pyRdfa/parse.py:303-316)."""
        if not (ctx.new_list and ctx.list_mapping.mapping):
            return
        origin = ctx.list_mapping.origin
        for prop, vals in ctx.list_mapping.mapping.items():
            if vals is None:
                self.add(origin, prop, RDF_NIL)
            else:
                heads = [self.new_bnode() for _ in vals] + [RDF_NIL]
                for i, v in enumerate(vals):
                    self.add(heads[i], RDF_FIRST, v)
                    self.add(heads[i], RDF_REST, heads[i + 1])
                self.add(origin, prop, heads[0])

    # ------------------------------------------------------------------ #
    # @property value generation, 1.1 (reference: pyRdfa/property.py:76-150)
    # ------------------------------------------------------------------ #
    def _process_property_1_1(self, node: Node, ctx, subject, typed_resource):
        irirefs = ("resource", "href", "src")
        noiri = ("content", "datatype", "rel", "rev")
        notypediri = ("content", "datatype", "rel", "rev", "about",
                      "about_pruned")
        if any(node.has(a) for a in irirefs) and \
                not any(node.has(a) for a in noiri):
            obj = self.get_resource(node, ctx, *irirefs)
        elif node.has("typeof") and not any(node.has(a) for a in notypediri) \
                and typed_resource is not None:
            obj = typed_resource
        else:
            obj = self._literal_object(node, ctx)
        if obj is None:
            return
        for prop in self.get_uri(node, ctx, "property"):
            if is_bnode(prop):
                self.warn("bnode-predicate",
                          "blank node cannot be used as @property")
                continue
            if node.has("inlist"):
                ctx.list_mapping.add(prop, obj)
            else:
                self.add(subject, prop, obj)

    def _literal_object(self, node: Node, ctx) -> Optional[Literal]:
        datatype = ""
        dtset = False
        if node.has("datatype"):
            dtset = True
            if node.get("datatype") != "":
                datatype = self.get_uri(node, ctx, "datatype")
        lang = ctx.lang if ctx.lang is not None else None
        if node.has("content"):
            val = node.get("content")
            if not dtset:
                return Literal(val, lang, None)
            return self._create_literal(val, datatype, lang)
        if dtset:
            if datatype == RDF_XMLLITERAL:
                return Literal(self._xml_literal(node, ctx), None, RDF_XMLLITERAL)
            if datatype == RDF_HTMLLITERAL:
                return Literal(self._html_literal(node, ctx), None, RDF_HTMLLITERAL)
            return self._create_literal(node.text_content(), datatype, lang)
        return self._create_literal(node.text_content(), "", lang)

    def _create_literal(self, val, datatype, lang) -> Literal:
        """Typed-literal creation with validation-as-diagnostics
        (reference: pyRdfa/property.py:286-311)."""
        if datatype is None or datatype == "":
            return Literal(val, lang if lang else None, None)
        if not _validate_xsd(val, datatype):
            self.warn("incompatible-literal",
                      f"value {val!r} does not match datatype {datatype}")
        return Literal(val, None, datatype)

    def _xml_literal(self, node: Node, ctx) -> str:
        """rdf:XMLLiteral serialization with xmlns/xml:base decoration
        (reference: pyRdfa/property.py:254-268, pyRdfa/utils.py:211-239)."""
        # note base=False in the reference's literal getters
        # (property.py:266, 282) — no xml:base decoration here
        out = []
        for c in node.children:
            if isinstance(c, Node):
                extra = {}
                for pr, uri in ctx.xmlns.items():
                    extra.setdefault(f"xmlns:{pr}", uri)
                if ctx.default_ns is not None and not c.has("xmlns"):
                    extra["xmlns"] = ctx.default_ns
                out.append(serialize_node(c, extra))
            else:
                out.append(escape_text(c))
        return "".join(out)

    def _html_literal(self, node: Node, ctx) -> str:
        out = []
        for c in node.children:
            if isinstance(c, Node):
                out.append(serialize_node(c))
            else:
                out.append(escape_text(c))
        return "".join(out)

    # ------------------------------------------------------------------ #
    # the recursive RDFa 1.0 step (reference: pyRdfa/parse.py:325-486)
    # ------------------------------------------------------------------ #
    def _node_1_0(self, node: Node, parent_object, ctx_in: EvalContext,
                  parent_incomplete: list):
        if self._ctx_neutral(node):
            # same attribute-free fast path as _node_1_1 (see there)
            for ch in node.element_children():
                self._node_1_0(ch, parent_object, ctx_in,
                               parent_incomplete)
            return
        ctx = self._make_context(node, ctx_in)
        self._handle_role(node, ctx)
        if self._is_embedded_rdf(node, ctx):
            return
        self._host_transforms(node, ctx)
        if not any(node.has(a) for a in (
                "href", "resource", "about", "property", "rel", "rev",
                "typeof", "src")):
            for ch in node.element_children():
                self._node_1_0(ch, parent_object, ctx, parent_incomplete)
            return

        current_subject = None
        current_object = None
        if node.has("rel") or node.has("rev"):
            current_subject = self.get_resource(node, ctx, "about", "src")
            if current_subject is None:
                current_subject = self.new_bnode() if node.has("typeof") \
                    else parent_object
            current_object = self.get_resource(node, ctx, "resource", "href")
        else:
            current_subject = self.get_resource(
                node, ctx, "about", "src", "resource", "href")
            if current_subject is None:
                # note: the reference overrides the typeof-bnode with the
                # parent object right away (parse.py:408-413); mirrored.
                current_subject = parent_object
            current_object = current_subject

        for t in self.get_uri(node, ctx, "typeof"):
            self.add(current_subject, RDF_TYPE, t)

        incomplete: list = []
        for prop in self.get_uri(node, ctx, "rel"):
            if is_bnode(prop):
                self.warn("bnode-predicate", "blank node cannot be used as @rel")
                continue
            if current_object is not None:
                self.add(current_subject, prop, current_object)
            else:
                incomplete.append((current_subject, prop, None))
        for prop in self.get_uri(node, ctx, "rev"):
            if is_bnode(prop):
                self.warn("bnode-predicate", "blank node cannot be used as @rev")
                continue
            if current_object is not None:
                self.add(current_object, prop, current_subject)
            else:
                incomplete.append((None, prop, current_subject))

        if node.has("property"):
            self._process_property_1_0(node, ctx, current_subject)

        object_to_children = current_object if current_object is not None \
            else self.new_bnode()
        for ch in node.element_children():
            self._node_1_0(ch, object_to_children, ctx, incomplete)

        for (s, p, o) in parent_incomplete:
            if s is None and o is None:
                ctx_in.list_mapping.add(p, current_subject)
            else:
                self.add(s if s is not None else current_subject, p,
                         o if o is not None else current_subject)

    def _process_property_1_0(self, node: Node, ctx, subject):
        """@property (1.0): literals only, auto-XMLLiteral on markup
        children (reference: pyRdfa/property.py:152-217)."""
        datatype = ""
        dtset = False
        if node.has("datatype"):
            dtset = True
            if node.get("datatype") != "":
                datatype = self.get_uri(node, ctx, "datatype")
        lang = ctx.lang if ctx.lang is not None else None
        if node.has("content"):
            val = node.get("content")
            obj = Literal(val, lang, None) if not dtset \
                else self._create_literal(val, datatype, lang)
        elif dtset:
            if datatype == RDF_XMLLITERAL:
                obj = Literal(self._xml_literal(node, ctx), None, RDF_XMLLITERAL)
            elif datatype == RDF_HTMLLITERAL:
                obj = Literal(self._html_literal(node, ctx), None, RDF_HTMLLITERAL)
            else:
                obj = self._create_literal(node.text_content(), datatype, lang)
        elif node.element_children():
            obj = Literal(self._xml_literal(node, ctx), None, RDF_XMLLITERAL)
        else:
            obj = self._create_literal(node.text_content(), "", lang)
        for prop in self.get_uri(node, ctx, "property"):
            if is_bnode(prop):
                self.warn("bnode-predicate",
                          "blank node cannot be used as @property")
                continue
            self.add(subject, prop, obj)


# --------------------------------------------------------------------------- #
# HTML5 <time> datatype sniffing (reference: pyRdfa/host/html5.py:39-155)
# --------------------------------------------------------------------------- #
_TIME_FORMATS = [
    (XSD_GMONTHDAY, ["%m-%d"]),
    (XSD_GYEARMONTH, ["%Y-%m"]),
    (XSD_GYEAR, ["%Y"]),
    (XSD_DATE, ["%Y-%m-%d", "%Y-%m-%dZ"]),
    (XSD_TIME, ["%H:%M", "%H:%M:%S", "%H:%M:%SZ", "%H:%M:%S.%f"]),
    (XSD_DATETIME, ["%Y-%m-%dT%H:%M", "%Y-%m-%dT%H:%M:%S",
                    "%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%MZ",
                    "%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"]),
]
_DURATION_FORMATS = ["P%dD", "P%YY%mM%dD", "P%YY%mM", "P%YY%dD", "P%YY",
                     "P%mM", "P%mM%dD"]
_DURATION_TIMES = ["%HH%MM%SS", "%HH", "%MM", "%SS", "%HH%MM", "%HH%SS",
                   "%MM%SS"]
_TIME_SHAPES_BY: dict = {}  # filled after _TIME_SHAPES below


def _strptime_any(value: str, formats) -> bool:
    for f in formats:
        try:
            datetime.strptime(value, f)
            return True
        except ValueError:
            continue
    return False


# cheap shape gates in front of the strptime tables: strptime raises
# ValueError ~10 formats deep for every non-matching value, which
# dominated the profile.  The gates must cover strptime's full *lexical*
# space or they silently drop datatypes the reference assigns: CPython
# %m/%d/%H/%M/%S accept 1-2 digits ('2014-5-7', '9:5' are valid), %Y is
# exactly 4 digits (the \d{4,} over-match is safe — the gate may pass
# values strptime then rejects, never the reverse), %f is 1-6 digits.
_TIME_SHAPES = [
    (XSD_GMONTHDAY, re.compile(r"^\d{1,2}-\d{1,2}$")),
    (XSD_GYEARMONTH, re.compile(r"^\d{4,}-\d{1,2}$")),
    (XSD_GYEAR, re.compile(r"^\d{4,}$")),
    (XSD_DATE, re.compile(r"^\d{4,}-\d{1,2}-\d{1,2}Z?$")),
    (XSD_TIME, re.compile(r"^\d{1,2}:\d{1,2}(:\d{1,2}(\.\d+)?)?Z?$")),
    (XSD_DATETIME,
     re.compile(
         r"^\d{4,}-\d{1,2}-\d{1,2}T\d{1,2}:\d{1,2}(:\d{1,2}(\.\d+)?)?Z?$")),
]
_TIME_SHAPES_BY.update(dict(_TIME_SHAPES))


@lru_cache(maxsize=8192)
def _format_test(value: str) -> Optional[str]:
    """Return the xsd datatype IRI the HTML5 time value matches, else
    None.  Pure function of the value string — memoized because real
    corpora repeat timestamps heavily and the strptime fallbacks
    dominate the profile when they run."""
    for dtype, formats in _TIME_FORMATS:
        if _TIME_SHAPES_BY[dtype].match(value) \
                and _strptime_any(value, formats):
            return dtype
    if _strptime_any(value, _DURATION_FORMATS):
        return XSD_DURATION
    if len(value) > 2 and (value[0] == "P" or value[:2] == "-P"):
        # negative durations always fall through to 'plain': the
        # reference's '-P' branch re-checks the *unstripped* string
        # against the duration formats (html5.py:85-94 — the comment
        # says strip the '-' but the code does not), so it never
        # matches; we mirror the behaviour, not the comment
        parts = value.split("T")
        if len(parts) == 2 and _strptime_any(parts[0], _DURATION_FORMATS) \
                and _strptime_any(parts[1], _DURATION_TIMES):
            return XSD_DURATION
        return None
    # datetime with numeric timezone offset (html5.py:131-154)
    if len(value) > 6 and value[-6] in "+-":
        if _strptime_any(value[-5:], ["%H:%M"]) and \
                _strptime_any(value[:-6], dict(_TIME_FORMATS)[XSD_DATETIME]):
            return XSD_DATETIME
    return None


# --------------------------------------------------------------------------- #
# lightweight XSD validation (diagnostics only; the literal is kept either
# way, mirroring pyRdfa/property.py:286-311 which relies on rdflib's
# XSDToPython converters)
# --------------------------------------------------------------------------- #
_XSD_PATTERNS = {
    XSD + "integer": re.compile(r"^[+-]?\d+$"),
    XSD + "int": re.compile(r"^[+-]?\d+$"),
    XSD + "long": re.compile(r"^[+-]?\d+$"),
    XSD + "nonNegativeInteger": re.compile(r"^\+?\d+$"),
    XSD + "positiveInteger": re.compile(r"^\+?0*[1-9]\d*$"),
    XSD + "decimal": re.compile(r"^[+-]?(\d+(\.\d*)?|\.\d+)$"),
    XSD + "float": re.compile(
        r"^([+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|[+-]?INF|NaN)$"),
    XSD + "double": re.compile(
        r"^([+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|[+-]?INF|NaN)$"),
    XSD + "boolean": re.compile(r"^(true|false|0|1)$"),
    XSD + "date": re.compile(r"^-?\d{4,}-\d{2}-\d{2}(Z|[+-]\d{2}:\d{2})?$"),
    XSD + "time": re.compile(
        r"^\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?$"),
    XSD + "dateTime": re.compile(
        r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?"
        r"(Z|[+-]\d{2}:\d{2})?$"),
    XSD + "gYear": re.compile(r"^-?\d{4,}$"),
    XSD + "gYearMonth": re.compile(r"^-?\d{4,}-\d{2}$"),
}


def _validate_xsd(val: str, datatype: str) -> bool:
    pat = _XSD_PATTERNS.get(datatype)
    if pat is None:
        return True
    return bool(pat.match(val.strip()))
