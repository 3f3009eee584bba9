"""SPARQL *text* front-end: parse a query string and execute it by
compiling onto the existing BGP/path/aggregate operators.

The reference hands its emitted graphs to rdflib, whose consumers run
``graph.query("SELECT ...")`` with SPARQL text (pyRdfa/__init__.py
returns an rdflib Graph precisely so that call works).  The operator
modules cover the *algebra* (``graphops.bgp_match`` and friends); this
module closes the surface gap by accepting the text form, so an
rdflib call site ports as ``SparkGraph.query("SELECT ...")`` verbatim.

Supported subset (raises ``SparqlUnsupported`` — never silently
misparses — outside it):

* ``PREFIX`` / ``BASE`` declarations (relative IRIs resolve
  against BASE per RFC 3986); ``a`` for rdf:type; prefixed names expand
  against declared prefixes and pass through UNCHANGED when the prefix
  is undeclared (lake triple stores routinely hold CURIE-shaped terms).
* ``SELECT [DISTINCT] * | ?v ... | (AGG(?v) AS ?a) ...`` with COUNT /
  COUNT(*) / COUNT(DISTINCT) / SUM / AVG / MIN / MAX / SAMPLE /
  GROUP_CONCAT(?v; SEPARATOR="..."), ``GROUP BY`` / ``HAVING``,
  ``ORDER BY [ASC|DESC]`` / ``LIMIT`` / ``OFFSET``.
* WHERE groups: triple blocks with ``;`` / ``,`` lists (a fully
  constant pattern is an existence test), ``OPTIONAL``,
  ``FILTER (expr)``, ``FILTER [NOT] EXISTS {..}``, ``MINUS {..}``,
  ``VALUES`` (incl. UNDEF), ``BIND (expr AS ?v)``, a top-level
  ``{..} UNION {..}`` chain, and ``{ SELECT ... }`` subqueries
  (evaluated independently, joined to the group on shared variables —
  a subquery sharing no variable raises rather than cartesian-join;
  outer FILTERs may reference subquery-bound variables), and
  ``GRAPH <iri>|?g { patterns }`` over a quad frame (compiles to
  ``bgp_match_quads``; GRAPH ranges over named graphs only, a
  variable graph term binds provenance into the solution; raises on
  a frame with no ``graph`` column).
* Property paths in predicate position: ``p+  p*  p?  ^p  p1/p2/..
  p1|p2|..  !(p1|p2)`` and NESTED combinations (``(p1/p2)+``,
  ``^(p*)``, closure over alternatives, ...) — each operator compiles
  to the matching ``path_*`` virtual-predicate operator, nested
  operands materializing bottom-up into the working frame; a
  top-level ``+``/``*`` with a constant subject or object is searched
  from that constant (``path_walk``: one collect of a small predicate
  slice, then a BFS on the driver); path operators on a variable
  predicate raise.
* ``ASK``, ``CONSTRUCT {template} WHERE {..}``, ``DESCRIBE <iri>...``.
* Dataset clauses ``FROM <g>`` / ``FROM NAMED <g>`` on every query
  form (quad frames only): FROM graphs merge into the default graph,
  GRAPH ranges over exactly the FROM NAMED set — strict SPARQL §13.3
  semantics, compiled to scan-side ``graph IN (...)`` filters (a
  graph-partitioned lake table prunes partitions; no join added).
  Without dataset clauses a quad frame keeps the union posture: plain
  patterns match the whole store (rdflib ConjunctiveGraph).
* SPARQL 1.1 **UPDATE** via :func:`update` (rdflib ``Graph.update``
  call sites): ``INSERT DATA`` / ``DELETE DATA`` (ground triples,
  optionally in ``GRAPH <g> {..}`` blocks on a quad frame),
  ``DELETE WHERE {..}``, ``[WITH <g>] DELETE {tmpl} INSERT {tmpl}
  WHERE {..}`` (either clause optional; templates and DELETE WHERE
  take QuadPatterns — ``GRAPH <iri>|?var { .. }`` blocks target
  constant or solution-bound graphs, overriding WITH; an unbound
  graph variable instantiates nothing), the graph-management verbs
  ``CLEAR|DROP [SILENT] ALL|DEFAULT|NAMED|GRAPH <g>``,
  ``ADD|COPY|MOVE [SILENT] src TO dst`` (pure column ops on the quad
  frame — filter / relabel / pruned-slice anti-join, never a
  full-store shuffle), ``CREATE GRAPH`` (a no-op: graphs exist
  exactly while they hold quads), ``LOAD [SILENT] <doc>
  [INTO GRAPH <g>]`` (file paths / ``file://`` IRIs; format by
  extension — N-Triples / N-Quads / JSON-LD-lines parse scan-side,
  Turtle / TriG / RDF/XML as one document; set-semantics insert;
  remote schemes raise — executors carry no network by design), and
  ``;``-separated operation sequences (each may carry a fresh
  prologue).  On a quad frame the
  default graph is the NULL graph rows; all set operations join
  null-safely via a sentinel key.  Functional semantics: the updated
  graph comes back as a new DataFrame — at lake scale the caller
  writes it to the next table version (the lake's copy-on-write),
  nothing mutates in place.

FILTER/BIND/HAVING expressions translate to Spark SQL (the operators
compile them via ``F.expr``): ``&& || !``, comparisons, arithmetic,
``IN``, and the function set REGEX / STRSTARTS / STRENDS / CONTAINS /
STRLEN / LCASE / UCASE / STR / BOUND / ABS / CEIL / FLOOR / ROUND /
STRBEFORE / STRAFTER / SUBSTR / REPLACE / CONCAT / COALESCE / IF /
YEAR / MONTH / DAY / HOURS / MINUTES / SECONDS / TZ / TIMEZONE /
MD5 / SHA1 / SHA256 / SHA384 / SHA512 / ENCODE_FOR_URI (variadics
arity-checked; STRBEFORE/STRAFTER return '' on a missing needle per
spec; TIMEZONE maps the lexical trailing zone to the canonical
xsd:dayTimeDuration lexical, NULL — the spec's type error — when the
value carries no zone).  The §17.5 XPath constructor casts
``xsd:integer / decimal / float / double / string / boolean /
dateTime (expr)`` validate + canonicalize the lexical form (invalid
lexicals are the XPath type error -> NULL -> unbound) and stamp the
result's typed-literal shape; any OTHER IRI applied to arguments is
a custom extension function and refuses.  Term-shape builtins LANG /
LANGMATCHES / DATATYPE / ISIRI / ISURI / ISLITERAL / ISBLANK /
ISNUMERIC are supported over plain variable arguments: the matcher
binds each such variable with hidden ``__shape_*`` companion columns
(the store's ``obj_is_iri``/``obj_lang``/``obj_datatype`` for object
bindings, IRI-or-bnode constants for term positions, lexical
inference on a shapeless frame) and the builtin compiles to a column
expression over them; variables bound only behind a subquery
projection or a property-path object have no (or unknown) shape and
the builtin returns NULL — row filtered, never misclassified.

Numeric model (documented deviation): operands live as lexical
strings and arithmetic — including SUM/AVG aggregation — goes through
Spark's string->double coercion, so ``SUM`` over xsd:integer operands
returns a double (``8.0``) where rdflib would return an xsd:integer
``8``.  Values are equal under numeric comparison; only the
datatype/rendering differs.  Callers needing integral rendering wrap
the aggregate in the decimal constructor — ``(xsd:decimal(SUM(?x))
AS ?s)`` canonicalizes ``6.0`` to ``6`` (``xsd:integer`` follows the
strict string->integer lexical rule, so over a double-rendered sum
it is the XPath type error -> NULL).

Scale note: parsing is driver-side string work on a query of bytes;
every execution decision (join order, broadcast, path closure) is the
underlying operator's — this module adds no plan shape of its own
beyond ASK's limit-1 take.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame
from pyspark.sql.utils import AnalysisException

from pyrdfa3_spark.operators import graphops as G
from pyrdfa3_spark.operators.graphops import (  # noqa: F401 (re-export)
    SparqlError, SparqlUnsupported,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_RDF_LANGSTRING = ("http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                   "langString")
_XSD = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC_XSD = ("integer", "decimal", "float", "double", "long", "int",
                "short", "byte", "nonPositiveInteger",
                "negativeInteger", "nonNegativeInteger",
                "positiveInteger", "unsignedLong", "unsignedInt",
                "unsignedShort", "unsignedByte")

# term-model builtins that read a binding's literal SHAPE (language
# tag / datatype / term kind), not just its lexical form.  Each takes
# a single plain variable; the matcher binds that variable with three
# hidden companion columns (__shape_<v>_iri/_lang/_dt — the store's
# obj_is_iri/obj_lang/obj_datatype for object bindings, the
# IRI-or-bnode constant for term positions, lexical inference on a
# shapeless frame) and these templates compile to plain column
# expressions over them.  NULL-in-NULL-out everywhere reproduces
# SPARQL's type-error-on-unbound FILTER semantics.
_SHAPE_FNS = frozenset({"LANG", "DATATYPE", "ISIRI", "ISURI",
                        "ISLITERAL", "ISNUMERIC", "ISBLANK"})


def _shape_fn_sql(fn: str, var: str) -> str:
    from pyrdfa3_spark.operators.graphops import shape_names

    iri, lang, dt = shape_names(var)
    # a NULL iri companion means UNKNOWN shape (multi-hop path
    # endpoints, BIND-defined / subquery-projected bindings): every
    # builtin returns NULL there — row filtered, never misclassified
    unknown = f"{var} IS NULL OR {iri} IS NULL"
    if fn == "LANG":
        # LANG of an IRI/bnode is a type error (NULL); a literal with
        # no tag returns "" per spec
        return (f"(CASE WHEN {unknown} OR {iri} THEN NULL "
                f"ELSE coalesce({lang}, '') END)")
    if fn == "DATATYPE":
        return (f"(CASE WHEN {unknown} OR {iri} THEN NULL "
                f"WHEN {lang} IS NOT NULL THEN '{_RDF_LANGSTRING}' "
                f"ELSE coalesce({dt}, '{_XSD}string') END)")
    if fn in ("ISIRI", "ISURI"):
        return (f"(CASE WHEN {unknown} THEN NULL "
                f"ELSE {iri} AND NOT startswith({var}, '_:') END)")
    if fn == "ISBLANK":
        return (f"(CASE WHEN {unknown} THEN NULL "
                f"ELSE {iri} AND startswith({var}, '_:') END)")
    if fn == "ISLITERAL":
        return (f"(CASE WHEN {unknown} THEN NULL "
                f"ELSE NOT {iri} END)")
    dts = ", ".join(f"'{_XSD}{n}'" for n in _NUMERIC_XSD)
    return (f"(CASE WHEN {unknown} THEN NULL "              # ISNUMERIC
            f"ELSE NOT {iri} AND coalesce({dt}, '') IN ({dts}) END)")


class _Term(str):
    """A parsed ground term: a plain string to the engine (the term
    model is lexical — matching, joins and set ops compare lexical
    forms), annotated with the IRI/literal distinction rdflib would
    record.  Consumed only by UPDATE when the input frame carries
    literal-shape columns, so ``INSERT DATA { <s> <p> "x" }`` lands
    with ``obj_is_iri = false`` instead of the all-IRI default.
    String equality/hash are inherited on purpose: the engine's
    pattern machinery must keep treating terms as their lexical form.
    """

    __slots__ = ("is_iri", "lang", "dt", "implicit")

    def __new__(cls, value: str, is_iri: bool = True,
                lang: str | None = None, dt: str | None = None,
                implicit: bool = False):
        t = super().__new__(cls, value)
        t.is_iri = is_iri
        t.lang = lang
        t.dt = dt
        # implicit = the shape comes from the grammar (bare 42 is
        # xsd:integer), not a written tag: DATA/templates insert it,
        # but pattern matching stays lexical (the documented model) —
        # only an EXPLICIT "x"@tag / "x"^^<dt> constrains the match
        t.implicit = implicit
        return t

    def __getnewargs__(self):  # picklable despite the required arg
        return (str(self), self.is_iri, self.lang, self.dt,
                self.implicit)


# a plain-variable column name — what survives the SPARQL-var ->
# Spark-column mapping; anything else in an argument/order position is
# an expression
_BARE_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _term_is_iri(t) -> bool:
    """Shape of a template/DATA term: parse-time shape when recorded,
    the engine-wide all-IRI default otherwise (bnode labels and
    variable-bound values — the lexical term model cannot know)."""
    return bool(getattr(t, "is_iri", True))


# ------------------------------------------------------------------ #
# tokenizer
# ------------------------------------------------------------------ #

_TOKEN_RE = re.compile(r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRI><[^<>\s{}|^`\\]*>)
  | (?P<STRING>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<NUM>[+-]?\d+(?:\.\d+)?)
  | (?P<PNAME>(?:[A-Za-z_][A-Za-z0-9_\-]*)?:
              (?:[A-Za-z0-9_%\-]+(?:\.[A-Za-z0-9_%\-]+)*)?)
  | (?P<NAME>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<OP><=|>=|!=|&&|\|\||[{}().;,=<>!^/|+*?\[\]])
""", re.X)

_KEYWORDS = {
    "PREFIX", "BASE", "SELECT", "DISTINCT", "REDUCED", "WHERE", "AS",
    "OPTIONAL", "FILTER", "UNION", "MINUS", "VALUES", "BIND", "UNDEF",
    "EXISTS", "NOT", "IN", "GROUP", "BY", "HAVING", "ORDER", "ASC",
    "DESC", "LIMIT", "OFFSET", "ASK", "CONSTRUCT", "DESCRIBE", "TRUE",
    "FALSE", "A", "GRAPH", "INSERT", "DELETE", "DATA", "CLEAR", "ALL",
    "DEFAULT", "NAMED", "DROP", "CREATE", "ADD", "COPY", "MOVE", "TO",
    "WITH", "SILENT", "FROM", "USING", "LOAD", "INTO", "SERVICE",
}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise SparqlError(
                f"cannot tokenize at ...{text[pos:pos + 30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        val = m.group()
        if kind == "NAME" and val.upper() in _KEYWORDS:
            kind, val = "KW", val.upper()
        out.append((kind, val))
    out.append(("EOF", ""))
    return out


# ------------------------------------------------------------------ #
# parser
# ------------------------------------------------------------------ #

class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base: str = ""
        self._anon = 0  # fresh-variable counter for [..] bnode syntax
        # variables a term-model builtin (LANG/DATATYPE/ISIRI/...)
        # touches — the matcher binds these with hidden literal-shape
        # companion columns the compiled expression reads
        self.shape_vars: set[str] = set()
        # (sql, (is_iri, lang, dt)) of the most recent term-constructor
        # compilation — BIND compares sql to its whole body to stamp
        # the target variable's shape
        self._last_ctor: tuple[str, tuple] | None = None
        # aggregate calls lifted out of composite expressions
        # ((SUM(?x)+1 AS ?y), HAVING(COUNT(*) > 2), ORDER BY
        # SUM(?x)): each becomes a hidden ("agg", ...) item under a
        # synthetic _aggsyn* alias the surrounding expression
        # references; _parse_select slices off its own entries so
        # subqueries scope independently
        self._agg_synth: list[tuple] = []
        # aggregates are legal only in SELECT items / HAVING /
        # ORDER BY — an aggregate in FILTER or BIND is a parse error
        self._agg_allowed = False
        # variables the most recent expression read (the BIND branch
        # snapshots this for the operand-order ledger)
        self._expr_vars: set[str] = set()

    # -- token plumbing ------------------------------------------------
    def peek(self, ahead: int = 0) -> tuple[str, str]:
        return self.toks[min(self.i + ahead, len(self.toks) - 1)]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def eat(self, kind: str, val: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise SparqlError(f"expected {val or kind}, got {v!r}")
        return v

    def at(self, kind: str, val: str | None = None) -> bool:
        k, v = self.peek()
        return k == kind and (val is None or v == val)

    def take(self, kind: str, val: str | None = None) -> bool:
        if self.at(kind, val):
            self.next()
            return True
        return False

    # -- terms ----------------------------------------------------------
    def _expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx in self.prefixes:
            return self.prefixes[pfx] + local
        return pname  # undeclared: the store's term is the CURIE text

    def term(self, *, allow_var: bool = True,
             allow_literal: bool = True) -> str:
        k, v = self.next()
        if k == "VAR" and allow_var:
            if v[1:].startswith("_anon"):
                raise SparqlError(
                    "?_anon* variable names are reserved for [..] "
                    "blank-node existentials")
            return "?" + v[1:]
        if k == "IRI":
            iri = v[1:-1]
            # relative IRIs (no scheme) resolve against BASE, RFC 3986
            if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:",
                                          iri):
                from urllib.parse import urljoin
                return _Term(urljoin(self.base, iri), True)
            return _Term(iri, True)
        if k == "PNAME":
            return _Term(self._expand_pname(v), True)
        if k == "KW" and v == "A":
            return _Term(RDF_TYPE, True)
        if k == "STRING" and allow_literal:
            lex = _unquote(v)
            if self.at("LANGTAG"):
                # language tags live in lower case in the RDF 1.1
                # value space — normalize at parse time so pattern
                # matching, DATA keys and LANG() read one form
                return _Term(lex, False,
                             lang=self.next()[1][1:].lower())
            if self.at("OP", "^") and self.peek(1) == ("OP", "^"):
                self.next(), self.next()
                dk, dv = self.next()
                if dk == "IRI":
                    dt = dv[1:-1]
                elif dk == "PNAME":
                    dt = self._expand_pname(dv)
                else:
                    raise SparqlError(
                        f"expected datatype IRI after ^^, got {dv!r}")
                # RDF 1.1: "x"^^xsd:string IS the simple literal "x"
                if dt == _XSD + "string":
                    return _Term(lex, False)
                return _Term(lex, False, dt=dt)
            return _Term(lex, False)
        if k == "NUM" and allow_literal:
            # bare numeric literals are typed per the SPARQL grammar
            return _Term(v, False, dt=_XSD + ("decimal" if "." in v
                                              else "integer"),
                         implicit=True)
        if k == "KW" and v in ("TRUE", "FALSE") and allow_literal:
            return _Term(v.lower(), False, dt=_XSD + "boolean",
                         implicit=True)
        raise SparqlError(f"unexpected term {v!r}")

    # -- property paths --------------------------------------------------
    def _path_primary(self):
        if self.at("VAR"):  # variable predicate: a plain pattern term
            name = self.next()[1][1:]
            if name.startswith("_anon"):
                raise SparqlError(
                    "?_anon* variable names are reserved for [..] "
                    "blank-node existentials")
            return ("pred", "?" + name)
        if self.take("OP", "!"):
            # PathNegatedPropertySet: '!' (PathOneInPropertySet |
            # '(' members? ')') — members are iri or ^iri (§9.1:
            # inverse members exclude against the REVERSE direction)
            fwd: list[str] = []
            inv: list[str] = []

            def member():
                (inv if self.take("OP", "^") else fwd).append(
                    self.term(allow_var=False, allow_literal=False))

            if self.take("OP", "("):
                if not self.at("OP", ")"):
                    member()
                    while self.take("OP", "|"):
                        member()
                self.eat("OP", ")")
                if not fwd and not inv:
                    raise SparqlUnsupported(
                        "the empty negated property set !() (matches "
                        "ANY edge — use a variable predicate instead)")
            else:
                member()  # paren-less !iri / !^iri
            if inv:
                return ("neg2", (fwd, inv))
            return ("neg", fwd)
        if self.take("OP", "("):
            p = self.path()
            self.eat("OP", ")")
            return p
        return ("pred", self.term(allow_var=False, allow_literal=False))

    @staticmethod
    def _operand(p):
        """A path tuple's operand: the bare IRI for a plain step, the
        nested tuple otherwise (the executor materializes nested
        operands bottom-up).  Variable predicates cannot take path
        operators (no fixed edge set to close over)."""
        if p[0] == "pred":
            if p[1].startswith("?"):
                raise SparqlUnsupported(
                    "path operators on a variable predicate")
            return p[1]
        return p

    def _path_elt(self):
        inv = self.take("OP", "^")
        p = self._path_primary()
        for op, name in (("+", "plus"), ("*", "star"), ("?", "opt")):
            if self.at("OP", op):
                self.next()
                p = (name, self._operand(p))
                break
        if inv:  # grammar: '^' applies to the whole modified step
            p = ("inv", self._operand(p))
        return p

    def _path_seq(self):
        seq = [self._path_elt()]
        while self.take("OP", "/"):
            seq.append(self._path_elt())
        if len(seq) == 1:
            return seq[0]
        return ("seq", [self._operand(e) for e in seq])

    def path(self):
        alts = [self._path_seq()]
        while self.take("OP", "|"):
            alts.append(self._path_seq())
        if len(alts) == 1:
            return alts[0]
        return ("alt", [self._operand(e) for e in alts])

    # -- variables / select clause ---------------------------------------
    def var(self) -> str:
        k, v = self.next()
        if k != "VAR":
            raise SparqlError(f"expected variable, got {v!r}")
        if v[1:].startswith("_anon"):
            raise SparqlError(
                "?_anon* variable names are reserved for [..] "
                "blank-node existentials")
        if v[1:].startswith(G.SHAPE_PREFIX):
            raise SparqlError(
                "?__shape_* variable names are reserved for the "
                "term-shape companion columns")
        if v[1:].startswith("_aggsyn"):
            raise SparqlError(
                "?_aggsyn* variable names are reserved for lifted "
                "aggregate expressions")
        if v[1:].startswith("_grpkey"):
            raise SparqlError(
                "?_grpkey* variable names are reserved for anonymous "
                "GROUP BY expression keys")
        return v[1:]

    _AGG = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}

    def select_item(self):
        if self.at("VAR"):
            return ("var", self.var())
        # (expr AS ?v) — the expression grammar lifts any aggregate
        # calls into hidden _aggsyn* items, so (SUM(?x) AS ?y) and
        # composite forms ((SUM(?x) + 1 AS ?y), (SUM(?x)/COUNT(?y)
        # AS ?avg)) parse the same way
        self.eat("OP", "(")
        before = len(self._agg_synth)
        prev, self._agg_allowed = self._agg_allowed, True
        try:
            e = self.expr()
        finally:
            self._agg_allowed = prev
        self.eat("KW", "AS")
        alias = self.var()
        self.eat("OP", ")")
        new = self._agg_synth[before:]
        if len(new) == 1 and e == new[0][4]:
            # the whole expression IS one aggregate: project it under
            # the user's alias directly, no synthetic column
            del self._agg_synth[before:]
            _, fn, distinct, arg, _a, sep = new[0]
            return ("agg", fn, distinct, arg, alias, sep)
        return ("expr", e, alias)

    def _agg_call(self, fn: str):
        """The argument list of an aggregate call, cursor past the
        function name: ``(DISTINCT? expr)`` with COUNT(*) and the
        GROUP_CONCAT separator."""
        self.eat("OP", "(")
        distinct = self.take("KW", "DISTINCT")
        if self.take("OP", "*"):
            if fn != "COUNT":
                raise SparqlError(f"{fn}(*) is not SPARQL; only COUNT "
                                  "takes *")
            arg = "*"
        else:
            # full expression argument (SUM(?a * ?b), COUNT(STRLEN(?n))
            # ...) — a lone ?v translates to its bare column name;
            # aggregates never nest (§18.2.4.4)
            prev, self._agg_allowed = self._agg_allowed, False
            try:
                arg = self.expr()
            finally:
                self._agg_allowed = prev
        sep = " "
        if fn == "GROUP_CONCAT" and self.take("OP", ";"):
            k, v = self.next()  # SEPARATOR
            if not (k == "NAME" and v.upper() == "SEPARATOR"):
                raise SparqlError("expected SEPARATOR")
            self.eat("OP", "=")
            sep = _unquote(self.eat("STRING"))
        self.eat("OP", ")")
        return distinct, arg, sep

    # -- expressions (FILTER / BIND / HAVING) -> Spark SQL ----------------
    _FUNCS = {
        "STRLEN": "length({0})", "LCASE": "lower({0})",
        "UCASE": "upper({0})", "STR": "({0})", "ABS": "abs({0})",
        "CEIL": "ceil({0})", "FLOOR": "floor({0})",
        "ROUND": "round({0})", "BOUND": "({0} IS NOT NULL)",
        "STRSTARTS": "startswith({0}, {1})",
        "STRENDS": "endswith({0}, {1})",
        "CONTAINS": "contains({0}, {1})",
        # STRBEFORE/STRAFTER: '' when the needle is absent (instr=0
        # makes left's length negative -> ''), per spec
        "STRBEFORE": "left({0}, instr({0}, {1}) - 1)",
        "STRAFTER": ("(CASE WHEN instr({0}, {1}) > 0 THEN "
                     "substring({0}, instr({0}, {1}) + length({1})) "
                     "ELSE '' END)"),
        "YEAR": "year({0})", "MONTH": "month({0})", "DAY": "day({0})",
        "HOURS": "hour({0})", "MINUTES": "minute({0})",
        "SECONDS": "second({0})",
        "MD5": "md5({0})", "SHA1": "sha1({0})",
        "SHA256": "sha2({0}, 256)",
        "SHA384": "sha2({0}, 384)", "SHA512": "sha2({0}, 512)",
        "ENCODE_FOR_URI": "url_encode({0})",
        # TZ of a dateTime literal's lexical form: trailing Z/offset,
        # '' when absent, per spec
        "TZ": ("regexp_extract({0}, "
               "'(Z|[+-][0-9][0-9]:[0-9][0-9])$', 1)"),
        # SAMETERM is plain string equality — NULL-propagating, which
        # reproduces SPARQL's type-error-on-unbound FILTER behavior
        # (the other term-model builtins — LANG / DATATYPE / ISIRI /
        # ISBLANK / ... — compile against hidden shape-companion
        # columns; see _shape_fn)
        "SAMETERM": "({0} = {1})",
        # basic language-range matching (RFC 4647 §3.3.1): '*' matches
        # any non-empty tag, otherwise exact or hyphen-prefix match,
        # case-insensitively
        "LANGMATCHES": ("(CASE WHEN {1} = '*' THEN {0} <> '' "
                        "WHEN lower({0}) = lower({1}) THEN true "
                        "ELSE startswith(lower({0}), "
                        "concat(lower({1}), '-')) END)"),
    }

    # fn -> (sql name, min args, max args)
    _VARIADIC = {
        "CONCAT": ("concat", 1, 99), "COALESCE": ("coalesce", 1, 99),
        "SUBSTR": ("substring", 2, 3), "REPLACE": ("regexp_replace", 3, 3),
        "IF": ("if", 3, 3),
    }

    # zero-argument builtins -> (sql, result term shape).  The
    # nondeterministic ones (UUID/BNODE/RAND) compile to Spark's
    # nondeterministic expressions — fresh per solution row, constant
    # within the row, exactly the spec's per-solution semantics; NOW is
    # query-constant (current_timestamp() is fixed per Spark query)
    _NULLARY = {
        "UUID": ("concat('urn:uuid:', uuid())", (True, None, None)),
        "STRUUID": ("uuid()", (False, None, None)),
        "BNODE": ("concat('_:fb', replace(uuid(), '-', ''))",
                  (True, None, None)),
        "RAND": ("rand()", (False, None, _XSD + "double")),
        "NOW": ("date_format(current_timestamp(), "
                "\"yyyy-MM-dd'T'HH:mm:ss.SSSXXX\")",
                (False, None, _XSD + "dateTime")),
    }

    _ABS_IRI_RE = "'^[A-Za-z][A-Za-z0-9+.-]*:'"
    # a plain relative path IRI(x) can resolve against BASE by prefix
    # concatenation without dot-segment/authority logic; anything
    # fancier (../, leading /, ?query, #fragment) reads as an
    # expression error -> NULL -> unbound, per SPARQL's error-in-BIND
    _REL_PATH_RE = ("'^[A-Za-z0-9._~%!$&*+,;=@-]+"
                    "(/[A-Za-z0-9._~%!$&*+,;=@-]+)*$'")

    def _iri_fn_sql(self, arg: str) -> str:
        # the lambda binds the argument ONCE (transform over a 1-array)
        # so nondeterministic args (IRI(IF(RAND()...)) can't diverge
        # between the CASE test and the CASE result, and expensive
        # args aren't recomputed per branch
        if self.base:
            from urllib.parse import urljoin
            prefix = urljoin(self.base, ".")
            body = (f"CASE WHEN __i RLIKE {self._ABS_IRI_RE} "
                    f"THEN __i "
                    f"WHEN __i RLIKE {self._REL_PATH_RE} "
                    f"THEN concat({G.sql_str(prefix)}, __i) "
                    f"ELSE CAST(NULL AS STRING) END")
        else:
            body = (f"CASE WHEN __i RLIKE {self._ABS_IRI_RE} "
                    f"THEN __i ELSE CAST(NULL AS STRING) END")
        return f"(transform(array({arg}), __i -> {body})[0])"

    def expr(self) -> str:
        out = self._expr_and()
        while self.take("OP", "||"):
            out = f"({out} OR {self._expr_and()})"
        return out

    def _expr_and(self) -> str:
        out = self._expr_not()
        while self.take("OP", "&&"):
            out = f"({out} AND {self._expr_not()})"
        return out

    def _expr_not(self) -> str:
        if self.take("OP", "!"):
            return f"(NOT {self._expr_not()})"
        return self._expr_rel()

    def _expr_rel(self) -> str:
        left = self._expr_add()
        for op, sql in (("=", "="), ("!=", "<>"), ("<=", "<="),
                        (">=", ">="), ("<", "<"), (">", ">")):
            if self.at("OP", op):
                self.next()
                return f"({left} {sql} {self._expr_add()})"
        neg = False
        if self.at("KW", "NOT") and self.peek(1) == ("KW", "IN"):
            self.next()
            neg = True
        if self.take("KW", "IN"):
            self.eat("OP", "(")
            items = [self._expr_add()]
            while self.take("OP", ","):
                items.append(self._expr_add())
            self.eat("OP", ")")
            return (f"({left} {'NOT ' if neg else ''}IN "
                    f"({', '.join(items)}))")
        return left

    def _expr_add(self) -> str:
        out = self._expr_mul()
        while self.at("OP", "+") or self.at("OP", "-"):
            _, op = self.next()
            out = f"({out} {op} {self._expr_mul()})"
        return out

    def _expr_mul(self) -> str:
        out = self._expr_prim()
        while self.at("OP", "*") or self.at("OP", "/"):
            _, op = self.next()
            out = f"({out} {op} {self._expr_prim()})"
        return out

    def _expr_prim(self) -> str:
        k, v = self.peek()
        if k == "OP" and v == "(":
            self.next()
            out = self.expr()
            self.eat("OP", ")")
            return f"({out})"
        if k == "VAR":
            self.next()
            name = v[1:]
            if not _BARE_NAME.fullmatch(name):
                raise SparqlError(f"unmappable variable name {name!r}")
            if name.startswith("_anon"):
                raise SparqlError(
                    "?_anon* variable names are reserved for [..] "
                    "blank-node existentials")
            if name.startswith(G.SHAPE_PREFIX):
                raise SparqlError(
                    "?__shape_* variable names are reserved for the "
                    "term-shape companion columns")
            self._expr_vars.add(name)
            return name
        if k == "NUM":
            self.next()
            return v
        if k == "STRING":
            self.next()
            return G.sql_str(_unquote(v))
        if k == "KW" and v in ("TRUE", "FALSE"):
            self.next()
            return v.lower()
        if k == "IRI" or k == "PNAME":
            self.next()
            iri = v[1:-1] if k == "IRI" else self._expand_pname(v)
            if self.at("OP", "("):
                # iriOrFunction: an IRI applied to arguments is the
                # §17.5 XPath constructor-function call (xsd:integer(
                # ?x) ...); anything else is a custom extension
                # function this engine honestly refuses rather than
                # treating the IRI as a constant and misparsing
                if iri in _XSD_CAST:
                    self.eat("OP", "(")
                    arg = self.expr()
                    if self.take("OP", ","):
                        raise SparqlError(
                            f"<{iri}> takes 1 argument(s), got 2+")
                    self.eat("OP", ")")
                    sql, shape = _xsd_cast_sql(iri, arg)
                    self._last_ctor = (sql, shape)
                    return sql
                raise SparqlUnsupported(
                    f"extension function call <{iri}> (only the "
                    "xsd:* constructor casts of §17.5 are built in)")
            return G.sql_str(iri)
        if k == "NAME" and v.upper() == "REGEX":
            self.next()
            self.eat("OP", "(")
            target = self.expr()
            self.eat("OP", ",")
            pat = _unquote(self.eat("STRING"))
            flags = ""
            if self.take("OP", ","):
                flags = _unquote(self.eat("STRING"))
            self.eat("OP", ")")
            if "i" in flags:
                pat = "(?i)" + pat
            return f"({target} RLIKE {G.sql_str(pat)})"
        if k == "NAME" and v.upper() in self._NULLARY:
            fn = v.upper()
            self.next()
            self.eat("OP", "(")
            if not self.at("OP", ")"):
                if fn == "BNODE":
                    raise SparqlUnsupported(
                        "BNODE(expr) (argument-keyed bnode identity "
                        "is per-solution state; use BNODE() or a "
                        "[..] pattern existential)")
                raise SparqlError(f"{fn} takes no arguments")
            self.eat("OP", ")")
            sql, shape = self._NULLARY[fn]
            self._last_ctor = (sql, shape)
            return sql
        if k == "NAME" and v.upper() in ("IRI", "URI"):
            self.next()
            self.eat("OP", "(")
            arg = self.expr()
            self.eat("OP", ")")
            sql = self._iri_fn_sql(arg)
            self._last_ctor = (sql, (True, None, None))
            return sql
        if k == "NAME" and v.upper() in ("STRLANG", "STRDT"):
            fn = v.upper()
            self.next()
            self.eat("OP", "(")
            lex = self.expr()
            self.eat("OP", ",")
            # NOTE: per spec both take a SIMPLE LITERAL first argument;
            # the lexical term model can't see a binding's shape here,
            # so the constructor stamps its result shape uncondition-
            # ally — applying it to an IRI binding tags that IRI's
            # lexical form (documented deviation; rdflib errors)
            if fn == "STRLANG":
                k3, v3 = self.peek()
                if k3 != "STRING":
                    raise SparqlUnsupported(
                        f"{fn} with a non-constant language tag")
                self.next()
                shape = (False, _unquote(v3).lower(), None)
            else:
                k3, v3 = self.next()
                if k3 == "IRI":
                    d = v3[1:-1]
                elif k3 == "PNAME":
                    d = self._expand_pname(v3)
                else:
                    raise SparqlUnsupported(
                        f"{fn} with a non-constant datatype IRI")
                # ^^xsd:string = the simple literal, same as in terms
                shape = (False, None,
                         None if d == _XSD + "string" else d)
            self.eat("OP", ")")
            # lexically the constructed literal IS its lexical form;
            # the tag/datatype lives in the shape (stamped onto the
            # target variable when this is the whole BIND body)
            sql = f"({lex})"
            self._last_ctor = (sql, shape)
            return sql
        if k == "NAME" and v.upper() == "TIMEZONE":
            # §17.4.5.7: the timezone as an xsd:dayTimeDuration.  The
            # lexical term model reads the trailing Z/±HH:MM of the
            # dateTime's lexical form; a zone-less value is the spec's
            # type error, which compiles to NULL (FILTER drops the
            # row, BIND leaves the target unbound — same posture as
            # every other erroring builtin here).  As the whole BIND
            # body it stamps the typed-literal shape, like STRDT.
            self.next()
            self.eat("OP", "(")
            arg = self.expr()
            self.eat("OP", ")")
            sql = _timezone_sql(arg)
            self._last_ctor = (
                sql, (False, None, _XSD + "dayTimeDuration"))
            return sql
        if k == "NAME" and v.upper() in _SHAPE_FNS:
            fn = v.upper()
            self.next()
            self.eat("OP", "(")
            if not self.at("VAR"):
                raise SparqlUnsupported(
                    f"{fn} over a non-variable expression (the shape "
                    "companions attach to pattern bindings)")
            name = self._expr_prim()  # validates the variable name
            if self.take("OP", ","):
                raise SparqlError(f"{fn} takes 1 argument(s), got 2+")
            self.eat("OP", ")")
            self.shape_vars.add(name)
            return _shape_fn_sql(fn, name)
        if (k == "NAME" and v.upper() in self._AGG
                and self.peek(1) == ("OP", "(")):
            # aggregate inside an expression (composite projection,
            # HAVING, ORDER BY): lift it into a hidden ("agg", ...)
            # item and reference its synthetic alias — the expression
            # then binds AFTER aggregation, where the alias is a
            # plain column (§18.2.4.4 Extend over the aggregated
            # sequence)
            if not self._agg_allowed:
                raise SparqlError(
                    f"aggregate {v.upper()} is only legal in SELECT "
                    "expressions, HAVING, or ORDER BY")
            self.next()
            fn = v.upper()
            distinct, arg, sep = self._agg_call(fn)
            alias = f"_aggsyn{len(self._agg_synth)}"
            self._agg_synth.append(("agg", fn, distinct, arg, alias,
                                    sep))
            return alias
        if k == "NAME" and v.upper() in self._FUNCS:
            self.next()
            tmpl = self._FUNCS[v.upper()]
            self.eat("OP", "(")
            args = [self.expr()]
            while self.take("OP", ","):
                args.append(self.expr())
            self.eat("OP", ")")
            arity = 2 if "{1}" in tmpl else 1
            if len(args) != arity:
                raise SparqlError(
                    f"{v.upper()} takes {arity} argument(s), "
                    f"got {len(args)}")
            return tmpl.format(*args)
        if k == "NAME" and v.upper() in self._VARIADIC:
            self.next()
            fn, lo, hi = self._VARIADIC[v.upper()]
            self.eat("OP", "(")
            args = [self.expr()]
            while self.take("OP", ","):
                args.append(self.expr())
            self.eat("OP", ")")
            if not lo <= len(args) <= hi:
                raise SparqlError(
                    f"{v.upper()} takes {lo}..{hi} arguments, "
                    f"got {len(args)}")
            return f"{fn}({', '.join(args)})"
        raise SparqlUnsupported(f"expression token {v!r}")

    # -- group graph pattern ----------------------------------------------
    def group(self) -> dict:
        """Parse ``{ ... }`` into the executable group description."""
        self.eat("OP", "{")
        g = {"patterns": [], "optionals": [], "filters": [],
             "exists": [], "minus": [], "values": None, "binds": [],
             "unions": [], "subqueries": [], "graphs": [],
             "graph_scoped": []}
        # operand-order ledger for the §18.2.2.6 guard below: the
        # solver conjoins by KIND (join operands, then OPTIONAL/MINUS
        # passes), which matches the spec's left-to-right translation
        # only when no LATER binding operand introduces a variable an
        # earlier OPTIONAL/MINUS touches — record (kind, vars,
        # certain) per syntactic operand and refuse the reordering-
        # sensitive shapes instead of misanswering them
        seq: list[tuple] = []

        def pat_vars(pats):
            return {t[1:] for pat in pats for t in pat
                    if isinstance(t, str) and t.startswith("?")}

        while not self.at("OP", "}"):
            n_before = {k: len(g[k]) for k in
                        ("patterns", "optionals", "minus", "unions",
                         "subqueries", "graphs", "graph_scoped",
                         "binds")}
            values_before = g["values"]
            if self.at("OP", "{") and self.peek(1) == ("KW", "SELECT"):
                self.eat("OP", "{")
                g["subqueries"].append(_parse_select(self,
                                                     subquery=True))
                self.eat("OP", "}")
            elif self.take("KW", "GRAPH"):
                gterm = self.term(allow_literal=False)
                sub = self.group()
                no_paths = all(
                    not isinstance(p, tuple) or p[0] == "pred"
                    for _s, p, _o in sub["patterns"])
                plain = _is_plain_group(sub) and no_paths
                if plain and not sub["filters"]:
                    # plain quad patterns: inline into the shared
                    # quad matcher (also the shape update data blocks
                    # and templates consume)
                    for s, path, o in sub["patterns"]:
                        g["graphs"].append(
                            (s, _unwrap_pred(path, "GRAPH groups"), o,
                             gterm))
                elif gterm.startswith("?"):
                    if not plain:
                        raise SparqlUnsupported(
                            "a non-plain group under GRAPH ?var "
                            "(OPTIONAL/UNION/BIND/paths inside GRAPH "
                            "need a constant graph IRI; with a "
                            "variable, keep the group to triple "
                            "patterns + FILTERs)")
                    # patterns + FILTERs: the filters scope to the
                    # GRAPH group (§18.2.2: applied at its group's
                    # end), and group-end-of-parent is equivalent
                    # exactly when every variable they read is bound
                    # by the group's own patterns (a join constrains
                    # shared variables to equal values; an OUTER-only
                    # variable would be unbound -> type error -> drop
                    # in the inner scope, so hoisting would change
                    # the answer — refuse that shape)
                    own = pat_vars(sub["patterns"]) | {gterm[1:]}
                    allowed = set(own)
                    for v in own:
                        allowed.update(G.shape_names(v))
                    for e in sub["filters"]:
                        refs = G._sql_column_refs(e)
                        if not refs <= allowed:
                            raise SparqlUnsupported(
                                f"GRAPH group FILTER reads outer "
                                f"variable(s) {sorted(refs - allowed)}"
                                ": an unbound variable is a type "
                                "error inside the group's scope; "
                                "move the FILTER to the outer group "
                                "if outer bindings are intended")
                    for s, path, o in sub["patterns"]:
                        g["graphs"].append(
                            (s, _unwrap_pred(path, "GRAPH groups"), o,
                             gterm))
                    g["filters"].extend(sub["filters"])
                else:
                    # constant graph IRI + any full group: the group
                    # solves recursively against the frame scoped to
                    # that one named graph (property paths, OPTIONAL,
                    # UNION, VALUES, BIND, subqueries, nested GRAPH
                    # all legal — the whole solver is reused)
                    g["graph_scoped"].append((gterm, sub))
            elif self.take("KW", "OPTIONAL"):
                sub = self.group()
                if _is_plain_group(sub):
                    # the group is a UNIT of patterns (+ FILTERs) and
                    # inlines into the matcher's left join
                    if sub["patterns"]:
                        g["optionals"].append(
                            {"patterns": sub["patterns"],
                             "filters": sub["filters"] or None})
                    # else a FILTER-only or empty OPTIONAL is a no-op:
                    # §6.1 leftjoin against the unit solution keeps
                    # every left row whether the filter passes (via
                    # the filter branch) or fails (via Diff)
                else:
                    # full-group OPTIONAL (nested OPTIONAL / BIND /
                    # UNION / VALUES / subquery / GRAPH): solves
                    # recursively and left-joins as a unit
                    g["optionals"].append({"group": sub,
                                           "patterns": [],
                                           "filters": None})
            elif self.take("KW", "FILTER"):
                if self.at("KW", "EXISTS") or (
                        self.at("KW", "NOT")
                        and self.peek(1) == ("KW", "EXISTS")):
                    negate = self.take("KW", "NOT")
                    self.eat("KW", "EXISTS")
                    sub = self.group()
                    if _is_plain_group(sub) and not sub["filters"]:
                        g["exists"].append((negate, sub["patterns"]))
                    else:
                        # full-group body — solved recursively at
                        # execution (the solver guards §8.1.1's
                        # substitution-scope restrictions there)
                        g["exists"].append((negate, sub))
                else:
                    self.eat("OP", "(")
                    g["filters"].append(self.expr())
                    self.eat("OP", ")")
            elif self.take("KW", "MINUS"):
                sub = self.group()
                if _is_plain_group(sub) and not sub["filters"]:
                    # MINUS {} has disjoint domains with everything
                    # and removes nothing (§8.3) — drop it
                    if sub["patterns"]:
                        g["minus"].append(sub["patterns"])
                else:
                    # full-group body: §8.3 evaluates it WITHOUT the
                    # outer bindings, so it solves recursively as its
                    # own scope
                    g["minus"].append(sub)
            elif self.take("KW", "BIND"):
                self.eat("OP", "(")
                self._last_ctor = None
                self._expr_vars = set()
                e = self.expr()
                bind_reads = set(self._expr_vars)
                # a term constructor (IRI / STRLANG / STRDT / UUID /
                # BNODE / ...) as the WHOLE bind body stamps the
                # target variable's term shape; nested uses lose it
                # (shape reads as unknown -> NULL, never misclassified)
                shape = (self._last_ctor[1]
                         if self._last_ctor
                         and self._last_ctor[0] == e else None)
                self.eat("KW", "AS")
                g["binds"].append((self.var(), e, shape))
                self.eat("OP", ")")
            elif self.take("KW", "VALUES"):
                v = self._values()
                # a second VALUES in the same group joins with the
                # first (SPARQL group algebra); both tables are literal
                # so the join folds here at parse time
                g["values"] = (v if g["values"] is None
                               else _merge_values(g["values"], v))
            elif self.at("KW", "SERVICE"):
                raise SparqlUnsupported(
                    "SERVICE (federated query — executors carry no "
                    "network by design; materialize the remote graph "
                    "into the lake and join it as a named graph "
                    "instead)")
            elif self.at("OP", "{"):
                g["unions"].append(self._union_chain())
            else:
                self._triples_block(g["patterns"])
            self.take("OP", ".")
            # ledger update: what did this iteration append?
            new_pats = g["patterns"][n_before["patterns"]:]
            if new_pats:
                vs = pat_vars(new_pats)
                seq.append(("pats", vs, vs))
            for quad in g["graphs"][n_before["graphs"]:]:
                vs = {t[1:] for t in quad
                      if isinstance(t, str) and t.startswith("?")}
                seq.append(("graph", vs, vs))
            for _giri, sub in \
                    g["graph_scoped"][n_before["graph_scoped"]:]:
                seq.append(("graphscoped", _group_vars(sub),
                            _certain_vars(sub)))
            for chain in g["unions"][n_before["unions"]:]:
                seq.append(("union",
                            set().union(*[_group_vars(b)
                                          for b in chain]),
                            set.intersection(*[_certain_vars(b)
                                               for b in chain])))
            for sq in g["subqueries"][n_before["subqueries"]:]:
                if sq.get("star"):
                    allv = _group_vars(sq["where"])
                else:
                    allv = {it[1] if it[0] == "var"
                            else (it[4] if it[0] == "agg" else it[2])
                            for it in sq["items"]}
                seq.append(("subq", allv, _subquery_certain(sq)))
            if g["values"] is not None and \
                    g["values"] is not values_before:
                names, rows = g["values"]
                seq.append(("values", set(names),
                            {n for i, n in enumerate(names)
                             if rows and all(r[i] is not None
                                             for r in rows)}))
            for var, _e, _shp in g["binds"][n_before["binds"]:]:
                # the entry carries the TARGET and the expression's
                # INPUT variables — Extend is positional for both (a
                # later operand binding an input the bind read as
                # unbound would change the extension)
                seq.append(("bind", {var} | bind_reads, set()))
            for o in g["optionals"][n_before["optionals"]:]:
                vs = (_group_vars(o["group"]) if "group" in o
                      else pat_vars(o["patterns"]))
                seq.append(("opt", vs, set()))
            for body in g["minus"][n_before["minus"]:]:
                vs = (_group_vars(body) if isinstance(body, dict)
                      else pat_vars(body))
                seq.append(("minus", vs, set()))
        self.eat("OP", "}")
        # §18.2.2.6 guard.  The solver executes operand KINDS in a
        # fixed order, not syntactic order: with sibling patterns and
        # only inline-able OPTIONALs the effective order is patterns →
        # optionals → other joins → binds → minus; otherwise patterns →
        # joins → optionals → binds → minus.  (FILTER EXISTS is
        # absent: §18.2.2.2 applies filters over the finished group,
        # which is where the solver runs them.)  Join operands commute
        # (§18.5), so only pairs the solver executes in the OPPOSITE
        # of their syntactic order can deviate — and only when they
        # share a variable not already certain at the earlier operand.
        # Refuse those instead of conjoining in the wrong order.
        inline = bool(g["patterns"]) and not any(
            "group" in o for o in g["optionals"])
        slots = ({"pats": 0, "opt": 1, "graph": 2, "graphscoped": 2,
                  "subq": 2, "union": 2, "values": 2, "bind": 3,
                  "minus": 4}
                 if inline else
                 {"pats": 0, "graph": 1, "graphscoped": 1, "subq": 1,
                  "union": 1, "values": 1, "opt": 2, "bind": 3,
                  "minus": 4})
        joins = {"pats", "graph", "graphscoped", "subq", "union",
                 "values"}
        for i, (kind_a, vars_a, _ca) in enumerate(seq):
            for j in range(i + 1, len(seq)):
                kind_b, vars_b, _cb = seq[j]
                if kind_a in joins and kind_b in joins:
                    continue  # joins commute
                if slots[kind_b] >= slots[kind_a]:
                    continue  # executes in syntactic order
                # the pair commutes when every shared variable is
                # already certain at the earlier-EXECUTING member's
                # run: supplied by join operands that precede the
                # pair syntactically (k < j) and execute no later
                # than B — joining on an everywhere-certain variable
                # is order-free under §18.5
                settled: set = set()
                for k in range(j):
                    kind_k, _vk, ck = seq[k]
                    if (kind_k in joins
                            and slots[kind_k] <= slots[kind_b]):
                        settled |= ck
                clash = sorted((vars_a & vars_b) - settled)
                if clash:
                    raise SparqlUnsupported(
                        f"a {kind_a.upper()} operand precedes a "
                        f"{kind_b.upper()} operand sharing "
                        f"variable(s) {clash}, but the solver "
                        f"executes {kind_b.upper()} first — "
                        "§18.2.2.6 is positional; reorder the query "
                        "so the operands appear in execution order")
        return g

    def _union_chain(self) -> list[dict]:
        """``{..} UNION {..} UNION ..`` — each branch is a FULL group
        (nested UNION / BIND / VALUES / MINUS / subqueries all legal;
        the solver recurses).  A single braceless-adjacent group
        (no UNION keyword) parses as a 1-branch chain — SPARQL's
        group-join of a nested group, same algebra."""
        branches = [self.group()]
        while self.take("KW", "UNION"):
            branches.append(self.group())
        return branches

    def _values(self):
        if self.at("VAR"):
            names = [self.var()]
            self.eat("OP", "{")
            rows = []
            while not self.at("OP", "}"):
                rows.append((self._values_cell(),))
            self.eat("OP", "}")
            return (names, rows)
        self.eat("OP", "(")
        names = []
        while not self.at("OP", ")"):
            names.append(self.var())
        self.eat("OP", ")")
        self.eat("OP", "{")
        rows = []
        while not self.at("OP", "}"):
            self.eat("OP", "(")
            row = []
            while not self.at("OP", ")"):
                row.append(self._values_cell())
            self.eat("OP", ")")
            rows.append(tuple(row))
        self.eat("OP", "}")
        return (names, rows)

    def _values_cell(self):
        if self.take("KW", "UNDEF"):
            return None
        t = self.term(allow_var=False)
        if _tagged(t):
            raise SparqlUnsupported(
                "shape-tagged literals in VALUES (the binding table "
                "joins on the lexical form; bind the plain literal "
                "and FILTER on the pattern side instead)")
        return t

    def _pattern_term(self, patterns: list) -> str:
        """A subject/object term in a triples block: a plain term, or
        ``[ p o ; ... ]`` blank-node syntax — per SPARQL semantics a
        bnode in a query is an existential, i.e. a fresh variable
        scoped to the query, with the bracketed property list emitted
        as extra patterns on it."""
        if not self.at("OP", "["):
            return self.term()
        self.next()
        self._anon += 1
        var = f"?_anon{self._anon}"
        if not self.at("OP", "]"):
            self._predicate_list(var, patterns)
        self.eat("OP", "]")
        return var

    def _predicate_list(self, subj: str, patterns: list):
        while True:
            path = self.path()
            while True:
                obj = self._pattern_term(patterns)
                patterns.append((subj, path, obj))
                if not self.take("OP", ","):
                    break
            if not self.take("OP", ";"):
                break
            if (self.at("OP", ".") or self.at("OP", "}")
                    or self.at("OP", "]")):
                break  # trailing ';'

    def _triples_block(self, patterns: list):
        subj = self._pattern_term(patterns)
        if (subj.startswith("?_anon")
                and (self.at("OP", ".") or self.at("OP", "}"))):
            return  # standalone [ .. ] subject: patterns already added
        self._predicate_list(subj, patterns)


def _is_plain_group(group: dict) -> bool:
    """True when the group is just triple patterns + FILTERs — the
    shape the matcher inlines directly (OPTIONAL fast path, EXISTS /
    MINUS semi-join operands)."""
    return not (group["unions"] or group["optionals"] or group["minus"]
                or group["exists"] or group["values"] or group["binds"]
                or group["subqueries"] or group["graphs"]
                or group.get("graph_scoped"))


def _group_vars(g: dict) -> set[str]:
    """Every variable the group COULD bind (certain or not) — the
    complement is the outer-variable set when classifying a nested
    group's filters.  Conservative in the right direction: a variable
    missed here classifies its filter as outer-reading, which the
    merged-domain evaluation still answers correctly."""
    vs: set[str] = set()

    def add(term):
        if isinstance(term, str) and term.startswith("?"):
            vs.add(term[1:])

    for s, p, o in g["patterns"]:
        add(s)
        if isinstance(p, str):
            add(p)
        add(o)
    for quad in g.get("graphs") or []:
        for term in quad:
            add(term)
    for _giri, sub in g.get("graph_scoped") or []:
        vs |= _group_vars(sub)
    for o in g["optionals"]:
        if "group" in o:
            vs |= _group_vars(o["group"])
        else:
            for pat in o["patterns"]:
                for term in pat:
                    if isinstance(term, str):
                        add(term)
    for var, _e, _shp in g["binds"]:
        vs.add(var)
    if g["values"] is not None:
        vs |= set(g["values"][0])
    for chain in g["unions"]:
        for b in chain:
            vs |= _group_vars(b)
    for sq in g["subqueries"]:
        if sq.get("star"):
            vs |= _group_vars(sq["where"])
        else:
            for it in sq["items"]:
                vs.add(it[1] if it[0] == "var"
                       else (it[4] if it[0] == "agg" else it[2]))
    return vs


def _require_simple(group: dict, where: str, filters_ok: bool = True):
    bad = (group["unions"] or group["optionals"] or group["minus"]
           or group["exists"] or group["values"] or group["binds"]
           or group["subqueries"] or group["graphs"]
           or group.get("graph_scoped")
           or (group["filters"] and not filters_ok))
    if bad:
        raise SparqlUnsupported(f"only plain triple patterns inside "
                                f"{where} groups")


def _timezone_sql(arg: str) -> str:
    """Compile TIMEZONE(expr) to a Spark SQL expression over the
    dateTime LEXICAL form: trailing ``Z``/``±HH:MM`` becomes the
    canonical ``xsd:dayTimeDuration`` lexical (``PT0S``, ``-PT5H``,
    ``PT5H30M``); a zone-less lexical is NULL (the spec's type
    error).  The same regexp family runs verbatim in DuckDB (RE2),
    so oracles mirror it directly."""
    zre = "'([+-])([0-9][0-9]):([0-9][0-9])$'"
    sign = f"regexp_extract({arg}, {zre}, 1)"
    hh = f"cast(regexp_extract({arg}, {zre}, 2) as int)"
    mm = f"cast(regexp_extract({arg}, {zre}, 3) as int)"
    return (
        f"(CASE WHEN {arg} rlike 'Z$' THEN 'PT0S' "
        f"WHEN {arg} rlike '[+-][0-9][0-9]:[0-9][0-9]$' THEN "
        f"(CASE WHEN {hh} = 0 AND {mm} = 0 THEN 'PT0S' "
        f"ELSE concat(CASE WHEN {sign} = '-' THEN '-' ELSE '' END, "
        f"'PT', "
        f"CASE WHEN {hh} > 0 THEN concat(cast({hh} as string), 'H') "
        f"ELSE '' END, "
        f"CASE WHEN {mm} > 0 THEN concat(cast({mm} as string), 'M') "
        f"ELSE '' END) END) "
        f"ELSE NULL END)")


# §17.5 XPath constructor functions (the SPARQL operator-mapping
# table's cast set): target datatype -> lexical validation + canonical-
# ization over the lexical term model.  All values here are STRINGS
# (the store carries lexical forms); a failed cast is the XPath type
# error, which compiles to NULL -> FILTER drops the row / BIND leaves
# the target unbound, the same posture as every other erroring builtin.
_XSD_CAST = frozenset(
    _XSD + t for t in ("integer", "decimal", "float", "double",
                       "string", "boolean", "dateTime"))

_INT_LEX = "'^[+-]?[0-9]+$'"
_DEC_LEX = "'^[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)$'"
_DBL_LEX = ("'^([+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)"
            "([eE][+-]?[0-9]+)?|[+-]?INF|NaN)$'")
_DT_LEX = ("'^-?[0-9]{4,}-[0-9]{2}-[0-9]{2}"
           "T[0-9]{2}:[0-9]{2}:[0-9]{2}([.][0-9]+)?"
           "(Z|[+-][0-9]{2}:[0-9]{2})?$'")


def _xsd_cast_sql(iri: str, arg: str) -> tuple[str, tuple]:
    """Compile ``xsd:T(expr)`` to (sql, result term shape).  Numeric
    results read back as canonical-ish lexical forms (sign/leading-
    zero-stripped integers and decimals; float/double use the JVM's
    shortest-round-trip rendering, e.g. ``100.0`` / ``1.0E20``, with
    INF/NaN mapped to the XPath spellings — documented deviation from
    strict XPath canonical mantissa-exponent form).  Out-of-range
    integers/decimals (>38 digits) overflow to NULL via try_cast
    rather than silently wrapping."""
    t = iri[len(_XSD):]
    if t == "string":
        # the lexical form AS a simple literal (^^xsd:string IS the
        # simple literal in this engine's shape model, like in terms)
        return f"cast({arg} as string)", (False, None, None)
    shape = (False, None, iri)
    if t == "boolean":
        body = ("CASE WHEN __c IN ('true', '1') THEN 'true' "
                "WHEN __c IN ('false', '0') THEN 'false' "
                "ELSE CAST(NULL AS STRING) END")
    elif t == "integer":
        # regex first: Spark's decimal cast ROUNDS '3.2' -> 3, but
        # XPath's string->integer cast requires an integral lexical
        body = (f"CASE WHEN __c RLIKE {_INT_LEX} "
                "THEN cast(try_cast(__c AS DECIMAL(38,0)) AS STRING) "
                "ELSE CAST(NULL AS STRING) END")
    elif t == "decimal":
        norm = "cast(try_cast(__c AS DECIMAL(38,18)) AS STRING)"
        # strip the fixed-scale rendering's trailing zeros, then a
        # bare trailing point ('3.200000..' -> '3.2', '3.000..' -> '3')
        norm = (f"regexp_replace(regexp_replace({norm}, "
                f"'([.][0-9]*?)0+$', '$1'), '[.]$', '')")
        body = (f"CASE WHEN __c RLIKE {_DEC_LEX} THEN {norm} "
                "ELSE CAST(NULL AS STRING) END")
    elif t in ("float", "double"):
        val = ("try_cast(CASE WHEN __c RLIKE '^[+-]?INF$' "
               "THEN replace(__c, 'INF', 'Infinity') "
               "ELSE __c END AS DOUBLE)")
        out = (f"replace(cast({val} AS STRING), "
               "'Infinity', 'INF')")
        body = (f"CASE WHEN __c RLIKE {_DBL_LEX} THEN {out} "
                "ELSE CAST(NULL AS STRING) END")
    else:  # dateTime: validated pass-through of the lexical form
        body = (f"CASE WHEN __c RLIKE {_DT_LEX} THEN __c "
                "ELSE CAST(NULL AS STRING) END")
    # the lambda binds the argument once (see _iri_fn_sql): CASE may
    # read it several times without re-evaluating nondeterministic or
    # expensive argument expressions
    return (f"(transform(array(cast({arg} as string)), "
            f"__c -> {body})[0])"), shape


def _unquote(tok: str) -> str:
    """Decode SPARQL string escapes in one left-to-right pass, so an
    escaped backslash correctly consumes its backslash (``"C:\\\\user"``
    is a literal backslash + 'user', not a malformed ``\\u`` escape);
    a genuinely malformed ``\\u``/``\\U`` raises instead of misparsing
    (the front-end's raise-not-misparse guarantee)."""
    body = tok[1:-1]

    def sub(m):
        e = m.group(1)
        if e[0] in "uU" and len(e) > 1:  # \uXXXX / \UXXXXXXXX
            cp = int(e[1:], 16)
            if cp > 0x10FFFF:
                raise SparqlError(
                    f"\\U escape beyond U+10FFFF in string {tok!r}")
            return chr(cp)
        if e in ("u", "U"):  # bare \u not followed by enough hex
            raise SparqlError(f"malformed \\{e} escape in string {tok!r}")
        return {"n": "\n", "t": "\t", "r": "\r",
                "b": "\b", "f": "\f"}.get(e, e)

    return re.sub(r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|.)", sub, body)


# ------------------------------------------------------------------ #
# query forms
# ------------------------------------------------------------------ #

def _prologue(p: _Parser) -> None:
    """``PREFIX`` / ``BASE`` declarations (shared by the query and
    update grammars; UPDATE allows a fresh prologue per operation)."""
    while p.at("KW", "PREFIX") or p.at("KW", "BASE"):
        if p.take("KW", "BASE"):
            p.base = p.eat("IRI")[1:-1]
            continue
        p.next()
        pname = p.eat("PNAME")
        iri = p.eat("IRI")[1:-1]
        p.prefixes[pname[:-1] if pname.endswith(":")
                   else pname.partition(":")[0]] = iri


def parse(text: str, init_ns: dict | None = None) -> dict:
    """Parse SPARQL text into the executable query description.
    ``init_ns`` pre-seeds prefix bindings (rdflib's ``initNs``); an
    in-query PREFIX declaration for the same prefix wins, like
    rdflib's."""
    p = _Parser(text)
    if init_ns:
        p.prefixes.update({str(k): str(v) for k, v in init_ns.items()})
    _prologue(p)
    k, v = p.peek()
    if v == "SELECT":
        q = _parse_select(p)
    elif v == "ASK":
        p.next()
        ds = _dataset_clause(p)
        p.take("KW", "WHERE")  # WhereClause ::= 'WHERE'? GGP
        q = {"form": "ask", "where": p.group(), **ds}
    elif v == "CONSTRUCT":
        p.next()
        if p.at("OP", "{"):
            # full form: CONSTRUCT {tpl} DatasetClause* 'WHERE'? {..}
            tpl_group = p.group()
            _require_simple(tpl_group, "CONSTRUCT templates",
                            filters_ok=False)
            ds = _dataset_clause(p)
            p.take("KW", "WHERE")
            q = {"form": "construct", "template": tpl_group["patterns"],
                 "where": p.group(), **ds}
        else:
            # CONSTRUCT DatasetClause* WHERE { ... } shorthand (SPARQL
            # 1.1 §10.2.2): the pattern group doubles as the template
            ds = _dataset_clause(p)
            p.eat("KW", "WHERE")
            w = p.group()
            _require_simple(w, "CONSTRUCT WHERE shorthand",
                            filters_ok=True)
            q = {"form": "construct", "template": w["patterns"],
                 "where": w, **ds}
    elif v == "DESCRIBE":
        p.next()
        variables, nodes = [], []
        while p.at("VAR") or p.at("IRI") or p.at("PNAME"):
            if p.at("VAR"):
                variables.append(p.var())
            else:
                nodes.append(p.term(allow_var=False,
                                    allow_literal=False))
        if variables:
            ds = _dataset_clause(p)
            p.take("KW", "WHERE")
            q = {"form": "describe_var", "vars": variables,
                 "nodes": nodes, "where": p.group(), **ds}
        elif nodes:
            q = {"form": "describe", "nodes": nodes,
                 **_dataset_clause(p)}
        else:
            raise SparqlUnsupported(
                "DESCRIBE needs IRIs or ?variables with WHERE")
    else:
        raise SparqlError(f"expected a query form, got {v!r}")
    if p.at("KW", "VALUES") and q["form"] not in ("select",
                                                  "construct"):
        raise SparqlUnsupported(
            "trailing VALUES on ASK/DESCRIBE (supported on SELECT and "
            "CONSTRUCT; wrap the others' patterns in a VALUES-carrying "
            "group instead)")
    if p.take("KW", "VALUES") and q["form"] == "construct":
        q["values"] = p._values()
    if not p.at("EOF"):
        raise SparqlError(f"trailing tokens at {p.peek()[1]!r}")
    q["shape_vars"] = frozenset(p.shape_vars)
    return q


def _dataset_clause(p: _Parser) -> dict:
    """``FROM <g>`` / ``FROM NAMED <g>`` clauses -> the active dataset
    (SPARQL 1.1 §13.2): FROM graphs merge into the default graph, FROM
    NAMED graphs are the ones GRAPH may range over."""
    ds = {"from": [], "from_named": []}
    while p.take("KW", "FROM"):
        key = "from_named" if p.take("KW", "NAMED") else "from"
        ds[key].append(p.term(allow_var=False, allow_literal=False))
    return ds


def _parse_select(p: _Parser, subquery: bool = False) -> dict:
    # lifted-aggregate scope: entries this SELECT's items / HAVING /
    # ORDER BY push are sliced off at the end, so a nested subquery
    # (whose recursion pops its own slice first) never leaks into the
    # enclosing query's aggregation spec
    synth_base = len(p._agg_synth)
    p.eat("KW", "SELECT")
    distinct = p.take("KW", "DISTINCT")
    if p.take("KW", "REDUCED"):
        pass  # REDUCED permits (does not require) dedup; plain is valid
    items, star = [], False
    if p.take("OP", "*"):
        star = True
    else:
        while p.at("VAR") or p.at("OP", "("):
            items.append(p.select_item())
        if not items:
            raise SparqlError("empty SELECT clause")
    ds = _dataset_clause(p)
    if subquery and any(ds.values()):
        raise SparqlUnsupported("FROM inside a subquery (the grammar "
                                "scopes dataset clauses to the top "
                                "level)")
    p.take("KW", "WHERE")
    where = p.group()
    group_by: list[str] = []
    having = None
    order_by: list[str] = []
    limit = offset = None
    group_binds: list[tuple[str, str]] = []
    if p.take("KW", "GROUP"):
        p.eat("KW", "BY")
        # GroupCondition ::= Var | '(' Expression ('AS' Var)? ')'
        #                  | BuiltInCall | FunctionCall  (§18.2.4: the
        # expression binds on each solution BEFORE grouping; with AS
        # the key is projectable, without it the key is anonymous —
        # a hidden alias the final projection never emits)
        gsyn = 0
        while True:
            if p.at("VAR"):
                group_by.append(p.var())
                continue
            if p.at("OP", "("):
                p.eat("OP", "(")
                e = p.expr()
                if p.take("KW", "AS"):
                    v = p.var()
                else:
                    gsyn += 1
                    v = f"_grpkey{gsyn}"
                p.eat("OP", ")")
            elif (p.at("NAME") or p.at("IRI")
                  or p.at("PNAME")) and p.peek(1) == ("OP", "("):
                e = p.expr()
                gsyn += 1
                v = f"_grpkey{gsyn}"
            else:
                break
            group_binds.append((v, e))
            group_by.append(v)
        if not group_by:
            raise SparqlError("GROUP BY needs at least one condition")
    if p.take("KW", "HAVING"):
        # one or more bracketted constraints, conjoined (§18.2.4.4);
        # aggregate calls inside them lift into hidden agg items
        parts = []
        prev, p._agg_allowed = p._agg_allowed, True
        try:
            while p.at("OP", "("):
                p.eat("OP", "(")
                parts.append(p.expr())
                p.eat("OP", ")")
        finally:
            p._agg_allowed = prev
        if not parts:
            raise SparqlError("HAVING needs a (constraint)")
        having = " AND ".join(f"({c})" for c in parts)
    if p.take("KW", "ORDER"):
        p.eat("KW", "BY")
        # OrderCondition ::= (ASC|DESC) BrackettedExpression
        #                  | Constraint | Var — plain variables stay
        # bare-string keys ("v"/"-v", the operator API), expressions
        # become ("asc"|"desc", sql) pairs so a leading minus in the
        # expression can't masquerade as the DESC marker; aggregate
        # calls (legal when the query aggregates) lift into hidden
        # agg items like SELECT expressions do
        p._agg_allowed = True
        while True:
            if p.at("KW", "DESC") or p.at("KW", "ASC"):
                direction = p.next()[1].lower()
                p.eat("OP", "(")
                e = p.expr()
                p.eat("OP", ")")
                if _BARE_NAME.fullmatch(e):
                    order_by.append(("-" if direction == "desc"
                                     else "") + e)
                else:
                    order_by.append((direction, e))
            elif p.at("VAR"):
                order_by.append(p.var())
            elif p.at("OP", "("):
                p.eat("OP", "(")
                order_by.append(("asc", p.expr()))
                p.eat("OP", ")")
            elif p.at("NAME") and p.peek(1) == ("OP", "("):
                order_by.append(("asc", p.expr()))
            else:
                break
        p._agg_allowed = False
        if not order_by:
            raise SparqlError("ORDER BY needs at least one condition")
    # LimitOffsetClauses: LIMIT and OFFSET in either order (§18.2.4)
    while p.at("KW", "LIMIT") or p.at("KW", "OFFSET"):
        if p.take("KW", "LIMIT"):
            if limit is not None:
                raise SparqlError("duplicate LIMIT")
            limit = int(p.eat("NUM"))
        else:
            p.take("KW", "OFFSET")
            if offset is not None:
                raise SparqlError("duplicate OFFSET")
            offset = int(p.eat("NUM"))
    trailing_values = None
    if p.take("KW", "VALUES"):
        # trailing VALUES (SPARQL §10.2): post-hoc constraint over the
        # whole solution sequence
        trailing_values = p._values()
    agg_synth = p._agg_synth[synth_base:]
    del p._agg_synth[synth_base:]
    return {"form": "select", "star": star, "items": items,
            "distinct": distinct, "where": where, "group_by": group_by,
            "group_binds": group_binds, "having": having,
            "order_by": order_by, "limit": limit,
            "offset": offset, "values": trailing_values,
            "agg_synth": agg_synth, **ds}


# ------------------------------------------------------------------ #
# execution
# ------------------------------------------------------------------ #

def _attach_shape(g: dict | None, shape_vars) -> None:
    """Hand the parse-time shape-variable set to every group dict so
    the solver can ask the matcher for companion columns wherever the
    variable might bind (union branches, subqueries)."""
    if g is None or not shape_vars:
        return
    g["_shape"] = shape_vars
    for sub in _child_groups(g):
        _attach_shape(sub, shape_vars)


def _child_groups(g: dict):
    """The groups nested directly in ``g``: GRAPH <iri> groups, UNION
    branches, subquery WHERE groups, OPTIONAL groups and group-shaped
    EXISTS / MINUS bodies."""
    for _giri, sub in g.get("graph_scoped") or ():
        yield sub
    for chain in g.get("unions") or ():
        yield from chain
    for sq in g.get("subqueries") or ():
        yield sq["where"]
    for o in g.get("optionals") or ():
        if isinstance(o, dict) and "group" in o:
            yield o["group"]
    for _, body in g.get("exists") or ():
        if isinstance(body, dict):
            yield body
    for body in g.get("minus") or ():
        if isinstance(body, dict):
            yield body


def ask_reads_bag(q: dict) -> bool:
    """An ASK with no subquery at any depth answers the same over a
    frame with duplicate rows as over its set: every other operator
    keeps or drops a solution by existence alone, while a subquery's
    aggregates and slices (COUNT, LIMIT, OFFSET) count duplicates."""
    def has_subquery(g: dict) -> bool:
        return bool(g.get("subqueries")) or any(
            has_subquery(sub) for sub in _child_groups(g))

    return q["form"] == "ask" and not has_subquery(q["where"])


def _tagged(term) -> bool:
    """An explicitly shape-tagged literal constant ("x"@en /
    "x"^^<dt>) — its pattern match constrains the term shape, so the
    working frame must carry the shape columns."""
    return bool((getattr(term, "lang", None)
                 or getattr(term, "dt", None))
                and not getattr(term, "implicit", False))


def _group_has_graphs(g: dict) -> bool:
    """GRAPH anywhere in the group tree — the update path requires a
    quad frame up front when one is present (the scope select strips
    the graph column, so a nested GRAPH would otherwise fail with a
    misleading 'needs a quad frame' diagnosis on a genuine quad
    store)."""
    return bool(g.get("graphs") or g.get("graph_scoped")) or any(
        _group_has_graphs(sub) for sub in _child_groups(g))


def _group_has_tagged(g: dict) -> bool:
    def in_pats(pats) -> bool:
        return any(_tagged(t) for pat in pats for t in pat
                   if isinstance(t, str))

    if in_pats(g["patterns"]) or in_pats(g.get("graphs") or []):
        return True
    if any(_group_has_tagged(sub)
           for _giri, sub in g.get("graph_scoped") or ()):
        return True
    for o in g["optionals"]:
        if isinstance(o, dict) and "group" in o:
            if _group_has_tagged(o["group"]):
                return True
        elif in_pats([o] if isinstance(o, tuple) else o["patterns"]):
            return True
    for _, body in g["exists"]:
        if (_group_has_tagged(body) if isinstance(body, dict)
                else in_pats(body)):
            return True
    for body in g["minus"]:
        if (_group_has_tagged(body) if isinstance(body, dict)
                else in_pats(body)):
            return True
    return any(_group_has_tagged(b)
               for chain in g["unions"] for b in chain)


def _expand_paths(triples: DataFrame, groups: list[dict],
                  keep_shape: bool = False) -> DataFrame:
    """Rewrite non-plain path predicates to virtual predicates and
    union their materialized edges into the working frame (the same
    composition the path operators document).  Without a path to
    materialize the working frame IS ``triples``.  Nested paths (e.g.
    ``(p1/p2)+`` or ``^(p*)``) materialize bottom-up: each inner
    operand becomes a virtual edge set in the working frame before
    the outer operator closes over it.  A top-level ``+``/``*`` with
    a constant endpoint is searched from that constant instead
    (``graphops.path_walk``, the reachability evaluator's BFS)."""
    counter = [0]
    # the frame passes through untouched unless a path materializes:
    # the matcher projects only the bound variables anyway
    work = [triples]

    def materialize(path, start=None) -> str:
        """``start``: ``(constant, reverse)`` for a top-level closure
        with a constant endpoint — the subject, else the object."""
        kind = path[0]
        if kind == "pred":
            return path[1]
        if not counter[0]:
            # literal-shape columns ride along ONLY when a term-shape
            # builtin will read them (keep_shape) — otherwise the
            # classic 3-column pipeline, so path dedups never widen
            # for nothing; virtual path edges union in with NULL
            # shape — a multi-hop endpoint's shape is unknown by
            # design
            keep = ["subj", "pred", "obj"] + (
                G.obj_shape_cols(triples) if keep_shape else [])
            if triples.columns != keep:
                work[0] = triples.select(*keep)
        counter[0] += 1
        # NUL-prefixed: no IRI, CURIE or literal can contain \x00, so
        # the reserved namespace can never shadow a real predicate
        name = f"\x00path{counter[0]}"
        if kind == "neg2":
            fwd, inv = path[1]
            edges = G.path_negated_set(work[0], list(fwd), list(inv),
                                       name)
        elif kind in ("seq", "alt", "neg"):
            ops = [p if isinstance(p, str) else materialize(p)
                   for p in path[1]]
            fn = G.path_seq if kind == "seq" else (
                G.path_alt if kind == "alt" else G.path_negated)
            edges = fn(work[0], ops, name)
        else:
            inner = path[1] if isinstance(path[1], str) \
                else materialize(path[1])
            # a closure with a constant endpoint is a BFS from it
            # (graphops._reach), at any depth.  A closure with both
            # ends free, or nested in another path, uses the doubling
            # strategy: the query author can't pick per-call knobs
            # here, and doubling's log2-depth rounds (2^20-deep
            # graphs inside the default iteration budget) are the
            # safe default for unknown-depth data
            if start is not None and kind in ("plus", "star"):
                edges = G.path_walk(work[0], inner, start[0], name,
                                    reverse=start[1],
                                    zero_length=kind == "star")
            elif kind == "plus":
                edges = G.path_closure(work[0], inner, out_pred=name,
                                       strategy="doubling")
            elif kind == "star":
                edges = G.path_zero_or_more(work[0], inner,
                                            out_pred=name,
                                            strategy="doubling")
            elif kind == "opt":
                edges = G.path_zero_or_one(work[0], inner, name)
            elif kind == "inv":
                edges = G.path_inverse(work[0], inner, name)
            else:  # pragma: no cover
                raise SparqlUnsupported(f"path kind {kind}")
        work[0] = work[0].unionByName(edges,
                                      allowMissingColumns=True)
        return name

    def has_closure(p) -> bool:
        if not isinstance(p, tuple):
            return False
        if p[0] in ("plus", "star", "opt"):
            return True
        if p[0] in ("seq", "alt", "neg"):
            return any(has_closure(x) for x in p[1])
        if p[0] == "neg2":  # members are plain terms by the grammar
            return False
        return has_closure(p[1])  # inv

    def rewrite(patterns):
        out = []
        for s, path, o in patterns:
            if isinstance(path, tuple):
                if _tagged(o) and has_closure(path):
                    # closure endpoints carry NULL (unknown) shape, so
                    # a shape-tagged object could only ever filter to
                    # empty — refuse rather than silently mismatch
                    raise SparqlUnsupported(
                        "shape-tagged literal as the object of a "
                        "path containing a closure (a multi-hop "
                        "endpoint's shape is unknown; match a "
                        "variable and FILTER on LANG/DATATYPE of a "
                        "single-hop binding instead)")
                start = None
                if path[0] in ("plus", "star"):
                    if not s.startswith("?"):
                        start = (s, False)
                    elif not o.startswith("?"):
                        start = (o, True)
                pred = materialize(path, start)
            else:  # already a plain string (template positions)
                pred = path
            out.append((s, pred, o))
        return out

    for g in groups:
        g["patterns"] = rewrite(g["patterns"])
        g["optionals"] = [{**o, "patterns": rewrite(o["patterns"])}
                          for o in g["optionals"]]
        # dict-shaped MINUS / EXISTS bodies are full groups that solve
        # recursively — their own _solve_group expands their paths
        g["minus"] = [rewrite(m) if isinstance(m, list) else m
                      for m in g["minus"]]
        g["exists"] = [(n, rewrite(e) if isinstance(e, list) else e)
                       for n, e in g["exists"]]
    return work[0]


def _merge_values(a: tuple, b: tuple) -> tuple:
    """Join two inline VALUES tables per §18.5 compatibility: rows
    merge when every shared column agrees or is UNDEF on a side (the
    defined cell wins); incompatible row pairs drop.  Both tables are
    literal, so the join is computed here once — the solver only ever
    sees one table per group."""
    na, ra = a
    nb, rb = b
    names = list(na) + [n for n in nb if n not in na]
    ia = {n: i for i, n in enumerate(na)}
    ib = {n: i for i, n in enumerate(nb)}
    rows = []
    for x in ra:
        for y in rb:
            merged, ok = [], True
            for n in names:
                va = x[ia[n]] if n in ia else None
                vb = y[ib[n]] if n in ib else None
                if va is not None and vb is not None and va != vb:
                    ok = False
                    break
                merged.append(va if va is not None else vb)
            if ok:
                rows.append(tuple(merged))
    return (names, rows)


def _certain_vars(g: dict) -> set[str]:
    """Variables CERTAINLY bound (never NULL) in every solution the
    group emits: plain/GRAPH pattern positions, VALUES columns with no
    UNDEF cell, per union chain the variables certain in EVERY branch,
    and a subquery's projections of variables certain in its own WHERE.
    OPTIONAL- and BIND-bound variables are not certain (they may come
    back unbound), which is exactly what the join compatibility guards
    need to know."""
    vs: set[str] = set()

    def add(term):
        if isinstance(term, str) and term.startswith("?"):
            vs.add(term[1:])

    for s, p, o in g["patterns"]:
        add(s)
        if isinstance(p, str):
            add(p)
        add(o)
    for s, p, o, gt in g.get("graphs") or []:
        for term in (s, p, o, gt):
            add(term)
    for _giri, sub in g.get("graph_scoped") or []:
        vs |= _certain_vars(sub)
    if g["values"] is not None:
        names, rows = g["values"]
        for i, n in enumerate(names):
            if all(r[i] is not None for r in rows):
                vs.add(n)
    for chain in g["unions"]:
        vs |= set.intersection(*[_certain_vars(b) for b in chain])
    for sq in g.get("subqueries") or []:
        vs |= _subquery_certain(sq)
    return vs


def _subquery_certain(q: dict) -> set[str]:
    """Variables a ``{ SELECT ... }`` subquery certainly binds in every
    projected solution: its WHERE's certain variables, filtered to what
    the projection exposes.  Aggregate aliases and projection-expression
    aliases stay uncertain (an aggregate over an empty-ish group or a
    NULL-producing expression can come back unbound)."""
    inner = _certain_vars(q["where"])
    if (q.get("group_by") or q.get("agg_synth")
            or any(it[0] == "agg" for it in q["items"])):
        # grouped query: only the group keys survive as plain columns,
        # and each output group has >=1 row, so certain keys stay certain
        return {k for k in q.get("group_by") or [] if k in inner}
    if q.get("star"):
        return inner
    return {it[1] for it in q["items"]
            if it[0] == "var" and it[1] in inner}


def _solve_union(triples: DataFrame, chain: list[dict]) -> DataFrame:
    """A ``{..} UNION {..}`` chain: branches solve independently (full
    recursive groups) and concatenate; variables bound in only some
    branches come back NULL (SPARQL's unbound) elsewhere.

    Scale shape: independent subplans over the same scan (Catalyst
    reuses the exchange where they overlap) + a zero-shuffle union."""
    outs = [_solve_group(triples, b) for b in chain]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o, allowMissingColumns=True)
    return out


#: per-bucket cap on the distinct-outer-bindings seed an injected
#: EXISTS solve joins against: past it the substitution becomes a
#: per-binding re-evaluation of the body (quadratic in disguise), so
#: refuse loudly instead of planning it
_EXISTS_INJECT_CAP = 4_000_000


def _check_injectable(g: dict, inject: set) -> None:
    """Guard the §8.1.1 binding-injection translation: injection at
    the body's TOP equals substitution only where nested constructs
    either certainly bind or never mention the substituted variables.
    A nested group that binds one OPTIONALLY diverges (substitution
    reaches inside it; the compat join over its plain solutions does
    not — the classic leftjoin/substitution mismatch), as do filters,
    binds and EXISTS/MINUS bodies inside nested groups that read a
    substituted variable their group never binds.  Subqueries and
    MINUS inside the body refuse outright: whether substitution
    descends into them is contested (the SPARQL-EXISTS errata), so
    raising beats picking a side silently."""
    if g["subqueries"]:
        raise SparqlUnsupported(
            "FILTER EXISTS body with a subquery under §8.1.1 "
            "substitution: whether bindings substitute inside the "
            "subquery is unspecified — lift the subquery out")
    if g["minus"]:
        raise SparqlUnsupported(
            "FILTER EXISTS body with MINUS under §8.1.1 substitution "
            "(the known substitution/MINUS spec conflict) — rewrite "
            "with FILTER NOT EXISTS")

    def nested(ng: dict, what: str) -> None:
        gv = _group_vars(ng)
        loose = sorted(v for v in inject
                       if v in gv and v not in _certain_vars(ng))
        if loose:
            raise SparqlUnsupported(
                f"FILTER EXISTS body nests a {what} that may leave "
                f"substituted variable(s) {loose} unbound — §8.1.1 "
                "substitution reaches inside it, which the injected "
                "join cannot mirror; bind them in every branch")
        outer = sorted(set(inject) - gv)
        for e in ng["filters"]:
            bad = G.filter_reads(e, outer)
            if bad:
                raise SparqlUnsupported(
                    f"FILTER EXISTS body: a {what} FILTER reads "
                    f"substituted variable(s) {bad} its group never "
                    "binds — out of scope for the injected solve")
        for var, e, _shp in ng["binds"]:
            bad = G.filter_reads(e, outer)
            if bad:
                raise SparqlUnsupported(
                    f"FILTER EXISTS body: a {what} BIND reads "
                    f"substituted variable(s) {bad} its group never "
                    "binds")
        for o in ng["optionals"]:
            for e in (o.get("filters") or []):
                bad = G.filter_reads(e, outer)
                if bad:
                    raise SparqlUnsupported(
                        f"FILTER EXISTS body: an OPTIONAL filter in "
                        f"a {what} reads substituted variable(s) "
                        f"{bad} out of its scope")
        for _n, b in ng["exists"]:
            bv = (_group_vars(b) if isinstance(b, dict) else
                  {t[1:] for pat in b for t in pat
                   if isinstance(t, str) and t.startswith("?")})
            if inject & bv:
                raise SparqlUnsupported(
                    f"FILTER EXISTS body: a {what} nests its own "
                    "EXISTS mentioning a substituted variable")
        _check_injectable(ng, inject)

    if set(v for v, _e, _s in g["binds"]) & inject:
        raise SparqlUnsupported(
            "FILTER EXISTS body BINDs a substituted variable "
            "(rebinding an in-scope variable)")
    for chain in g["unions"]:
        for b in chain:
            nested(b, "UNION branch")
    for o in g["optionals"]:
        if "group" in o:
            nested(o["group"], "OPTIONAL group")
    for _giri, sub in g.get("graph_scoped") or ():
        nested(sub, "GRAPH group")


def _exists_inject(triples: DataFrame, sols: DataFrame, body: dict,
                   negate: bool, acc_certain: set,
                   shared_pat: list, filt_outer: list) -> DataFrame:
    """FILTER (NOT) EXISTS under full §8.1.1 substitution, for the
    body shapes the plain semi-join cannot express: a body that may
    leave a shared variable unbound (OPTIONAL / partial-UNION inside
    the body), and a body FILTER reading outer variables.

    Translation: per outer null-mask bucket (only BOUND bindings
    substitute), the DISTINCT outer bindings over the substituted
    variables become a seed frame injected as the body solve's
    opening operand — every body operand then conjoins against the
    seed, so an OPTIONAL inside the body left-joins per binding (the
    substitution-by-constant semantics) and top-level body filters
    see the substituted columns in scope.  Outer-bound variables the
    body never matches but its filters read inject as value columns;
    in buckets where they are unbound they inject as NULL columns —
    the engine's unbound==NULL discipline makes BOUND()/comparisons
    answer per spec.  Substituted variables a term-shape builtin
    (LANG / DATATYPE / ISIRI / ...) reads keep their ``__shape_*``
    companion columns: the outer bucket's companions ride along in
    the seed (the left frame's shape wins through every body conjoin,
    so the builtin sees the OUTER term's shape — §8.1.1
    substitution-by-constant), and an injected variable with no outer
    companions (subquery-projected binding, NULL-injected filter-only
    column) gets NULL companions = unknown shape, so the builtin
    returns NULL and the row filters rather than misclassifies.  The
    bucket then semi/anti-joins (``graphops.term_join``) against the
    injected solve on the substituted bindings plus the seed's
    companions, matched null-safely, so outer terms that
    differ only in shape ("x"@en / "x"@es) keep separate answers.

    Scale shape: the seed is a distinct-bindings dim (capped at
    ``_EXISTS_INJECT_CAP`` — past that the translation degenerates to
    per-binding re-evaluation and refuses); every join is an
    equi-join on the substituted keys except a body operand genuinely
    disconnected from the seed, which is the substitution-mandated
    product of a capped dim against that operand.  The outer frame is
    localCheckpointed once; buckets partition it, so the solution
    multiset is preserved exactly."""
    from pyspark.sql import functions as F

    inject = sorted(set(shared_pat) | set(filt_outer))
    _check_injectable(body, set(inject))
    # the seed holds only outer bindings: only the outer side's
    # possibly-unbound substituted variables split it into buckets
    risky, _ = G.nullable(inject, acc_certain, inject)
    how = "left_anti" if negate else "left_semi"
    shape_vars = body.get("_shape") or frozenset()
    sols = sols.localCheckpoint(eager=True)
    out = None
    for nullset, bucket in G._null_mask_buckets(sols, risky):
        bound = [v for v in inject if v not in nullset]
        null_filter_only = [v for v in filt_outer if v in nullset]
        if bound:
            comp = [c for v in bound if v in shape_vars
                    for c in G.shape_names(v) if c in bucket.columns]
            seed = (bucket.select(*bound, *comp).dropDuplicates()
                    .localCheckpoint(eager=True))
            n_seed = seed.count()
            if n_seed == 0:
                part = bucket  # empty bucket: nothing to filter
            else:
                if n_seed > _EXISTS_INJECT_CAP:
                    raise SparqlUnsupported(
                        f"FILTER EXISTS substitution over {n_seed} "
                        "distinct outer bindings exceeds the "
                        f"{_EXISTS_INJECT_CAP}-row injection cap — "
                        "restrict the outer solutions first")
                seeded = seed
                for v in null_filter_only:
                    seeded = seeded.withColumn(
                        v, F.lit(None).cast("string"))
                seeded = G.fill_null_companions(
                    seeded, [v for v in bound + null_filter_only
                             if v in shape_vars])
                body2 = dict(body)
                body2["_init"] = (seeded, set(bound))
                # the witness keeps the seed's shape companions: outer
                # terms sharing one lexical form but not one shape
                # ("hello"@en / "hello"@es) are distinct bindings,
                # and a NULL companion (no tag) matches null-safely
                part = G.term_join(bucket, _solve_group(triples, body2),
                                   how, bound + comp)
        else:
            # nothing substitutes in this bucket: free pattern
            # variables match freely (plain solve); filter-only
            # variables inject as all-NULL columns so BOUND() and
            # comparisons see SPARQL-unbound
            if null_filter_only:
                seed0 = sols.sparkSession.range(1).select(
                    *[F.lit(None).cast("string").alias(v)
                      for v in null_filter_only])
                seed0 = G.fill_null_companions(
                    seed0, [v for v in null_filter_only
                            if v in shape_vars])
                body2 = dict(body)
                body2["_init"] = (seed0, set())
                bsols = _solve_group(triples, body2)
            else:
                bsols = _solve_group(triples, body)
            part = G.keyless_exists(bucket, bsols, how)
        out = part if out is None else out.unionByName(part)
    return out


def _solve_group(triples: DataFrame, g: dict) -> DataFrame:
    from pyspark.sql import functions as F

    sv = g.get("_shape") or None
    tg = _group_has_tagged(g)
    keep_shape = bool(sv) or tg
    if tg and "obj_is_iri" not in triples.columns:
        raise SparqlUnsupported(
            "shape-tagged literal patterns need a frame with "
            "literal-shape columns (obj_is_iri/obj_lang/"
            "obj_datatype); match the plain lexical form instead")
    t = _expand_paths(triples, [g], keep_shape=keep_shape)
    # a variable predicate must skip virtual path edges only where
    # some materialized
    edges = t is not triples
    match = functools.partial(G.bgp_match, t, path_edges=edges)
    init = g.get("_init")
    if (not g["patterns"] and not g["subqueries"] and not g["graphs"]
            and not g.get("graph_scoped") and not g["unions"]
            and g["values"] is None and init is None):
        raise SparqlUnsupported("empty WHERE group")
    # a full-group OPTIONAL can't inline into the matcher, so its
    # presence routes ALL optionals through the generic leftjoin loop
    # (in syntactic order) and defers the group filters past it
    complex_opt = any("group" in o for o in g["optionals"])
    late = bool(g["subqueries"] or g["graphs"]
                or g.get("graph_scoped") or g["unions"]
                or complex_opt
                or (g["values"] is not None and not g["patterns"]))
    # FILTER scope is the whole group (§18.2.2: filters apply at the
    # end of the group), so a filter mentioning a BIND-defined
    # variable must run after the BINDs; the rest may inline into the
    # match where Catalyst pushes them to the scan (conjunction —
    # same solutions either way)
    bind_targets = [b[0] for b in g["binds"]]
    pre_bind, post_bind = [], []
    for e in g["filters"]:
        (post_bind if G.filter_reads(e, bind_targets)
         else pre_bind).append(e)
    # filters may reference subquery/GRAPH-bound variables, so with
    # those present they apply after the joins, not inside bgp_match
    inline_filters = None if late else (pre_bind or None)
    if init is not None:
        # §8.1.1 substitution via binding injection (_exists_inject):
        # the outer-bindings seed opens the solve, so OPTIONALs must
        # route through the generic leftjoin loop (a left join that
        # does not see the seed's columns would bind the substituted
        # variable freely), and every filter defers to group end
        # where the seed's columns are in scope
        complex_opt = True
        late = True
        inline_filters = None

    # `acc_certain` tracks the variables certainly bound (never NULL)
    # in `sols` as operands conjoin; the graphops compat operators
    # take it with the other operand's certain set and decompose on
    # the possibly-unbound shared variables (§18.5: unbound agrees
    # with anything) — a plain equi-join where both sides are certain
    acc_certain: set[str] = set()

    def conjoin(sols, other, what, other_certain):
        if sols is None:
            return other
        if not G.shared_vars(sols, other):
            # a block of ground patterns binds nothing: it only tests
            # whether its triples exist
            if not other.columns:
                return G.keyless_exists(sols, other, "left_semi")
            if not sols.columns:
                return G.keyless_exists(other, sols, "left_semi")
            if init is not None:
                # injected EXISTS solve: a body operand disconnected
                # from the seed is a REQUIRED product under §8.1.1
                # substitution (the seed is a distinct-bindings dim,
                # capped at _EXISTS_INJECT_CAP rows by _exists_inject)
                return sols.crossJoin(other)
            # SPARQL says disjoint-domain join = cartesian product;
            # refuse rather than misplan it at lake scale
            raise SparqlUnsupported(
                f"{what} shares no variables with its group")
        # §18.5 compatibility join: unbound agrees with anything and
        # the merge adopts the bound side (null-mask decomposition
        # into equi-joins; plain equi-join when both sides certain)
        return G.compat_join(sols, other, acc_certain, other_certain)

    def pattern_vars(patterns):
        vs = set()
        for pat in patterns:
            for term in pat:
                if isinstance(term, str) and term.startswith("?"):
                    vs.add(term[1:])
        return vs

    sols = None
    if init is not None:
        sols, init_certain = init
        acc_certain |= init_certain
    inline_opt = None if complex_opt else (g["optionals"] or None)
    if g["patterns"]:
        base, sols = sols, None
        if g["values"] is not None:
            names, rows = g["values"]
            sols = G.bgp_values(t, g["patterns"], names, rows,
                                optional=inline_opt,
                                filters=inline_filters,
                                shape_vars=sv, path_edges=edges)
            acc_certain |= {n for i, n in enumerate(names)
                            if all(r[i] is not None for r in rows)}
        else:
            sols = match(g["patterns"],
                         optional=inline_opt,
                         filters=inline_filters,
                         shape_vars=sv)
        acc_certain |= pattern_vars(g["patterns"])
        if base is not None:
            # injected solve: conjoin the pattern block onto the
            # seed — both sides certain on the shared columns (the
            # seed carries only bound bindings, the block only
            # pattern-bound ones), so a plain equi-join; a block
            # disconnected from the seed is the substitution product;
            # the seed's companions win (the outer term's shape)
            shared_b = G.shared_vars(base, sols)
            sols = G.drop_dup_companions(sols, base.columns)
            sols = (base.join(sols, shared_b) if shared_b
                    else base.crossJoin(sols))
    if g["graphs"]:
        qsrc = g.get("_quads", triples)
        if "graph" not in qsrc.columns:
            raise SparqlUnsupported(
                "GRAPH clause needs a quad frame (no 'graph' column)")
        # GRAPH ranges over NAMED graphs: default-graph rows (NULL
        # graph term) are invisible inside it, per SPARQL dataset
        # semantics; with FROM/FROM NAMED clauses qsrc is the full
        # restricted dataset (triples is the FROM merge only)
        named = (qsrc.select("subj", "pred", "obj", "graph",
                             *(G.obj_shape_cols(qsrc) if keep_shape
                               else []))
                 .filter(F.col("graph").isNotNull()))
        gq_certain = pattern_vars(g["graphs"])
        sols = conjoin(sols,
                       G.bgp_match_quads(named, g["graphs"],
                                         shape_vars=sv),
                       "GRAPH group", gq_certain)
        acc_certain |= gq_certain
    for giri, sub in g.get("graph_scoped") or ():
        # GRAPH <iri> { full group }: the group solves recursively
        # against the store scoped to that ONE named graph — paths,
        # OPTIONAL, UNION, BIND, VALUES, subqueries and nested GRAPH
        # (which re-ranges over the full dataset via ``_quads``) all
        # reuse the ordinary solver; the scope filter is a scan-side
        # partition-prunable predicate on the graph column
        qsrc = g.get("_quads", triples)
        if "graph" not in qsrc.columns:
            raise SparqlUnsupported(
                "GRAPH clause needs a quad frame (no 'graph' column)")
        scoped = (qsrc.filter(F.col("graph") == F.lit(giri))
                  .select("subj", "pred", "obj",
                          *(G.obj_shape_cols(qsrc) if keep_shape
                            else [])))
        sub.setdefault("_quads", qsrc)
        gs_certain = _certain_vars(sub)
        sols = conjoin(sols, _solve_group(scoped, sub),
                       "GRAPH group", gs_certain)
        acc_certain |= gs_certain
    for sq in g["subqueries"]:
        sq_certain = _subquery_certain(sq)
        sub = _solve_select(triples, sq)
        scalar = (not sq.get("group_by")
                  and (sq.get("agg_synth")
                       or any(it[0] == "agg" for it in sq["items"])))
        if scalar and sols is not None:
            # an ungrouped aggregate subquery yields EXACTLY one row
            # (possibly with unbound cells), so the full §18.5
            # compatibility join is a bounded broadcast nested loop —
            # no certainty guard needed, and a disjoint domain is a
            # legal 1-row product
            sols = _compat_join_tiny(sols, sub)
        else:
            sols = conjoin(sols, sub, "subquery", sq_certain)
        acc_certain |= sq_certain
    if g["values"] is not None and not g["patterns"]:
        # with no sibling patterns the VALUES rows join onto the other
        # operands' solutions (bgp_values joins them otherwise), or
        # are the group's solutions when it has no other operand
        names, rows = g["values"]
        if sols is None:
            sols = G.ensure_shape_companions(
                G.local_frame(
                    triples.sparkSession,
                    [tuple(None if c is None else str(c) for c in r)
                     for r in rows],
                    ", ".join(f"`{n}` string" for n in names)),
                [n for n in sv or () if n in names])
        else:
            sols = G.join_values(sols, names, rows, bound=acc_certain,
                                 shape_vars=sv)
        acc_certain |= {n for i, n in enumerate(names)
                        if rows and all(r[i] is not None for r in rows)}
    if g["unions"]:
        # union chains conjoin like any other group operand; branches
        # are FULL groups solved recursively (nested UNION / BIND /
        # VALUES / MINUS / subqueries all legal)
        for chain in g["unions"]:
            chain_certain = set.intersection(
                *[_certain_vars(b) for b in chain])
            usols = _solve_union(triples, chain)
            sols = conjoin(sols, usols, "UNION chain", chain_certain)
            acc_certain |= chain_certain
    if g["optionals"] and (not g["patterns"] or complex_opt):
        # OPTIONAL beside a pattern-less group (union-only, VALUES-
        # only, subquery-only), or any group with a full-group
        # OPTIONAL: left-join each optional unit onto the assembled
        # solutions in syntactic order
        for o in g["optionals"]:
            # §6.1 leftjoin evaluates the filter over the MERGED
            # solution: filters reading only CERTAIN optional-side
            # bindings apply pre-join (equivalent), ones reading an
            # outer variable lift out to leftjoin_filter.  For a
            # variable a full-group body binds only optionally, the
            # merged value adopts the outer binding where the body's
            # is NULL, so such filters must evaluate over the merge
            if "group" in o:
                o_certain = _certain_vars(o["group"])
                filters = o["group"]["filters"]
            else:
                o_certain = pattern_vars(o["patterns"])
                filters = o["filters"] or []
            outer = [v for v in set(sols.columns) - o_certain
                     if not v.startswith(G.SHAPE_PREFIX)]
            inner_f, outer_f = [], []
            for e in filters:
                (outer_f if G.filter_reads(e, outer)
                 else inner_f).append(e)
            if "group" in o:
                # the rest of the body (and every nested construct)
                # solves recursively as a unit
                body = o["group"]
                opt = _solve_group(triples, {**body, "filters": inner_f}
                                   if outer_f else body)
            else:
                opt = match(o["patterns"],
                            filters=inner_f or None,
                            shape_vars=sv)
            if not G.shared_vars(sols, opt):
                if all(c.startswith(G.SHAPE_PREFIX) for c in opt.columns):
                    # a ground body evaluates to {μ0} or {}: LeftJoin
                    # with either keeps every outer solution (§18.5)
                    continue
                raise SparqlUnsupported(
                    "OPTIONAL shares no variables with its group")
            # §6.1 leftjoin under §18.5 compatibility; the optional
            # side may itself leave shared variables unbound (a
            # nested OPTIONAL / partial union), which the
            # id-restoring leftjoin handles
            sols = G.leftjoin_filter(sols, opt, acc_certain, o_certain,
                                     filters=outer_f)
    if late:
        # a subquery-projected binding carries no shape (its
        # companions never leave the subquery): NULL companions keep
        # the shape builtins NULL-on-unknown instead of unresolved
        sols = G.fill_null_companions(sols, sv)
        for e in pre_bind:
            sols = sols.filter(e)
    # Extend (BIND) happens at its position INSIDE the group while
    # FILTER — including FILTER (NOT) EXISTS — applies over the
    # finished group (§18.2.2.2), so binds evaluate before the
    # exists/minus passes; a NULL-producing bind stays unbound and
    # the compatibility decompositions treat it as free
    for var, e, shp in g["binds"]:
        sols = G.bind(sols, var, e)
        # a whole-body term constructor stamps a KNOWN shape
        if shp is not None and sv and var in sv:
            sols = G.set_shape_companions(sols, var, shp)
    for negate, body in g["exists"]:
        if isinstance(body, dict):
            # full-group body: §8.1.1 substitutes the solution's
            # BOUND bindings into the group.  The shared-variable
            # semi-join expresses that when the group binds the
            # shared variables in EVERY solution and its filters
            # read no outer variables; otherwise the binding
            # injection path re-solves the body seeded with the
            # distinct outer bindings (full substitution semantics)
            bvars = _group_vars(body)
            bcertain = _certain_vars(body)
            cols = {c for c in sols.columns
                    if not c.startswith(G.SHAPE_PREFIX)}
            filt_outer = sorted({v for e in body["filters"]
                                 for v in G.filter_reads(e, cols - bvars)})
            inj_risky = sorted(v for v in (cols & bvars)
                               if v not in bcertain)
            if inj_risky or filt_outer:
                sols = _exists_inject(triples, sols, body, negate,
                                      acc_certain,
                                      sorted(cols & bvars),
                                      filt_outer)
                continue
            grp = _solve_group(triples, body)
            grp_certain = bcertain
        else:
            grp = match(body) if body else None
            grp_certain = pattern_vars(body) if body else set()
        if grp is None:
            # EXISTS {} matches via the unit solution: always true
            if negate:
                sols = sols.limit(0)
            continue
        # §8.1.1: only BOUND variables substitute into EXISTS — an
        # unbound shared variable is FREE inside the pattern (per
        # left null-mask bucket, semi/anti join on the bound keys)
        sols = G.compat_exists(sols, grp, acc_certain, grp_certain,
                               negate=negate)
    for body in g["minus"]:
        if isinstance(body, dict):
            # §8.3 evaluates the MINUS group WITHOUT the outer
            # bindings — it is its own scope, so it solves
            # recursively; a filter inside referencing a variable the
            # group never binds errors to false per SPARQL (the
            # recursive solve raises on the unknown name instead of
            # silently matching, same raise-not-misparse stance)
            neg = _solve_group(triples, body)
            neg_certain = _certain_vars(body)
        else:
            neg = match(body)
            neg_certain = pattern_vars(body)
        # §8.3: remove a solution iff a MINUS row is compatible AND
        # their bound domains overlap (all-unbound overlap = keep; a
        # disjoint MINUS removes nothing)
        sols = G.compat_minus(sols, neg, acc_certain, neg_certain)
    # other BIND-defined and VALUES-extension bindings: unknown shape
    sols = G.fill_null_companions(sols, sv)
    for e in post_bind:
        sols = sols.filter(e)
    return sols


_AGG_KIND = {"COUNT": "count", "SUM": "sum", "AVG": "avg", "MIN": "min",
             "MAX": "max", "SAMPLE": "sample",
             "GROUP_CONCAT": "group_concat"}


def _apply_dataset(triples: DataFrame, q: dict) -> DataFrame:
    """Materialize a query's FROM / FROM NAMED dataset over the quad
    frame: FROM graphs relabel to the default graph (NULL) and merge;
    only FROM NAMED graphs stay visible to GRAPH.  Without dataset
    clauses the frame passes through untouched (the store's own
    default/named split — plain patterns match the WHOLE frame, the
    union-default-graph posture rdflib's ConjunctiveGraph uses).

    Scale shape: one `graph IN (...)` filter per branch (pushed to the
    scan; a graph-partitioned lake table prunes partitions) + a union —
    no join, no shuffle."""
    from pyspark.sql import functions as F

    frm = q.get("from") or []
    named = q.get("from_named") or []
    if not frm and not named:
        return triples
    if "graph" not in triples.columns:
        raise SparqlUnsupported(
            "FROM/FROM NAMED need a quad frame (no 'graph' column)")
    gcol = F.col("graph")
    default = (triples.filter(gcol.isin(frm))
               .withColumn("graph", F.lit(None).cast("string")))
    if len(frm) > 1:
        # RDF merge is a SET union: a triple present in several FROM
        # graphs must appear once, or non-DISTINCT solutions and
        # aggregates over the merge inflate.  The distinct (one
        # shuffle) is paid only on the pruned multi-graph slice, and
        # its key is TERM-exact where shape columns exist (a literal
        # "x" and an IRI <x> from different FROM graphs both survive).
        # Simplification vs the spec: shared bnode labels co-identify
        # instead of being standardized apart — lake stores carry
        # skolemized or doc-scoped labels (see skolemize/rdfdocs), so
        # cross-graph label collisions are already impossible upstream.
        default = default.dropDuplicates(G.term_key(default))
    return default.unionByName(triples.filter(gcol.isin(named)))


def _attach_quads(g: dict | None, full: DataFrame) -> None:
    """With explicit dataset clauses the split is strict (§13.3): plain
    patterns match ONLY the FROM merge, GRAPH ranges ONLY over FROM
    NAMED.  The solver receives the default-graph frame as its working
    frame; the full dataset rides on the group dicts for GRAPH."""
    if g is None:
        return
    g["_quads"] = full
    for _giri, sub in g.get("graph_scoped") or ():
        _attach_quads(sub, full)
    for chain in g["unions"]:
        for branch in chain:
            _attach_quads(branch, full)
    for sq in g["subqueries"]:
        _attach_quads(sq["where"], full)
    for o in g["optionals"]:
        if isinstance(o, dict) and "group" in o:
            _attach_quads(o["group"], full)
    for _, body in g["exists"]:
        if isinstance(body, dict):
            _attach_quads(body, full)
    for body in g["minus"]:
        if isinstance(body, dict):
            _attach_quads(body, full)


def sparql(triples: DataFrame, text: str, *,
           union_default: bool = True,
           init_bindings: dict | None = None,
           init_ns: dict | None = None) -> DataFrame:
    """Execute SPARQL text over a ``(subj, pred, obj)`` frame.

    SELECT returns one column per projected variable; ASK returns a
    1-row boolean ``result`` frame; CONSTRUCT/DESCRIBE return triple
    frames.  Every triple pattern compiles to one ``filter`` and one
    ``selectExpr`` over SQL text, with constants quoted by
    ``graphops.sql_str``.  ASK is the one eager form: the call runs a
    limit-1 take of the solutions (no shuffle; the scan stops at the
    first solution) and returns the answer as a one-row local frame.
    Every other form is lazy, with the underlying operators' plan
    shapes.  Every VALUES form (in a group, in a group with no
    patterns, trailing the query) joins through
    ``graphops.join_values``, the same §18.5 compatibility join
    ``graphops.bgp_values`` uses: variables the group certainly binds
    are broadcast hash-join keys, and an unbound cell adopts the row's
    value.

    ``union_default`` picks the quad-frame posture when the query
    carries no dataset clause: True (default) matches plain patterns
    against the WHOLE store (rdflib ``ConjunctiveGraph``); False
    matches them against only the NULL-graph rows while GRAPH still
    ranges over every named graph (rdflib ``Dataset`` with
    ``default_union=False``).  Ignored on plain triple frames; an
    explicit FROM / FROM NAMED clause overrides it either way (§13.3:
    the dataset clause DEFINES the dataset).

    ``init_bindings`` (rdflib's) pre-binds variables before solving —
    injected as a one-row VALUES table into the outer group, so it
    composes with everything the group grammar supports and joins
    with the same broadcast bag semantics as written VALUES (the
    binding table is lexical: pass term strings; ``None`` = UNDEF).
    ``init_ns`` pre-seeds prefixes (see :func:`parse`)."""
    return execute(triples, parse(text, init_ns),
                   union_default=union_default,
                   init_bindings=init_bindings)


def execute(triples: DataFrame, q: dict, *, union_default: bool = True,
            init_bindings: dict | None = None) -> DataFrame:
    """:func:`sparql` over a query :func:`parse` returned, for callers
    that pick the frame by the query form (``q["form"]``).  Solving
    rewrites the query's groups, so each parse executes once."""
    from pyspark.sql import functions as F

    if init_bindings:
        w = q.get("where")
        if not w:
            raise SparqlError(
                "initBindings need a query form with a WHERE group")
        names = []
        for n in init_bindings:
            n = str(n).lstrip("?")
            if not _BARE_NAME.fullmatch(n) or n.startswith("_anon") \
                    or n.startswith(G.SHAPE_PREFIX):
                raise SparqlError(f"unmappable initBindings name {n!r}")
            names.append(n)
        row = tuple(None if v is None else str(v)
                    for v in init_bindings.values())
        vals = (names, [row])
        w["values"] = (vals if w["values"] is None
                       else _merge_values(w["values"], vals))
    _attach_shape(q.get("where"), q.get("shape_vars"))
    if q.get("from") or q.get("from_named"):
        full = _apply_dataset(triples, q)
        # strict dataset semantics: the solver's working frame is the
        # FROM merge, a TRIPLE frame that KEEPS the store's literal-
        # shape columns (term-shape builtins and shaped CONSTRUCT/
        # DESCRIBE stay term-exact under FROM); GRAPH sees the full
        # dataset via the group dicts
        triples = (full.filter(F.col("graph").isNull())
                   .select("subj", "pred", "obj",
                           *G.obj_shape_cols(full)))
        _attach_quads(q.get("where"), full)
    elif not union_default and "graph" in triples.columns:
        # Dataset posture: plain patterns see the default graph only
        # (one scan-side IS NULL filter — a graph-partitioned table
        # prunes to the default partition); GRAPH keeps the whole
        # store via the group dicts and ranges over its named rows
        full = triples
        triples = (full.filter(F.col("graph").isNull())
                   .select("subj", "pred", "obj",
                           *G.obj_shape_cols(full)))
        _attach_quads(q.get("where"), full)
    if q["form"] == "ask":
        return G.ask_solutions(_solve_group(triples, q["where"]))
    if q["form"] == "describe":
        return G.describe(triples, q["nodes"])
    if q["form"] == "describe_var":
        sols = _solve_group(triples, q["where"])
        missing = [v for v in q["vars"] if v not in sols.columns]
        if missing:
            raise SparqlError(
                f"DESCRIBE variables {missing} not bound in WHERE")
        nodes = None
        for v in q["vars"]:
            part = sols.select(F.col(v).alias("node"))
            nodes = part if nodes is None else nodes.unionByName(part)
        if q["nodes"]:  # mixed DESCRIBE <iri> ?x form: one batch frame
            nodes = nodes.unionByName(
                G.local_frame(triples.sparkSession,
                              [(i,) for i in q["nodes"]], "node string"))
        return G.describe_frame(triples, nodes)
    if q["form"] == "construct":
        g = q["where"]
        template = []
        for s, p, o in q["template"]:
            if isinstance(p, tuple):
                if p[0] != "pred":
                    raise SparqlUnsupported(
                        "paths in CONSTRUCT templates")
                p = p[1]
            template.append((s, p, o))
        # on a shaped frame the constructed graph carries real term
        # shapes (rdflib's CONSTRUCT returns terms, not lexical
        # forms): constants stamp their parse-time shape, variable
        # objects copy the matched binding's shape per-row — so the
        # derived graph serializes literals as literals instead of
        # the all-IRI default
        shaped = "obj_is_iri" in triples.columns
        svars = set(q.get("shape_vars") or ())
        if shaped:
            # ?_anon* template slots mint fresh bnodes below — they
            # are never bindings, so no companions to track
            svars |= {str(o)[1:] for _s, _p, o in template
                      if str(o).startswith("?")
                      and not str(o).startswith("?_anon")}
        elif any(_tagged(o) for _s, _p, o in template):
            # same refusal as UPDATE templates: a tag a shapeless
            # frame can't store must not silently become the plain
            # lexical twin
            raise SparqlUnsupported(
                "tagged literals in CONSTRUCT templates need a frame "
                "with literal-shape columns (obj_is_iri/obj_lang/"
                "obj_datatype)")
        # the WHERE solves with the FULL group grammar (UNION, BIND,
        # VALUES, GRAPH, subqueries, EXISTS/MINUS) — same solver as
        # SELECT, then one instantiation pass over the solutions
        _attach_shape(g, frozenset(svars))
        sols = _solve_group(triples, g)
        if q.get("values") is not None:
            # a trailing-VALUES EXTENSION variable used as a template
            # object arrives after the solver's companion fill — the
            # join stamps its companions so instantiation never
            # references a missing __shape_* column
            sols = G.join_values(sols, *q["values"],
                                 bound=_certain_vars(g),
                                 shape_vars=svars if shaped else None)
        # template blank nodes (explicit _:b / [..]) mint fresh per
        # solution (§16.2.1)
        sols, template, minted = _mint_template_bnodes(sols, template)
        # §16.2: a template entry referencing a variable the WHERE
        # never binds instantiates for no solution — it contributes
        # nothing (rdflib skips it the same way)
        template = [tpl for tpl in template
                    if all(not str(t).startswith("?")
                           or str(t)[1:] in sols.columns for t in tpl)]
        shapes = (_template_shapes(template, minted)
                  if shaped else None)
        if not template:
            schema = ("subj string, pred string, obj string"
                      + (", obj_is_iri boolean, obj_lang string, "
                         "obj_datatype string" if shaped else ""))
            return G.local_frame(triples.sparkSession, [], schema)
        return G.construct_solutions(sols, template,
                                     obj_shapes=shapes).dropDuplicates()

    return _solve_select(triples, q)


def _compat_join_tiny(sols: DataFrame, other: DataFrame) -> DataFrame:
    """§18.5 compatibility join against a KNOWN-TINY right frame (a
    scalar-aggregate subquery: exactly one row): broadcast the right
    side and join on ``IS NULL OR =`` per shared column, the defined
    side's binding winning the merge.  The nested-loop fallback Spark
    picks for the non-equi condition is bounded by the 1-row build
    side; with no shared columns the join is the SPARQL disjoint-domain
    product — also 1×N."""
    from pyspark.sql import functions as F

    other = G.drop_dup_companions(other, sols.columns)
    shared = G.shared_vars(sols, other)
    s = sols.alias("__cj_s")
    v = F.broadcast(other.alias("__cj_v"))
    cond = None
    for c in shared:
        eq = (F.col(f"__cj_s.{c}").isNull()
              | F.col(f"__cj_v.{c}").isNull()
              | (F.col(f"__cj_s.{c}") == F.col(f"__cj_v.{c}")))
        cond = eq if cond is None else cond & eq
    joined = s.join(v, cond, "inner") if cond is not None \
        else s.crossJoin(v)
    return joined.select(
        *[(F.coalesce(F.col(f"__cj_s.{c}"), F.col(f"__cj_v.{c}"))
           if c in shared else F.col(f"__cj_s.{c}")).alias(c)
          for c in sols.columns],
        *[F.col(f"__cj_v.{c}").alias(c) for c in other.columns
          if c not in sols.columns])


def _solve_select(triples: DataFrame, q: dict) -> DataFrame:
    """Execute a parsed SELECT description (top-level query or
    ``{ SELECT ... }`` subquery — per the SPARQL algebra a subquery is
    evaluated independently and its projected solutions joined with
    the enclosing group on the shared variables)."""
    sols = _solve_group(triples, q["where"])
    aggs = ([it for it in q["items"] if it[0] == "agg"]
            + list(q.get("agg_synth") or ()))
    plain = [it[1] for it in q["items"] if it[0] == "var"]
    exprs = [it for it in q["items"] if it[0] == "expr"]
    if aggs or q["group_by"]:
        if q["star"]:
            raise SparqlUnsupported("SELECT * with GROUP BY")
        for _, e, alias in exprs:
            # post-aggregation projection expressions (§18.2.4.4:
            # Extend over the aggregate-projected sequence) range over
            # group keys, aggregate aliases and earlier expr aliases
            if G.SHAPE_PREFIX in e:
                raise SparqlUnsupported(
                    "term-shape builtins in aggregate projection "
                    "expressions (shape companions don't survive "
                    "aggregation — FILTER/BIND before grouping "
                    "instead)")
        stray = [v for v in plain if v not in q["group_by"]]
        if stray:
            raise SparqlError(
                f"SELECT variables {stray} not in GROUP BY")
        # GROUP BY expression conditions bind on each solution BEFORE
        # grouping (§18.2.4 Group(exprlist, P)); aggregate arguments
        # and HAVING may then read the AS-named keys like any column
        for v, e in q.get("group_binds") or ():
            if v in sols.columns:
                raise SparqlError(
                    f"GROUP BY (.. AS ?{v}) rebinds a variable "
                    "already in scope")
            sols = G.bind(sols, v, e)
        spec = {}
        synth = 0
        for _, fn, distinct, arg, alias, sep in aggs:
            kind = _AGG_KIND[fn]
            if distinct and fn in ("COUNT", "SUM", "AVG",
                                   "GROUP_CONCAT"):
                kind += "_distinct"
            # MIN/MAX/SAMPLE(DISTINCT ..) are semantic no-ops
            # (§18.5.1: the set function ranges over a multiset the
            # DISTINCT collapses, but min/max/pick-one can't differ)
            if arg != "*" and not _BARE_NAME.fullmatch(arg):
                # expression argument: bind it as a synthetic column so
                # solution_agg aggregates a plain column either way
                synth += 1
                col = f"_aggexpr{synth}"
                sols = G.bind(sols, col, arg)
                arg = col
            spec[alias] = ((kind, arg, sep)
                           if kind.startswith("group_concat")
                           else (kind, arg))
        for k in q["order_by"] or []:
            if isinstance(k, tuple) and G.SHAPE_PREFIX in k[1]:
                raise SparqlUnsupported(
                    "term-shape builtins in ORDER BY of an aggregated "
                    "query (shape companions don't survive "
                    "aggregation — BIND the value before grouping "
                    "instead)")
        if q["having"] and G.SHAPE_PREFIX in q["having"]:
            raise SparqlUnsupported(
                "term-shape builtins in HAVING (shape companions "
                "don't survive aggregation — FILTER before grouping "
                "instead)")
        sols = G.solution_agg(sols, q["group_by"], spec,
                              having=q["having"])
        if q.get("values"):
            # §18.2.4.3 Values insertion precedes §18.2.4.4 Select
            # expressions, so a projection expression may read a
            # trailing-VALUES extension variable; a group key the
            # WHERE certainly binds is never NULL, so a hash-join key
            certain = _certain_vars(q["where"])
            sols = G.join_values(
                sols, *q["values"],
                bound={k for k in q["group_by"] if k in certain})
        for _, e, alias in exprs:
            try:
                sols = G.bind(sols, alias, e)
            except AnalysisException as exc:
                # an unresolved column here is a variable that did not
                # survive aggregation — invalid SPARQL (§18.2.4.4:
                # only group keys and aggregate aliases are in scope)
                raise SparqlError(
                    f"projection expression ({e} AS ?{alias}) "
                    "references a variable not visible after "
                    f"aggregation: {exc}") from exc
        # projection in SELECT-clause order (vars, aggregate aliases
        # and expression aliases interleave)
        project = [it[1] if it[0] == "var"
                   else (it[4] if it[0] == "agg" else it[2])
                   for it in q["items"]]
    else:
        if q["having"]:
            raise SparqlError("HAVING without aggregation")
        if q.get("values"):
            # §18.2.4.3 before §18.2.4.4 (see the aggregated branch);
            # extension bindings carry lexically-inferred shapes like
            # every VALUES-introduced binding
            sols = G.join_values(sols, *q["values"],
                                 bound=_certain_vars(q["where"]),
                                 shape_vars=q["where"].get("_shape"))
        for _, e, alias in exprs:
            sols = G.bind(sols, alias, e)
        if q["star"]:
            # SPARQL: bnodes are not named variables — the [..]
            # existential columns and the hidden term-shape
            # companions never project
            project = [c for c in sols.columns
                       if not c.startswith("_anon")
                       and not c.startswith(G.SHAPE_PREFIX)]
            if not project:
                raise SparqlError(
                    "SELECT * with no projectable variables (only "
                    "[..] existentials bound)")
        else:
            # projection in SELECT-clause order (vars and expression
            # aliases interleave)
            project = [it[1] if it[0] == "var" else it[2]
                       for it in q["items"]]
    return G.select_solutions(
        sols, order_by=q["order_by"] or None, limit=q["limit"],
        offset=q["offset"] or 0, distinct=q["distinct"],
        project=project)


# ------------------------------------------------------------------ #
# SPARQL 1.1 UPDATE
# ------------------------------------------------------------------ #

def _unwrap_pred(path, what: str) -> str:
    """A pattern's predicate as a plain string — rejects property-path
    operators, which never make sense in templates / data blocks /
    GRAPH groups (they name concrete predicates)."""
    if isinstance(path, tuple):
        if path[0] != "pred":
            raise SparqlUnsupported(f"property paths in {what}")
        return path[1]
    return path


def _template_shapes(template: list[tuple],
                     minted: frozenset = frozenset()) -> list:
    """``obj_shapes`` for a template instantiation: a minted bnode is
    a term (IRI-kind), a variable object reads its binding's hidden
    companions per-row, a constant carries its parse-time shape."""
    return [((True, None, None)
             if str(o).startswith("?") and str(o)[1:] in minted
             else "binding" if str(o).startswith("?")
             else (_term_is_iri(o), getattr(o, "lang", None),
                   getattr(o, "dt", None)))
            for _s, _p, o, *_gt in template]


def _mint_template_bnodes(sols: DataFrame, template: list[tuple]
                          ) -> tuple[DataFrame, list[tuple],
                                     frozenset]:
    """Blank nodes in CONSTRUCT/INSERT templates denote a FRESH blank
    node per solution (SPARQL §16.2.1 CONSTRUCT / Update §3.1.3) —
    never a constant label shared across solutions.  Each distinct
    label (explicit ``_:b`` or a ``[..]`` existential slot) becomes a
    uuid-minted per-row column: one mint per solution, shared by every
    template entry that reuses the label, exactly rdflib's
    instantiation.  Returns the widened solutions, the rewritten
    template, and the minted variable names (their term shape is
    bnode — IRI-kind — not a binding's companions)."""
    from pyspark.sql import functions as F

    minted: dict[str, str] = {}
    out = []
    for s, p, o, *gterm in template:  # 3-tuples (CONSTRUCT) or quads
        row = []
        for pos, t in zip("spo", (s, p, o)):
            ts = str(t)
            if ts.startswith("_:") or ts.startswith("?_anon"):
                if pos == "p":
                    raise SparqlError(
                        "blank node in template predicate position")
                if ts not in minted:
                    # the ?_anon* namespace is front-end-reserved, so
                    # the minted column can never shadow a user var
                    col = f"_anon_mint{len(minted)}"
                    sols = sols.withColumn(
                        col, F.concat(
                            F.lit("_:m"),
                            F.expr("replace(uuid(), '-', '')")))
                    minted[ts] = col
                row.append("?" + minted[ts])
            else:
                row.append(t)
        out.append((*row, *gterm))
    return sols, out, frozenset(minted.values())


def _template_quads(g: dict, what: str,
                    allow_anon: bool = False,
                    forbid_labels: bool = False
                    ) -> list[tuple[str, str, str, object]]:
    """A modify template group as (s, p, o, graph) rows — the SPARQL
    1.1 QuadPattern shape: bare patterns carry graph ``None`` (the
    WITH/default graph at instantiation), ``GRAPH <g>|?g { plain
    patterns }`` blocks carry their constant IRI or variable.  The
    same bnode/anon rules as :func:`_plain_patterns` apply to every
    entry; non-plain GRAPH groups (OPTIONAL/UNION/paths inside the
    block) stay refused — templates are ground-or-variable quads."""
    if g.get("graph_scoped"):
        raise SparqlUnsupported(
            f"only plain triple patterns inside {what} GRAPH blocks")
    quad_entries = g.get("graphs") or []
    flat = {**g, "graphs": []}
    out = [(s, p, o, None)
           for s, p, o in _plain_patterns(flat, what,
                                          allow_anon=allow_anon,
                                          forbid_labels=forbid_labels)]
    for s, path, o, gterm in quad_entries:
        row = (s, _unwrap_pred(path, what), o)
        if not allow_anon and any(
                str(t).startswith("?_anon") for t in row):
            raise SparqlError(
                f"[..] blank nodes in {what} (the grammar forbids "
                "blank nodes in delete templates — there is no "
                "fresh label to delete)")
        if forbid_labels and any(
                str(t).startswith("_:") for t in row):
            raise SparqlError(
                f"blank node labels in {what} (the grammar forbids "
                "blank nodes in delete templates; match the node "
                "with a variable instead)")
        out.append((*row, gterm))
    return out


def _plain_patterns(g: dict, what: str,
                    allow_anon: bool = False,
                    forbid_labels: bool = False
                    ) -> list[tuple[str, str, str]]:
    """A group's patterns as plain (s, p, o) strings — the template
    shape.  ``[..]`` existentials are rejected unless ``allow_anon``:
    in DELETE WHERE the bnode is the pattern's pure wildcard, and in
    INSERT/CONSTRUCT templates it mints a fresh blank node per
    solution (see :func:`_mint_template_bnodes`); the DELETE-template
    grammar has no blank nodes (nothing to delete by a fresh label)."""
    _require_simple(g, what, filters_ok=False)
    out = [(s, _unwrap_pred(path, what), o)
           for s, path, o in g["patterns"]]
    if not allow_anon:
        for row in out:
            if any(t.startswith("?_anon") for t in row):
                raise SparqlError(
                    f"[..] blank nodes in {what} (the grammar forbids "
                    "blank nodes in delete templates — there is no "
                    "fresh label to delete)")
    if forbid_labels:
        # §19.8: DELETE templates (and DELETE WHERE patterns) contain
        # no blank nodes — an explicit _:x would be a constant here
        # but a fresh mint on the INSERT side, so the same label would
        # silently mean two things
        for row in out:
            if any(t.startswith("_:") for t in row):
                raise SparqlError(
                    f"blank node labels in {what} (the grammar "
                    "forbids blank nodes in delete templates; match "
                    "the node with a variable instead)")
    return out


def _data_quads(g: dict, what: str,
                allow_bnodes: bool = True) -> list[tuple]:
    """A DATA block as ground ``(s, p, o, graph-or-None)`` rows.  The
    group parser already routes ``GRAPH <g> {..}`` wrappers into
    ``g["graphs"]``; bare statements are default-graph (None)."""
    bad = (g["unions"] or g["optionals"] or g["minus"] or g["exists"]
           or g["values"] or g["binds"] or g["subqueries"]
           or g["filters"] or g.get("graph_scoped"))
    if bad:
        raise SparqlUnsupported(f"only ground triples (optionally in "
                                f"GRAPH blocks) inside {what}")
    # [..] in INSERT DATA denotes a FRESH blank node (SPARQL 1.1
    # §3.1.1) — fresh across update() CALLS too, so the label carries
    # a per-parse uuid salt; DELETE DATA forbids blank nodes outright
    # (the QuadData grammar has none to delete by label)
    import uuid
    salt = uuid.uuid4().hex[:10]

    def fix(t):
        if t is not None and t.startswith("?_anon"):
            if not allow_bnodes:
                raise SparqlError(
                    f"blank nodes are not allowed in {what}")
            return f"_:b{salt}n{t[6:]}"
        return t

    out = [(fix(s), _unwrap_pred(path, what), fix(o), None)
           for s, path, o in g["patterns"]]
    for s, path, o, gterm in g["graphs"]:
        out.append((fix(s), path, fix(o), gterm))
    for row in out:
        if any(t is not None and t.startswith("?") for t in row):
            raise SparqlError(f"{what} requires ground terms "
                              "(no variables)")
    return out


def _graph_ref(p: _Parser, verb: str):
    """``DEFAULT | [GRAPH] <iri>`` — None encodes the default graph."""
    if p.take("KW", "DEFAULT"):
        return None
    p.take("KW", "GRAPH")  # optional per the grammar
    if p.at("IRI") or p.at("PNAME"):
        return p.term(allow_var=False, allow_literal=False)
    raise SparqlError(f"{verb} expects DEFAULT or a graph IRI, "
                      f"got {p.peek()[1]!r}")


def _clear_target(p: _Parser, verb: str):
    if p.take("KW", "ALL"):
        return ("all", None)
    if p.take("KW", "DEFAULT"):
        return ("default", None)
    if p.take("KW", "NAMED"):
        return ("named", None)
    if p.take("KW", "GRAPH"):
        return ("graph", p.term(allow_var=False, allow_literal=False))
    raise SparqlError(f"{verb} expects ALL / DEFAULT / NAMED / "
                      f"GRAPH <iri>, got {p.peek()[1]!r}")


def _using_clause(p: _Parser) -> tuple[list[str], list[str]]:
    """``USING <g>`` / ``USING NAMED <g>`` clauses: the WHERE-side
    dataset of a modify (the UPDATE twins of FROM / FROM NAMED) — the
    match runs over the merge of the USING graphs instead of the
    WITH/default graph, and GRAPH inside the WHERE ranges over exactly
    the USING NAMED set."""
    using, named = [], []
    while p.take("KW", "USING"):
        (named if p.take("KW", "NAMED") else using).append(
            p.term(allow_var=False, allow_literal=False))
    return using, named


def parse_update(text: str) -> list[dict]:
    """Parse SPARQL UPDATE text into the operation sequence."""
    p = _Parser(text)
    ops: list[dict] = []
    while True:
        _prologue(p)
        if p.at("KW", "CLEAR") or p.at("KW", "DROP"):
            # DROP == CLEAR here: a frame-backed store has no catalog
            # of empty graphs to drop separately
            p.next()
            p.take("KW", "SILENT")
            ops.append({"op": "clear",
                        "target": _clear_target(p, "CLEAR/DROP")})
        elif p.take("KW", "CREATE"):
            # no-op: graphs exist exactly while they hold quads
            p.take("KW", "SILENT")
            p.eat("KW", "GRAPH")
            p.term(allow_var=False, allow_literal=False)
            ops.append({"op": "create"})
        elif p.take("KW", "LOAD"):
            silent = bool(p.take("KW", "SILENT"))
            src = p.term(allow_var=False, allow_literal=False)
            into = None
            if p.take("KW", "INTO"):
                p.eat("KW", "GRAPH")
                into = p.term(allow_var=False, allow_literal=False)
            ops.append({"op": "load", "src": src, "into": into,
                        "silent": silent})
        elif (p.at("KW", "ADD") or p.at("KW", "COPY")
              or p.at("KW", "MOVE")):
            kind = p.next()[1].lower()
            p.take("KW", "SILENT")
            src = _graph_ref(p, kind.upper())
            p.eat("KW", "TO")
            dst = _graph_ref(p, kind.upper())
            ops.append({"op": "gmove", "kind": kind,
                        "src": src, "dst": dst})
        elif p.take("KW", "WITH"):
            scope = p.term(allow_var=False, allow_literal=False)
            if p.take("KW", "DELETE"):
                tpl_del = _template_quads(p.group(), "DELETE templates",
                                          forbid_labels=True)
                tpl_ins = None
                if p.take("KW", "INSERT"):
                    tpl_ins = _template_quads(p.group(),
                                              "INSERT templates",
                                              allow_anon=True)
            elif p.take("KW", "INSERT"):
                tpl_del = None
                tpl_ins = _template_quads(p.group(), "INSERT templates",
                                          allow_anon=True)
            else:
                raise SparqlError(
                    "WITH must precede a DELETE/INSERT .. WHERE form")
            using, unamed = _using_clause(p)
            p.eat("KW", "WHERE")
            ops.append({"op": "modify", "delete": tpl_del,
                        "insert": tpl_ins, "where": p.group(),
                        "with": scope, "using": using,
                        "using_named": unamed})
        elif p.take("KW", "INSERT"):
            if p.take("KW", "DATA"):
                ops.append({"op": "insert_data",
                            "quads": _data_quads(p.group(),
                                                 "INSERT DATA")})
            else:
                tpl = _template_quads(p.group(), "INSERT templates",
                                      allow_anon=True)
                using, unamed = _using_clause(p)
                p.eat("KW", "WHERE")
                ops.append({"op": "modify", "delete": None,
                            "insert": tpl, "where": p.group(),
                            "with": None, "using": using,
                            "using_named": unamed})
        elif p.take("KW", "DELETE"):
            if p.take("KW", "DATA"):
                ops.append({"op": "delete_data",
                            "quads": _data_quads(p.group(),
                                                 "DELETE DATA",
                                                 allow_bnodes=False)})
            elif p.take("KW", "WHERE"):
                # DELETE WHERE {..}: the pattern group doubles as the
                # delete template (SPARQL 1.1 §3.1.3.2)
                g = p.group()
                tpl = _template_quads(g, "DELETE WHERE",
                                      allow_anon=True,
                                      forbid_labels=True)
                ops.append({"op": "modify", "delete": tpl,
                            "insert": None,
                            "where": {**g,
                                      "patterns": [t[:3] for t in tpl
                                                   if t[3] is None],
                                      "graphs": [t for t in tpl
                                                 if t[3] is not None]},
                            "with": None})
            else:
                tpl_del = _template_quads(p.group(), "DELETE templates",
                                          forbid_labels=True)
                tpl_ins = None
                if p.take("KW", "INSERT"):
                    tpl_ins = _template_quads(p.group(),
                                              "INSERT templates",
                                              allow_anon=True)
                using, unamed = _using_clause(p)
                p.eat("KW", "WHERE")
                ops.append({"op": "modify", "delete": tpl_del,
                            "insert": tpl_ins, "where": p.group(),
                            "with": None, "using": using,
                            "using_named": unamed})
        else:
            raise SparqlError(
                f"expected an update operation, got {p.peek()[1]!r}")
        if not p.take("OP", ";"):
            break
        if p.at("EOF"):
            break  # trailing ';' is valid
    if not p.at("EOF"):
        raise SparqlError(f"trailing tokens at {p.peek()[1]!r}")
    for op in ops:
        _attach_shape(op.get("where"), frozenset(p.shape_vars))
    return ops


def update(triples: DataFrame, text: str) -> DataFrame:
    """Execute SPARQL UPDATE text over a ``(subj, pred, obj[, graph])``
    frame and return the updated graph (functional — rdflib's
    ``Graph.update`` mutates in place; a lake's copy-on-write table
    version is the distributed equivalent, so the caller writes the
    returned frame as the next version).  A ``graph`` column makes the
    frame a quad store: NULL is the default graph, GRAPH blocks in
    DATA, ``WITH``, and the management verbs address named graphs.

    Every set operation is ``graphops.term_join`` on the quad key
    (``graphops.term_key(..., quad=True)``).  Scale shapes, per
    operation kind:

    * ``INSERT DATA`` / ``DELETE DATA``: the ground delta is a
      ``graphops.local_frame``, a ``LocalTableScan`` whose scan starts
      no Python worker, and the graph is never shuffled (plan-guarded
      in tests/test_plans.py).  DELETE DATA is one anti join, which
      the planner broadcasts by the delta's size.  INSERT DATA finds
      the keys the graph already holds with a broadcast semi join,
      deduplicates them (its one exchange, over the matched rows
      only) and anti-joins the delta against them.
    * ``CLEAR`` / ``DROP``: a filter — no join, no shuffle.
    * ``ADD/COPY/MOVE``: filter + graph-relabel; only ADD joins, and
      both join inputs are single-graph slices (the graph predicate
      prunes the scan), never the whole store.
    * ``DELETE .. WHERE``: the deletion set, one row per solution and
      template entry, goes to one anti join as it is (AQE broadcasts
      it when small); duplicates in it cannot change the answer, so
      it is not deduplicated.  ``WITH`` scopes the match to one
      graph's slice scan-side.
    * ``INSERT .. WHERE``: the derived rows are deduplicated, and
      only those the graph lacks (an anti join against the graph,
      the grammar's one corpus shuffle) union in; rows already
      present pass through untouched.

    Column contract (rdflib preserves term identity; the lake twin):
    every non-key column — the literal-shape triple
    (``obj_is_iri``/``obj_lang``/``obj_datatype``) and any provenance
    columns — passes through UNTOUCHED on surviving rows.  When the
    frame carries literal-shape columns they join into every set
    operation's key (a literal ``"x"`` never deletes/dedups against an
    IRI ``<x>``), ground ``DATA`` rows land with their parse-time
    shape, and template-derived rows instantiate term-exactly: a
    constant carries its parse-time shape, a variable-bound object
    the shape of the row its binding matched (read per-row from the
    matcher's hidden companions).  Provenance columns are NULL on
    inserted rows.
    """
    for col in G.TERM_COLS[:3]:
        if col not in triples.columns:
            raise SparqlError(f"update needs a triple frame with "
                              f"'{col}' (got {triples.columns})")
    quads = "graph" in triples.columns
    df = triples
    for op in parse_update(text):
        df = _apply_update(df, op, quads)
    return df


def _in_graph(gcol, target):
    """Row-membership predicate for graph ``target`` (None=default)."""
    return gcol.isNull() if target is None else (gcol == target)


def _not_in_graph(gcol, target):
    # NOT of the above with three-valued logic handled: a NULL graph
    # cell must KEEP rows when target is a named graph
    if target is None:
        return gcol.isNotNull()
    return gcol.isNull() | (gcol != target)


def _set_insert(df: DataFrame, delta: DataFrame) -> DataFrame:
    """Insert ``delta`` with RDF set semantics: re-adding an existing
    triple is a NO-OP (rdflib semantics) — existing rows pass through
    UNTOUCHED (their provenance survives; a delete-then-append would
    replace them with NULL-provenance delta rows).  Zero corpus
    shuffle: the matched keys are found with a map-side broadcast
    semi-join (bounded by |delta| rows), then broadcast back to
    anti-join the delta itself."""
    from pyspark.sql import functions as F

    key = G.term_key(df, delta, quad=True)
    matched = (G.term_join(df, F.broadcast(delta), "left_semi", key)
               # dedup BEFORE broadcasting: a store carrying
               # per-document provenance duplicates of one term key
               # would otherwise broadcast one row per document —
               # the distinct bounds the broadcast by |delta|, and
               # its exchange shuffles only the matched rows, never
               # the corpus (plan-guarded)
               .select(*key).dropDuplicates())
    fresh = G.term_join(delta, F.broadcast(matched), "left_anti", key)
    return df.unionByName(fresh, allowMissingColumns=True)


# LOAD source formats, by file extension: (reader kind, quads?)
_LOAD_FORMATS = {
    "nt": ("nt", False), "ntriples": ("nt", False),
    "nq": ("nq", True), "nquads": ("nq", True),
    "ttl": ("turtle", False), "turtle": ("turtle", False),
    "trig": ("trig", True),
    "rdf": ("rdfxml", False), "xml": ("rdfxml", False),
    "owl": ("rdfxml", False),
    "jsonld": ("jsonld", False), "json": ("jsonld", False),
}


def _load_document(spark, iri: str) -> tuple[DataFrame, bool]:
    """Read the RDF document named by ``iri`` (file paths / ``file://``
    IRIs only — executors carry no network by design, the lake twin of
    the reference's live ``URIOpener`` fetch, pyRdfa/utils.py:44-95)
    into a ``(subj, pred, obj, obj_is_iri, obj_lang, obj_datatype
    [, graph])`` delta frame.  Format from the file extension (the
    reference dispatches on media type the same way,
    pyRdfa/host/__init__.py).  Raises :class:`SparqlError` on a
    missing file, unsupported scheme/extension, or any ungrammatical
    content (the raise-not-misparse discipline; ``LOAD SILENT``
    converts the raise into a no-op).

    Scale shape: N-Triples / N-Quads / JSON-LD-lines parse scan-side
    (line-splittable, any size); the block formats (Turtle, TriG,
    RDF/XML) parse as ONE document through the same Arrow-batched
    reader the vocab pipeline uses — right for the dimension-sized
    vocab/ontology documents LOAD exists for.

    Returns ``(delta, has_graph_col)``.  Blank-node labels are
    rewritten ``_:l<pathhash>...`` so repeated LOADs of distinct
    documents can never collide with each other or with the store
    (document-scoped labels, the extraction pipeline's skolemization
    discipline)."""
    import hashlib
    import os
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    u = urlparse(iri)
    if u.scheme == "file":
        path = unquote(u.path)
    elif u.scheme == "":
        path = iri
    else:
        raise SparqlError(
            f"LOAD {iri!r}: only file paths / file:// IRIs load "
            "(executors carry no network by design — pre-fetch "
            "remote documents into the lake)")
    ext = path.rpartition(".")[2].lower()
    fmt = _LOAD_FORMATS.get(ext)
    if fmt is None:
        raise SparqlError(
            f"LOAD {iri!r}: unknown format extension {ext!r} "
            f"(supported: {sorted(_LOAD_FORMATS)})")
    if not os.path.exists(path):
        raise SparqlError(f"LOAD {iri!r}: no such file {path!r}")
    kind, has_graph = fmt
    # deterministic per-source bnode scope (sha over the resolved path)
    scope = hashlib.sha256(path.encode()).hexdigest()[:12]

    def rescope(col):
        return F.when(col.startswith("_:"),
                      F.concat(F.lit(f"_:l{scope}"),
                               F.substring(col, 3, 2 ** 30))
                      ).otherwise(col)

    if kind in ("nt", "nq"):
        from pyrdfa3_spark.sources import ntriples as NTS
        lines = spark.read.text(path)
        bad = NTS.parse_errors(lines, col="value").limit(1).collect()
        if bad:
            raise SparqlError(
                f"LOAD {iri!r}: ungrammatical statement "
                f"{bad[0]['line'][:200]!r}")
        if kind == "nq":
            delta = NTS.parse_nquads(lines, col="value")
        else:
            # the shared error gate is quad-shaped; a 4-term line in a
            # .nt file slips it but must not silently drop here
            stray = (NTS.parse_nquads(lines, col="value")
                     .filter(F.col("graph").isNotNull())
                     .limit(1).collect())
            if stray:
                raise SparqlError(
                    f"LOAD {iri!r}: N-Quads statement in an "
                    f"N-Triples document (graph {stray[0]['graph']!r})")
            delta = NTS.parse_ntriples(lines, col="value")
    elif kind == "jsonld":
        from pyrdfa3_spark.sources import jsonld as JLD
        lines = spark.read.text(path)
        bad = JLD.parse_errors(lines, col="value").limit(1).collect()
        if bad:
            raise SparqlError(
                f"LOAD {iri!r}: unparsable JSON-LD line "
                f"{bad[0]['line'][:200]!r}")
        delta = JLD.parse_jsonld(lines, col="value")
    else:  # block formats: one document, the rdfdocs reader
        from pyrdfa3_spark.sources.rdfdocs import parse_rdf_documents
        doc = (spark.read.text(path, wholetext=True)
               .select(F.lit(0).cast("bigint").alias("doc_id"),
                       F.col("value").alias("text")))
        parsed = parse_rdf_documents(doc, fmt=kind, base=iri)
        bad = (parsed.filter(F.col("error").isNotNull())
               .limit(1).collect())
        if bad:
            raise SparqlError(f"LOAD {iri!r}: {bad[0]['error'][:300]}")
        delta = parsed.drop("doc_id", "error")
    delta = delta.withColumn("subj", rescope(F.col("subj")))
    delta = delta.withColumn(
        "obj", F.when(F.col("obj_is_iri"),
                      rescope(F.col("obj"))).otherwise(F.col("obj")))
    return delta, has_graph


def _apply_update(df: DataFrame, op: dict, quads: bool) -> DataFrame:
    from pyspark.sql import functions as F

    def need_quads(what):
        if not quads:
            raise SparqlError(f"{what} needs a quad frame "
                              "(no 'graph' column on the input)")

    if op["op"] == "create":
        return df
    if op["op"] == "load":
        if op["into"] is not None:
            need_quads("LOAD .. INTO GRAPH")
        try:
            delta, delta_quads = _load_document(df.sparkSession,
                                                op["src"])
        except SparqlError:
            if op["silent"]:
                return df  # spec: SILENT converts failure to no-op
            raise
        if delta_quads and not quads:
            need_quads(f"LOAD of a quad format ({op['src']!r})")
        if not G.obj_shape_cols(df):
            # the DATA discipline: a tag a shapeless frame can't store
            # must not silently become its plain lexical twin
            tagged = (delta.filter(F.col("obj_lang").isNotNull()
                                   | F.col("obj_datatype").isNotNull())
                      .limit(1).collect())
            if tagged:
                raise SparqlUnsupported(
                    f"LOAD {op['src']!r} carries tagged literals "
                    f"(e.g. {tagged[0]['obj'][:80]!r}) — the store "
                    "needs literal-shape columns (obj_is_iri/"
                    "obj_lang/obj_datatype)")
        if quads:
            gval = op["into"]  # None = default graph, spec §3.1.3.4
            delta = (delta.withColumn("graph",
                                      F.lit(gval).cast("string"))
                     if not delta_quads or gval is not None
                     else delta)
        elif delta_quads:  # unreachable (need_quads above); belt
            delta = delta.drop("graph")
        keep = G.term_key(df, delta, quad=True)
        # dedup AFTER the projection, like DATA: without shape columns
        # an IRI <x> and a literal "x" collapse onto one lexical row
        return _set_insert(df, delta.select(*keep).dropDuplicates())
    if op["op"] == "clear":
        kind, target = op["target"]
        if kind == "all" or (kind == "default" and not quads):
            return df.limit(0)
        need_quads(f"CLEAR/DROP {kind.upper()}")
        if kind == "default":
            return df.filter(F.col("graph").isNotNull())
        if kind == "named":
            return df.filter(F.col("graph").isNull())
        return df.filter(_not_in_graph(F.col("graph"), target))

    if op["op"] == "gmove":
        need_quads(f"{op['kind'].upper()} .. TO ..")
        src, dst, kind = op["src"], op["dst"], op["kind"]
        if src == dst:
            return df  # spec: same-graph ADD/COPY/MOVE is a no-op
        gcol = F.col("graph")
        moved = (df.filter(_in_graph(gcol, src))
                 .withColumn("graph",
                             F.lit(dst).cast("string")))
        if kind == "add":
            # dst ∪= src: both sides of the anti-join are single
            # graphs, so the join input is two pruned slices, not the
            # whole store
            fresh = G.term_join(moved, df.filter(_in_graph(gcol, dst)),
                                "left_anti", G.term_key(df, quad=True))
            return df.unionByName(fresh)
        base = df.filter(_not_in_graph(gcol, dst))
        if kind == "move":
            base = base.filter(_not_in_graph(gcol, src))
        return base.unionByName(moved)

    if op["op"] in ("insert_data", "delete_data"):
        shape = G.obj_shape_cols(df)
        if not shape and any(_tagged(r[2]) for r in op["quads"]):
            # an explicit @lang/^^dt on a shapeless frame would
            # silently insert/delete the PLAIN lexical twin — refuse,
            # mirroring the query-side matcher (implicit grammar
            # shapes — bare 42 — stay lexical as documented)
            raise SparqlUnsupported(
                "tagged literals in DATA need a frame with "
                "literal-shape columns (obj_is_iri/obj_lang/"
                "obj_datatype)")
        rows = sorted(
            {(str(r[0]), str(r[1]), str(r[2]),
              None if r[3] is None else str(r[3]),
              _term_is_iri(r[2]), getattr(r[2], "lang", None),
              getattr(r[2], "dt", None))
             for r in op["quads"]},
            key=lambda r: tuple("" if x is None else str(x)
                                for x in r))
        if not quads and any(r[3] is not None for r in rows):
            raise SparqlError("GRAPH blocks in DATA need a quad "
                              "frame (no 'graph' column)")
        data = sorted(
            # re-dedup AFTER the projection: without shape columns an
            # IRI <x> and a literal "x" collapse onto one lexical row
            {(s, p, o) + ((g,) if quads else ())
             + ((is_iri, lg, dt) if shape else ())
             for s, p, o, g, is_iri, lg, dt in rows},
            key=lambda r: tuple("" if x is None else str(x) for x in r))
        schema = ("subj string, pred string, obj string"
                  + (", graph string" if quads else "")
                  + (", obj_is_iri boolean, obj_lang string, "
                     "obj_datatype string" if shape else ""))
        delta = G.local_frame(df.sparkSession, data, schema)
        if op["op"] == "delete_data":
            return G.term_join(df, delta, "left_anti",
                               G.term_key(df, delta, quad=True))
        return _set_insert(df, delta)

    # modify
    g = op["where"]
    scope_graph = op.get("with")
    if scope_graph is not None:
        need_quads("WITH <graph>")
    if _group_has_graphs(g):
        need_quads("GRAPH inside DELETE/INSERT WHERE")
    if any(t[3] is not None for tmpl in (op["delete"], op["insert"])
           for t in tmpl or []):
        need_quads("GRAPH inside DELETE/INSERT templates")
    if "obj_is_iri" not in df.columns:
        if _group_has_tagged(g) or any(
                _tagged(o) for tmpl in (op["delete"], op["insert"])
                for _s, _p, o, _g in tmpl or []):
            # same refusal as DATA: a tag a shapeless frame can't
            # store/match must not silently become the plain twin
            raise SparqlUnsupported(
                "tagged literals in DELETE/INSERT templates or WHERE "
                "patterns need a frame with literal-shape columns "
                "(obj_is_iri/obj_lang/obj_datatype)")
    # WHERE matches the USING merge when given, else the WITH graph
    # (default graph when neither) — the scope filter prunes the scan
    # before any join; templates always target the WITH/default graph.
    # GRAPH inside the WHERE ranges over exactly the USING NAMED set
    # when any USING clause is present (§3.1.3 strict split, same as
    # FROM/FROM NAMED), else over ALL of the store's named graphs
    # (the rdflib Graph-Store posture).
    using = op.get("using") or []
    using_named = op.get("using_named") or []
    # literal-shape columns stay visible to the WHERE match (the
    # term-shape builtins read them), and the RDF-merge dedup over
    # them is shape-exact
    keep = G.term_key(df)
    if using or using_named:
        need_quads("USING")
        # default graph of the match = merge of the USING graphs
        # (EMPTY with only USING NAMED given — plain patterns bind
        # nothing, per the strict dataset split)
        scope = (df.filter(F.col("graph").isin(using) if using
                           else F.lit(False))
                 .select(*keep))
        if len(using) > 1:
            scope = scope.dropDuplicates()  # RDF merge = set union
    else:
        scope = (df.filter(_in_graph(F.col("graph"), scope_graph))
                 .select(*keep) if quads else df)
    if quads:
        _attach_quads(g, df.filter(F.col("graph").isin(using_named))
                      if (using or using_named) else df)
    # a variable-bound template object instantiates with the shape its
    # binding MATCHED (read per-row from the matcher's hidden
    # companions), so the solutions must track every template object
    # variable and the working frame must keep the store's shape
    # columns for the matcher to copy from
    # every template object variable needs shape companions — except
    # INSERT-template ?_anon* slots, which mint fresh bnodes below and
    # are never bindings (a DELETE WHERE [..] anon IS a binding)
    tvars = (({str(o)[1:] for _s, _p, o, _gt in op["delete"] or []
               if str(o).startswith("?")}
              | {str(o)[1:] for _s, _p, o, _gt in op["insert"] or []
                 if str(o).startswith("?")
                 and not str(o).startswith("?_anon")})
             if "obj_is_iri" in df.columns else set())
    _attach_shape(g, frozenset(set(g.get("_shape") or ()) | tvars))
    # both templates instantiate against the ORIGINAL graph's
    # solutions (SPARQL 1.1 §3.1.3: delete first, insert second, but
    # WHERE matches the pre-update state) — guaranteed here because
    # `sols` derives from `df`, not from the partial result.  The
    # match runs ONCE (the full group grammar, same solver as SELECT);
    # with both templates present the solutions are locally
    # checkpointed so the two instantiations don't re-execute the
    # pattern join (lazy: materializes at first use).
    sols = _solve_group(scope, g)

    shape = G.obj_shape_cols(df)

    def is_var(t) -> bool:
        return str(t).startswith("?")

    def bound_only(template, anon_ok=False):
        # §3.1.3: a template entry referencing a variable the WHERE
        # never binds instantiates for no solution — drop it.
        # ``anon_ok`` keeps INSERT-template ?_anon* slots: they mint
        # fresh columns later, so they are never "unbound"
        return [tpl for tpl in template or []
                if all((not is_var(x))
                       or (anon_ok and str(x)[1:].startswith("_anon"))
                       or str(x)[1:] in sols.columns
                       for x in tpl)]

    deletes = bound_only(op["delete"])
    pre_inserts = bound_only(op["insert"], anon_ok=True)
    if deletes and pre_inserts:
        # both templates instantiate from ONE match — checkpoint
        # before the insert side widens it with minted columns
        sols = sols.localCheckpoint(eager=False)
    # INSERT template blank nodes (explicit _:b / [..]) mint fresh
    # per solution (§3.1.3); DELETE templates reject them (nothing to
    # delete by a fresh label — a [..] there is the DELETE WHERE
    # wildcard, a real binding)
    ins_sols, inserts, minted = (
        _mint_template_bnodes(sols, pre_inserts)
        if pre_inserts else (sols, [], frozenset()))

    def derived(template, with_shape, frame, minted=frozenset()):
        shapes = (_template_shapes(template, minted)
                  if with_shape else None)
        triples_tpl = [t[:3] for t in template]
        if quads:
            # per-entry targets: a GRAPH block wins over WITH; bare
            # entries land in the WITH graph (default when absent)
            out = G.construct_solutions(
                frame, triples_tpl, obj_shapes=shapes,
                graphs=[t[3] if t[3] is not None else scope_graph
                        for t in template])
        else:
            out = G.construct_solutions(frame, triples_tpl,
                                        obj_shapes=shapes)
        return out

    out = df
    if deletes:
        # on a shaped frame every delete template matches
        # shape-exactly: a constant literal "x" never deletes an IRI
        # <x>, and a variable object deletes exactly the shape(s) its
        # binding matched — one solution row per matching shape
        # (bag), same as rdflib's term-exact Graph.update
        dels = derived(deletes, bool(shape), sols)
        out = G.term_join(out, dels, "left_anti",
                          G.term_key(out, dels, quad=True))
    if inserts:
        # set semantics via fresh-only insert: rows already present
        # pass through UNTOUCHED (provenance survives — the old
        # union+dropDuplicates picked an ARBITRARY winner between the
        # existing row and the NULL-provenance derived twin).  Same
        # cost class: one join keyed on the term key instead of the
        # full-store distinct — still the grammar's one corpus shuffle.
        ins = derived(inserts, bool(shape), ins_sols,
                      minted).dropDuplicates()
        out = out.unionByName(
            G.term_join(ins, out, "left_anti",
                        G.term_key(ins, out, quad=True)),
            allowMissingColumns=True)
    return out
