"""rdflib-``Graph``-shaped facade over a triples DataFrame.

The reference hands its callers an ``rdflib.Graph`` (pyRdfa
``__init__.py:graph_from_source``) whose consumers live on a small API:
wildcard ``triples()`` access, ``subjects``/``objects``/``value``
helpers, ``in``/``len``, set arithmetic, ``serialize``, ``skolemize``,
and SPARQL ``query``.  :class:`SparkGraph` re-expresses that surface
over a distributed triples frame so those call sites translate 1:1 —
with two deliberate deviations, both documented per-method:

* terms are plain strings plus the literal-shape columns
  (``obj_is_iri``/``obj_lang``/``obj_datatype``) instead of
  URIRef/Literal/BNode objects — the lake's columnar term model;
* anything that would materialize the corpus on the driver
  (``__iter__``, ``__len__``) is either lazy (returns a DataFrame) or
  an explicit Spark action, never a hidden collect inside a helper.

Everything delegates to the operator modules, so plans stay identical
to calling the operators directly — the facade adds no extra shuffles.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrdfa3_spark.operators import graphops as G

_PATTERN_COLS = ("subj", "pred", "obj")


def _data_lines(data: str) -> list[tuple[str]]:
    """Split an in-memory document the way the distributed text scan
    does: on ``\\n`` only, tolerating ``\\r\\n``.  ``str.splitlines``
    would ALSO split on form feed / U+2028 / U+0085 etc., silently
    breaking statements whose literals carry those characters raw
    (grammar-legal in N-Triples)."""
    return [(ln[:-1] if ln.endswith("\r") else ln,)
            for ln in data.split("\n")]


class SparkGraph:
    """A (possibly huge) RDF graph backed by a triples DataFrame.

    Schema: at least ``subj, pred, obj`` strings; the literal-shape and
    provenance columns pass through when present.  Construct from an
    existing frame, from transcripts (:meth:`from_transcripts`), or
    empty (:meth:`empty`) and build up with :meth:`add`.
    """

    def __init__(self, df: DataFrame, namespaces: dict | None = None,
                 distinct: bool = False):
        missing = [c for c in _PATTERN_COLS if c not in df.columns]
        if missing:
            raise ValueError(f"triples frame lacks columns {missing}")
        self.df = df
        self._ns = dict(namespaces or {})
        #: caller's promise that the frame is already triple-distinct:
        #: the query verbs then skip their set-semantics dedup shuffle
        #: (the scale path for pipeline-materialized graph tables)
        self._distinct = distinct

    def _set_frame(self) -> DataFrame:
        """The RDF SET the query verbs evaluate over: rdflib stores are
        sets, and this frame may carry duplicate rows (``add`` of an
        existing triple, per-document extraction overlap) — solution
        multiplicity and aggregates must not see them twice.  One
        shape-aware dropDuplicates, skipped when the constructor
        promised distinctness."""
        if self._distinct:
            return self.df
        # a quad-carrying frame keeps per-graph rows distinct —
        # rdflib's ConjunctiveGraph yields per-context duplicates
        return self.df.dropDuplicates(G.term_key(self.df, quad=True))

    # -- construction ------------------------------------------------

    @classmethod
    def from_transcripts(cls, transcripts: DataFrame) -> "SparkGraph":
        """Run the RDFa extraction pipeline (the facade twin of the
        reference's ``pyRdfa().graph_from_source``)."""
        from pyrdfa3_spark.plans.extract import extract_triples

        return cls(extract_triples(transcripts))

    @classmethod
    def empty(cls, spark) -> "SparkGraph":
        return cls(G.local_frame(
            spark, [], "subj string, pred string, obj string"))

    # -- rdflib-style triple access ----------------------------------

    def triples(self, pattern=(None, None, None)) -> DataFrame:
        """``graph.triples((s, p, o))`` with ``None`` wildcards —
        returns the matching rows as a DataFrame (lazy; rdflib yields
        tuples).  Constant positions become scan predicates."""
        out = self.df
        for col, term in zip(_PATTERN_COLS, pattern):
            if term is not None:
                out = out.filter(F.col(col) == term)
        return out

    def subjects(self, predicate=None, obj=None) -> DataFrame:
        return (self.triples((None, predicate, obj))
                .select("subj").dropDuplicates())

    def predicates(self, subject=None, obj=None) -> DataFrame:
        return (self.triples((subject, None, obj))
                .select("pred").dropDuplicates())

    def objects(self, subject=None, predicate=None) -> DataFrame:
        return (self.triples((subject, predicate, None))
                .select("obj").dropDuplicates())

    def value(self, subject: str, predicate: str) -> Optional[str]:
        """rdflib ``Graph.value``: one object or None.  Driver-side by
        contract (a single small lookup); ``limit(2)`` bounds the
        fetch, and like rdflib the choice among multiple values is
        arbitrary — here deterministically the minimum."""
        rows = (self.triples((subject, predicate, None))
                .select("obj").orderBy("obj").limit(2).collect())
        return rows[0]["obj"] if rows else None

    def triples_choices(self, pattern) -> DataFrame:
        """rdflib ``triples_choices``: exactly one position holds a
        LIST of alternatives (the batched multi-predicate/multi-subject
        lookup idiom, e.g. ``(None, [dc:title, foaf:name], None)``).
        Compiles to one scan-side ``IN`` filter — a single pass where
        per-alternative ``triples()`` calls would scan once each."""
        lists = [i for i, t in enumerate(pattern) if isinstance(t, list)]
        if len(lists) != 1:
            raise ValueError(
                "triples_choices takes exactly one list position, "
                f"got {len(lists)}")
        out = self.df
        for col, term in zip(_PATTERN_COLS, pattern):
            if isinstance(term, list):
                out = out.filter(F.col(col).isin(term))
            elif term is not None:
                out = out.filter(F.col(col) == term)
        return out

    def subject_objects(self, predicate=None) -> DataFrame:
        """rdflib ``subject_objects``: the (subj, obj) pairs of a
        predicate (lazy frame, like the other accessors)."""
        return (self.triples((None, predicate, None))
                .select("subj", "obj").dropDuplicates())

    def predicate_objects(self, subject=None) -> DataFrame:
        return (self.triples((subject, None, None))
                .select("pred", "obj").dropDuplicates())

    def subject_predicates(self, obj=None) -> DataFrame:
        return (self.triples((None, None, obj))
                .select("subj", "pred").dropDuplicates())

    def __contains__(self, triple) -> bool:
        s, p, o = triple
        return not self.triples((s, p, o)).isEmpty()

    def __len__(self) -> int:
        """Number of distinct triples (rdflib Graphs are sets; the
        frame may carry per-document duplicates).  On literal-shaped
        frames distinctness includes the shape columns — rdflib counts
        ``"3"`` and ``"3"^^xsd:integer`` as two triples.  A Spark
        action."""
        return (self.df.select(*G.term_key(self.df))
                .dropDuplicates().count())

    def iter_triples(self, limit: int = 10_000) -> Iterator[tuple]:
        """Explicitly bounded driver-side iteration — the honest stand-
        in for rdflib's ``__iter__`` (unbounded iteration over a lake-
        scale graph is a driver OOM, so the bound is mandatory)."""
        for r in self.df.select(*_PATTERN_COLS).limit(limit).collect():
            yield (r["subj"], r["pred"], r["obj"])

    # -- mutation (returns new graphs: frames are immutable) ---------

    def add(self, triple) -> "SparkGraph":
        """rdflib ``add`` — returns a NEW graph (DataFrames are
        immutable).  For bulk loads union whole frames instead."""
        s, p, o = triple
        row = G.local_frame(self.df.sparkSession, [(s, p, o)],
                            "subj string, pred string, obj string")
        return SparkGraph(
            self.df.unionByName(row, allowMissingColumns=True),
            self._ns)

    def remove(self, pattern) -> "SparkGraph":
        """rdflib ``remove`` with ``None`` wildcards — an anti-filter,
        zero shuffle."""
        match = None
        for col, term in zip(_PATTERN_COLS, pattern):
            if term is not None:
                c = F.col(col) == term
                match = c if match is None else match & c
        if match is None:     # remove((None,None,None)) clears all
            return SparkGraph(self.df.filter(F.lit(False)), self._ns)
        # keep rows NOT matching the whole pattern (a row matches only
        # when every bound position agrees — negating that is an OR of
        # inequalities, not the AND a per-position filter chain builds)
        return SparkGraph(self.df.filter(~match), self._ns)

    def set(self, triple) -> "SparkGraph":
        """rdflib ``Graph.set``: assert a functional value — remove
        every existing ``(s, p, *)`` statement, then add the new one.
        Same one-pass anti-filter + 1-row union as remove/add; the
        rdflib twin raises on wildcard subject/predicate and so do we."""
        s, p, o = triple
        if s is None or p is None:
            raise ValueError("Graph.set needs a concrete subject "
                             "and predicate")
        return self.remove((s, p, None)).add((s, p, o))

    def cbd(self, resource: str, max_hops: int = 10) -> "SparkGraph":
        """rdflib ``Graph.cbd``: the Concise Bounded Description of one
        resource — its statements plus, recursively, the full
        descriptions of every bnode object (rdflib/extras/describer
        semantics).  Same distributed frontier walk DESCRIBE uses
        (broadcast frontier, depth-guarded), single-node entry point."""
        return self.describe([resource], max_hops=max_hops)

    def parse(self, source=None, format: str = "nt", data: str = None,
              context: dict | None = None) -> "SparkGraph":
        """``rdflib Graph.parse`` twin: read serialized RDF and merge
        it in (functional — returns the merged graph).  ``source`` is
        a file/directory path or a DataFrame (a ``(value|jsonld)``
        lines frame for the line formats, a ``(doc_id, text)`` frame
        for the block formats); ``data`` is an inline document string,
        rdflib-style.  Formats: nt/ntriples, json-ld (expanded;
        pass ``context`` for compacted lines), turtle/ttl, xml/rdfxml,
        trig.  Malformed input follows each reader's diagnostics-row
        discipline — check the reader's ``parse_errors`` before
        trusting a bulk load."""
        spark = self.df.sparkSession
        fmt = format.lower().replace("-", "").replace("/", "")
        if (source is None) == (data is None):
            raise ValueError("parse needs exactly one of source/data")
        if data is not None:
            if fmt in ("nt", "ntriples"):
                source = G.local_frame(spark, _data_lines(data),
                                       "line string")
            elif fmt == "jsonld":
                source = G.local_frame(spark, _data_lines(data),
                                       "jsonld string")
            else:
                source = G.local_frame(spark, [(0, data)],
                                       "doc_id bigint, text string")
        if fmt in ("nt", "ntriples"):
            from pyrdfa3_spark.sources.ntriples import (parse_ntriples,
                                                        read_ntriples)
            parsed = (parse_ntriples(source)
                      if isinstance(source, DataFrame)
                      else read_ntriples(spark, source))
        elif fmt == "jsonld" and context is not None:
            from pyrdfa3_spark.sources.jsonld import (
                parse_jsonld_compact, read_jsonld_compact)
            parsed = (parse_jsonld_compact(source, context)
                      if isinstance(source, DataFrame)
                      else read_jsonld_compact(spark, source, context))
        elif fmt == "jsonld":
            from pyrdfa3_spark.sources.jsonld import (parse_jsonld,
                                                      read_jsonld)
            parsed = (parse_jsonld(source)
                      if isinstance(source, DataFrame)
                      else read_jsonld(spark, source))
        elif fmt in ("turtle", "ttl", "xml", "rdfxml", "trig"):
            from pyrdfa3_spark.sources.rdfdocs import (parse_rdf_documents,
                                                       triples_only)
            doc_fmt = {"ttl": "turtle", "xml": "rdfxml"}.get(fmt, fmt)
            if not isinstance(source, DataFrame):
                # block formats scope over the whole document: one row
                # per FILE (wholetext), keyed by the file name hash —
                # never a line-collect, which would scramble order
                source = (spark.read.text(source, wholetext=True)
                          .select(F.xxhash64(F.input_file_name())
                                  .alias("doc_id"),
                                  F.col("value").alias("text")))
            parsed = triples_only(
                parse_rdf_documents(source, fmt=doc_fmt)).drop("doc_id")
        else:
            raise ValueError(f"unknown parse format {format!r}")
        return SparkGraph(self.df.unionByName(
            parsed, allowMissingColumns=True), self._ns)

    # -- namespace management -----------------------------------------

    def bind(self, prefix: str, namespace: str) -> "SparkGraph":
        """rdflib ``bind``: register a prefix that :meth:`serialize`
        feeds to the turtle (prefixes) and json-ld (compaction
        context) sinks.  Functional like every other method — returns
        a NEW graph carrying the binding; graphs derived through other
        operations start unbound (deviation from rdflib's mutable
        per-graph NamespaceManager: rebind on the derived graph)."""
        return SparkGraph(self.df, {**self._ns, prefix: namespace})

    def namespaces(self):
        """rdflib ``namespaces()``: the bound (prefix, namespace)
        pairs."""
        return list(self._ns.items())

    # -- set arithmetic (rdflib operator overloads) ------------------

    def __add__(self, other: "SparkGraph") -> "SparkGraph":
        return SparkGraph(G.union_graphs(self.df, other.df),
                          {**other._ns, **self._ns})

    def __sub__(self, other: "SparkGraph") -> "SparkGraph":
        return SparkGraph(G.subtract_graph(self.df, other.df),
                          self._ns)

    def __mul__(self, other: "SparkGraph") -> "SparkGraph":
        """Intersection — a null-safe semi-join on the triple key
        (broadcastable, like subtraction)."""
        return SparkGraph(G.intersect_graphs(self.df, other.df),
                          {**other._ns, **self._ns})

    def __xor__(self, other: "SparkGraph") -> "SparkGraph":
        """Symmetric difference — triples in exactly one graph
        (rdflib ``Graph.__xor__``): two broadcastable anti-joins."""
        return SparkGraph(G.xor_graphs(self.df, other.df),
                          {**other._ns, **self._ns})

    def qname(self, uri: str) -> str:
        """rdflib ``NamespaceManager.compute_qname`` convenience:
        shorten ``uri`` against the bound prefixes (longest namespace
        wins, like the turtle sink's prefix table); returns the URI
        unchanged when no binding covers it."""
        best = ""
        out = uri
        for prefix, ns in self._ns.items():
            if uri.startswith(ns) and len(ns) > len(best):
                local = uri[len(ns):]
                if local and all(c not in local for c in "/#?"):
                    best, out = ns, f"{prefix}:{local}"
        return out

    def items(self, head: str, max_length: int = 100) -> DataFrame:
        """rdflib ``Graph.items`` twin: the members of the rdf:List
        rooted at ``head`` as an ordered ``(pos, item)`` frame: a
        ``graphops.bfs_distances`` over the rdf:rest edges (one job
        when their slice fits on the driver; ``max_length`` bounds the
        list), then one ``IN``-list job for the rdf:first values.  At
        scale, the row-oriented sink direction is
        ``graphops.rdf_list_chain``."""
        from pyrdfa3_spark.functions.constants import RDF

        cells = dict(G.bfs_distances(self._pred_edges(RDF + "rest"),
                                     [head], max_hops=max_length)
                     .collect())
        firsts = self.df.filter(
            f"pred = {G.sql_str(RDF + 'first')} AND subj IN "
            f"({', '.join(map(G.sql_str, cells))})"
        ).select("subj", "obj").collect()
        return G.local_frame(self.df.sparkSession,
                             sorted((cells[s], o) for s, o in firsts),
                             "pos bigint, item string")

    def _pred_edges(self, predicate: str, reverse: bool = False):
        src, dst = ("obj", "subj") if reverse else ("subj", "obj")
        return (self.df.filter(F.col("pred") == predicate)
                .select(F.col(src).alias("src"),
                        F.col(dst).alias("dst")))

    def transitive_objects(self, subject: str, predicate: str,
                           max_hops: int = 100) -> DataFrame:
        """rdflib ``transitive_objects`` twin: the subject plus every
        node reachable over ``predicate``+, as a ``(node)`` frame
        (seed included at depth 0, like rdflib yielding the subject
        first).  A SEEDED BFS over the predicate's edges
        (``graphops.bfs_distances``): only the queried reachable set
        is searched and depth-checked, never the whole predicate's
        all-pairs closure; a predicate slice that fits on the driver
        is collected once and searched there, one job in all."""
        return G.bfs_distances(self._pred_edges(predicate),
                               [subject],
                               max_hops=max_hops).select("node")

    def transitive_subjects(self, predicate: str, obj: str,
                            max_hops: int = 100) -> DataFrame:
        """rdflib ``transitive_subjects`` twin: the object plus every
        node that reaches it over ``predicate``+ (the reverse BFS)."""
        return G.bfs_distances(self._pred_edges(predicate,
                                                reverse=True),
                               [obj], max_hops=max_hops).select("node")

    def connected(self) -> bool:
        """rdflib ``Graph.connected`` twin: one undirected component
        over all subject/object nodes (literals count as nodes, like
        rdflib's).  Uses the pointer-jumping min-label components —
        O(log diameter) shuffled rounds.  A Spark action."""
        from pyrdfa3_spark.operators.entity_link import (
            sameas_canonical_map)

        edges = self.df.select(F.col("subj").alias("src"),
                               F.col("obj").alias("dst"))
        if edges.isEmpty():
            return False  # rdflib: an empty graph is NOT connected
        return (sameas_canonical_map(edges)
                .select("canon").dropDuplicates().count()) == 1

    def isomorphic(self, other: "SparkGraph", rounds: int = 3) -> bool:
        """rdflib ``Graph.isomorphic`` twin: bnode-insensitive graph
        equality via the distributed WL canonical fingerprint
        (``graphops.wl_fingerprint``).  Like rdflib's, a WL
        approximation: False is definite, True is near-certain (an
        adversarial highly-regular bnode structure can collide).
        Compares the RDF SET: per-document duplicate rows (which the
        frame may carry, see the class contract) are collapsed before
        fingerprinting so row multiplicity never breaks equality."""
        def fp(df):
            dedup = df.select(*_PATTERN_COLS).dropDuplicates()
            return tuple(G.wl_fingerprint(dedup,
                                          rounds=rounds).collect()[0])

        return fp(self.df) == fp(other.df)

    # -- skolemization ----------------------------------------------

    def skolemize(self, base: str = "http://transcript.local",
                  ) -> "SparkGraph":
        return SparkGraph(G.skolemize(self.df, base), self._ns)

    def de_skolemize(self, base: str = "http://transcript.local",
                     ) -> "SparkGraph":
        return SparkGraph(G.deskolemize(self.df, base), self._ns)

    # -- query verbs -------------------------------------------------

    def query(self, patterns, optional=None, filters=None,
              initBindings: dict | None = None,
              initNs: dict | None = None) -> DataFrame:
        """``rdflib Graph.query`` twin.  Accepts SPARQL *text* (a str —
        parsed and executed by :mod:`..operators.sparql`, covering
        SELECT/ASK/CONSTRUCT/DESCRIBE with paths, OPTIONAL, FILTER,
        UNION, MINUS, VALUES, BIND, aggregates and modifiers) or the
        parsed BGP form (a pattern list, handed straight to the
        planner).  ``initBindings`` pre-binds variables (a one-row
        VALUES injection, broadcast bag-joined); ``initNs`` pre-seeds
        prefixes — both rdflib-named, text queries only."""
        if isinstance(patterns, str):
            if optional is not None or filters is not None:
                raise ValueError("text queries carry OPTIONAL/FILTER "
                                 "inline")
            from pyrdfa3_spark.operators.sparql import execute, parse

            q = parse(patterns, initNs)
            return execute(self._query_frame(q), q,
                           init_bindings=initBindings)
        if initBindings is not None or initNs is not None:
            raise ValueError("initBindings/initNs apply to text queries")
        return G.bgp_match(self._set_frame(), patterns,
                           optional=optional, filters=filters)

    def update(self, text: str) -> "SparkGraph":
        """``rdflib Graph.update`` twin: SPARQL 1.1 UPDATE text
        (INSERT/DELETE DATA, DELETE WHERE, DELETE..INSERT..WHERE,
        CLEAR, ``;``-sequences).  Functional — rdflib mutates the graph
        in place; here the updated graph comes back as a new
        SparkGraph, the lake's copy-on-write table version."""
        from pyrdfa3_spark.operators.sparql import update as _update

        return SparkGraph(_update(self.df, text), self._ns)

    def _query_frame(self, q: dict) -> DataFrame:
        """The frame a parsed text query runs over: the set, except
        for an ASK that reads the same over the bag, which skips the
        set dedup shuffle."""
        from pyrdfa3_spark.operators.sparql import ask_reads_bag

        return self.df if ask_reads_bag(q) else self._set_frame()

    def ask(self, patterns, filters=None) -> bool:
        # existence reads the same over the bag as over the set, so
        # ASK skips _set_frame's dedup shuffle
        return G.ask(self.df, patterns,
                     filters=filters).collect()[0]["result"]

    def construct(self, patterns, template, **kw) -> "SparkGraph":
        return SparkGraph(G.construct(self._set_frame(), patterns,
                                      template, **kw), self._ns)

    def describe(self, nodes, max_hops: int = 10) -> "SparkGraph":
        return SparkGraph(G.describe(self._set_frame(), nodes,
                                     max_hops=max_hops), self._ns)

    # -- serialization ----------------------------------------------

    def serialize(self, format: str = "nt") -> DataFrame:
        """Serializer sinks as line/block DataFrames (rdflib returns a
        string; at lake scale the caller writes the frame out).
        Formats: nt, nquads (needs a ``graph`` column), turtle,
        json-ld, xml."""
        from pyrdfa3_spark.plans import serialize as S

        fmt = format.lower().replace("-", "").replace("/", "")
        df = self._with_literal_shape()
        if fmt in ("nt", "ntriples"):
            return S.to_ntriples(df)
        if fmt == "nquads":
            return S.to_nquads(df)
        if fmt in ("turtle", "ttl"):
            # rdflib's serialize returns a full document, @prefix
            # directives included — without them the pname-compressed
            # blocks are not parseable turtle, so prepend the header
            # block (the 1-row local header partition collects ahead
            # of the body partitions).
            body = S.to_turtle(df, prefixes=self._ns or None)
            header = G.local_frame(
                df.sparkSession, [(S.turtle_header(self._ns or None),)],
                "block string")
            return header.unionByName(body)
        if fmt == "jsonld":
            return S.to_jsonld(df, context=self._ns or None)
        if fmt in ("xml", "rdfxml", "prettyxml"):
            return S.to_rdfxml(df)
        raise ValueError(f"unknown serialization format {format!r}")

    def _with_literal_shape(self) -> DataFrame:
        """Serializers need the literal-shape columns; graphs built
        from bare (s, p, o) rows infer them lexically: an object with
        an IRI scheme (or a bnode label) is a term, anything else is a
        plain literal — the all-IRI default would emit invalid
        relative IRIs like ``<alpha>`` for plain strings.  Runs over
        the RDF SET (:meth:`_set_frame`): rdflib serializes each
        triple once however many duplicate rows the frame carries."""
        df = self._set_frame()
        if "obj_is_iri" not in df.columns:
            # the one shared inference (graphops._lexical_is_iri) so
            # the serializer facade and the SPARQL matcher can never
            # diverge on what counts as a term
            df = df.withColumn("obj_is_iri",
                               G._lexical_is_iri("obj"))
        for c in G.TERM_COLS[3:]:  # the shape columns still missing
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast("string"))
        return df


_QUAD_COLS = ("subj", "pred", "obj", "graph")


class SparkDataset:
    """rdflib ``Dataset`` / ``ConjunctiveGraph`` twin over a QUAD frame.

    The reference's consumers keep per-document graphs side by side
    (pyRdfa's output/processor graph split, and rdflib apps generally
    work on ``Dataset``/``ConjunctiveGraph`` stores); this facade is
    that surface over one ``(subj, pred, obj[, shape cols], graph)``
    frame, where ``graph IS NULL`` marks the default graph — the same
    layout every quad operator in this package uses, so a
    graph-partitioned lake table prunes partitions on every
    constant-graph access.

    ``default_union`` picks the rdflib class being mirrored:
    False (the default, like ``rdflib.Dataset``) scopes plain query
    patterns to the default graph; True (``ConjunctiveGraph``) lets
    them match the union of all graphs.  Everything is functional —
    mutators return a NEW dataset (the lake's copy-on-write table
    version), exactly like :class:`SparkGraph`.
    """

    def __init__(self, df: DataFrame, namespaces: dict | None = None,
                 default_union: bool = False, distinct: bool = False):
        missing = [c for c in _PATTERN_COLS if c not in df.columns]
        if missing:
            raise ValueError(f"quad frame lacks columns {missing}")
        if "graph" not in df.columns:
            # a plain triples frame IS a dataset holding only the
            # default graph
            df = df.withColumn("graph", F.lit(None).cast("string"))
        self.df = df
        self._ns = dict(namespaces or {})
        self.default_union = bool(default_union)
        #: caller's promise that the frame is already quad-distinct —
        #: see :meth:`SparkGraph._set_frame`
        self._distinct = distinct

    def _derive(self, df: DataFrame) -> "SparkDataset":
        return SparkDataset(df, self._ns, self.default_union)

    def _set_frame(self) -> DataFrame:
        """The RDF dataset as a SET of quads (rdflib stores are sets;
        this frame may carry duplicate rows) — one shape-aware
        dropDuplicates before query evaluation, skipped when the
        constructor promised distinctness."""
        if self._distinct:
            return self.df
        return self.df.dropDuplicates(G.term_key(self.df, quad=True))

    _query_frame = SparkGraph._query_frame

    # -- construction --------------------------------------------------

    @classmethod
    def empty(cls, spark, default_union: bool = False) -> "SparkDataset":
        return cls(G.local_frame(
            spark, [],
            "subj string, pred string, obj string, graph string"),
            default_union=default_union)

    @classmethod
    def from_transcripts(cls, transcripts: DataFrame,
                         graph_prefix: str = "urn:conv:",
                         ) -> "SparkDataset":
        """Run the RDFa extraction pipeline and materialize each
        conversation's triples as its own NAMED graph
        (``<graph_prefix><conv_id>``) — the north-star KG layout where
        provenance is queryable with GRAPH and a per-conversation slice
        is one partition-prunable filter.  A pure column stamp over
        :meth:`SparkGraph.from_transcripts`'s plan: same single Arrow
        boundary, no extra shuffle."""
        from pyrdfa3_spark.plans.extract import extract_triples

        t = extract_triples(transcripts)
        # extraction dedups per document and each conversation is its
        # own graph, so the quad frame is distinct by construction —
        # the query verbs skip their set-semantics dedup shuffle
        return cls(t.withColumn(
            "graph", F.concat(F.lit(graph_prefix), F.col("conv_id"))),
            distinct=True)

    # -- graph access ---------------------------------------------------

    def graph(self, identifier: str | None = None) -> SparkGraph:
        """rdflib ``Dataset.graph``: the named graph ``identifier`` (or
        the default graph for ``None``) as a :class:`SparkGraph`.  One
        scan-side equality/IS NULL filter — partition-pruned on a
        graph-partitioned table.  The slice keeps the literal-shape
        columns and the dataset's namespace bindings."""
        cond = (F.col("graph").isNull() if identifier is None
                else F.col("graph") == identifier)
        return SparkGraph(self.df.filter(cond).drop("graph"), self._ns)

    def default_graph(self) -> SparkGraph:
        return self.graph(None)

    def contexts(self) -> DataFrame:
        """rdflib ``contexts()``: the named-graph identifiers as a
        1-column ``graph`` frame (the default graph is always present
        by construction, so only NAMED graphs are listed — rdflib's
        Dataset behaves the same via its default-graph sentinel)."""
        return (self.df.select("graph")
                .filter(F.col("graph").isNotNull()).dropDuplicates())

    def quads(self, pattern=(None, None, None, None)) -> DataFrame:
        """``dataset.quads((s, p, o, g))`` with ``None`` wildcards on
        the term positions; the GRAPH position additionally takes the
        sentinel ``SparkDataset.DEFAULT`` to select only default-graph
        rows (a bare ``None`` there is a wildcard, like rdflib)."""
        out = self.df
        for col, term in zip(_QUAD_COLS, pattern):
            if term is self.DEFAULT:
                out = out.filter(F.col(col).isNull())
            elif term is not None:
                out = out.filter(F.col(col) == term)
        return out

    #: quads() graph-position sentinel: "exactly the default graph"
    DEFAULT = object()

    def __contains__(self, statement) -> bool:
        if len(statement) == 3:
            statement = (*statement, None)
        return not self.quads(statement).isEmpty()

    def __len__(self) -> int:
        """Distinct quads across all graphs (a triple present in two
        graphs counts twice, matching rdflib's per-context counting).
        On literal-shaped frames distinctness includes the shape
        columns, like :meth:`SparkGraph.__len__`.  A Spark action."""
        return (self.df.select(*G.term_key(self.df, quad=True))
                .dropDuplicates().count())

    # -- mutation (functional) -------------------------------------------

    def add(self, quad) -> "SparkDataset":
        s, p, o, g = quad
        row = G.local_frame(
            self.df.sparkSession, [(s, p, o, g)],
            "subj string, pred string, obj string, graph string")
        return self._derive(self.df.unionByName(
            row, allowMissingColumns=True))

    def addN(self, quads) -> "SparkDataset":
        """rdflib ``addN``: bulk-add quads — either a quad DataFrame
        (the lake-scale path: a plain union, no driver materialization)
        or a small driver-side iterable of ``(s, p, o, g)`` tuples."""
        if not isinstance(quads, DataFrame):
            quads = G.local_frame(
                self.df.sparkSession, [tuple(q) for q in quads],
                "subj string, pred string, obj string, graph string")
        return self._derive(self.df.unionByName(
            quads, allowMissingColumns=True))

    def remove(self, pattern) -> "SparkDataset":
        """``None`` wildcards over (s, p, o, g); ``DEFAULT`` in the
        graph position scopes the removal to the default graph.  An
        anti-filter — zero shuffle."""
        keep = None
        for col, term in zip(_QUAD_COLS, pattern):
            if term is self.DEFAULT:
                c = F.col(col).isNotNull()
            elif term is not None:
                c = ~F.col(col).eqNullSafe(term)
            else:
                continue
            keep = c if keep is None else keep | c
        if keep is None:
            return self._derive(self.df.filter(F.lit(False)))
        return self._derive(self.df.filter(keep))

    def add_graph(self, identifier: str,
                  graph: SparkGraph) -> "SparkDataset":
        """Union ``graph``'s triples in under ``identifier`` (rdflib's
        ``add_graph`` + bulk ``addN`` in one step — the mutable
        graph-handle idiom doesn't survive immutability, so the bulk
        form IS the API)."""
        labeled = graph.df.withColumn("graph", F.lit(identifier))
        return self._derive(self.df.unionByName(
            labeled, allowMissingColumns=True))

    def remove_graph(self, identifier: str | None) -> "SparkDataset":
        cond = (F.col("graph").isNotNull() if identifier is None
                else ~F.col("graph").eqNullSafe(identifier))
        return self._derive(self.df.filter(cond))

    # -- namespaces -------------------------------------------------------

    def bind(self, prefix: str, namespace: str) -> "SparkDataset":
        return SparkDataset(self.df, {**self._ns, prefix: namespace},
                            self.default_union)

    def namespaces(self):
        return list(self._ns.items())

    # -- query / update ----------------------------------------------------

    def query(self, text: str, initBindings: dict | None = None,
              initNs: dict | None = None) -> DataFrame:
        """SPARQL over the dataset: plain patterns scope per
        ``default_union`` (rdflib Dataset vs ConjunctiveGraph posture);
        GRAPH / FROM / FROM NAMED work either way.  ``initBindings`` /
        ``initNs`` as on :meth:`SparkGraph.query`."""
        from pyrdfa3_spark.operators.sparql import execute, parse

        q = parse(text, initNs)
        return execute(self._query_frame(q), q,
                       union_default=self.default_union,
                       init_bindings=initBindings)

    def update(self, text: str) -> "SparkDataset":
        """SPARQL 1.1 UPDATE over the quad store (GRAPH blocks, WITH,
        USING, graph management CLEAR/DROP/ADD/COPY/MOVE/LOAD..INTO).
        Functional — returns the next table version.  Documented
        deviation: plain WHERE patterns keep the engine's union
        posture regardless of ``default_union`` — scope an update's
        match explicitly with WITH / USING / GRAPH (which the strict
        posture's users do anyway; rdflib's own Dataset.update has
        version-dependent scoping here)."""
        from pyrdfa3_spark.operators.sparql import update as _update

        return self._derive(_update(self.df, text))

    # -- serialization -------------------------------------------------------

    def serialize(self, format: str = "nquads") -> DataFrame:
        """Quad sinks: ``nquads`` (line frame) or ``trig`` (block
        frame, per-graph ``{ }`` groups).  Triple formats belong to the
        per-graph facade: ``dataset.graph(g).serialize(...)``."""
        from pyrdfa3_spark.plans import serialize as S

        fmt = format.lower().replace("-", "")
        # quad-set dedup happens here (this dataset's promise passes
        # through); the inner facade then only infers shape columns
        df = SparkGraph(self._set_frame(), self._ns,
                        distinct=True)._with_literal_shape()
        if fmt == "nquads":
            return S.to_nquads(df)
        if fmt == "trig":
            return S.to_trig(df)
        raise ValueError(
            f"unknown dataset serialization format {format!r} "
            "(nquads/trig; use .graph(g).serialize() for triple "
            "formats)")

    def parse(self, source=None, format: str = "nquads",
              data: str = None, into: str | None = None,
              **kw) -> "SparkDataset":
        """Read serialized RDF and merge it in (functional).  The quad
        formats ``nquads``/``trig`` carry their own graph labels;
        any :meth:`SparkGraph.parse` triple format lands in the
        ``into`` graph (default: the default graph)."""
        spark = self.df.sparkSession
        fmt = format.lower().replace("-", "").replace("/", "")
        if (source is None) == (data is None):
            raise ValueError("parse needs exactly one of source/data")
        if fmt == "nquads":
            from pyrdfa3_spark.sources.ntriples import (parse_nquads,
                                                        read_nquads)
            if data is not None:
                source = G.local_frame(spark, _data_lines(data),
                                       "line string")
            parsed = (parse_nquads(source)
                      if isinstance(source, DataFrame)
                      else read_nquads(spark, source))
        elif fmt == "trig":
            from pyrdfa3_spark.sources.rdfdocs import (
                parse_rdf_documents, triples_only)
            if data is not None:
                source = G.local_frame(spark, [(0, data)],
                                       "doc_id bigint, text string")
            elif not isinstance(source, DataFrame):
                source = (spark.read.text(source, wholetext=True)
                          .select(F.xxhash64(F.input_file_name())
                                  .alias("doc_id"),
                                  F.col("value").alias("text")))
            parsed = triples_only(
                parse_rdf_documents(source, fmt="trig")).drop("doc_id")
        else:
            # triple formats: reuse the graph facade's readers, then
            # label the rows into the target graph
            g = SparkGraph.empty(spark).parse(source=source,
                                              format=format,
                                              data=data, **kw)
            parsed = g.df.withColumn("graph",
                                     F.lit(into).cast("string"))
            into = None  # already applied
        if into is not None:
            parsed = parsed.withColumn(
                "graph", F.coalesce(F.col("graph"), F.lit(into)))
        return self._derive(self.df.unionByName(
            parsed, allowMissingColumns=True))
