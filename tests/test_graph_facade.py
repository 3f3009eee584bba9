"""SparkGraph facade: the rdflib-Graph-shaped API surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrdfa3_spark.graph import SparkDataset, SparkGraph


@pytest.fixture(scope="module")
def g(spark):
    rows = [
        ("a", "p:knows", "b"), ("b", "p:knows", "c"),
        ("a", "p:name", "Ada"), ("b", "p:name", "Bob"),
        ("b", "p:name", "Bobby"),
        ("a", "p:knows", "b"),             # duplicate row
    ]
    return SparkGraph(spark.createDataFrame(
        rows, ["subj", "pred", "obj"]))


def test_triples_wildcards_and_contains(g):
    assert g.triples((None, "p:knows", None)).count() == 3  # bag rows
    assert {r["obj"] for r in g.triples(("a", None, None)).collect()} \
        == {"b", "Ada"}
    assert ("a", "p:knows", "b") in g
    assert ("a", "p:knows", "zzz") not in g


def test_len_is_set_semantics_and_helpers(g):
    assert len(g) == 5                      # dup row collapses
    assert {r["subj"] for r in g.subjects("p:name").collect()} \
        == {"a", "b"}
    assert {r["obj"] for r in g.objects("b", "p:name").collect()} \
        == {"Bob", "Bobby"}
    assert g.value("a", "p:name") == "Ada"
    assert g.value("b", "p:name") == "Bob"  # deterministic min
    assert g.value("zzz", "p:name") is None
    assert len(list(g.iter_triples())) == 6


def test_add_remove_and_set_ops(spark, g):
    g2 = g.add(("c", "p:name", "Cy"))
    assert ("c", "p:name", "Cy") in g2
    assert ("c", "p:name", "Cy") not in g    # immutability

    gone = g.remove((None, "p:name", None))
    assert gone.triples((None, "p:name", None)).isEmpty()
    assert len(g.remove((None, None, None))) == 0

    other = SparkGraph(spark.createDataFrame(
        [("a", "p:knows", "b"), ("x", "p:knows", "y")],
        ["subj", "pred", "obj"]))
    assert len(g + other) == 6
    assert len(g - other) == 4
    assert len(g * other) == 1
    # symmetric difference: (g - other) ∪ (other - g)
    xor = g ^ other
    assert len(xor) == 5
    assert ("x", "p:knows", "y") in xor
    assert ("a", "p:knows", "b") not in xor
    assert len(g ^ g) == 0


def test_query_verbs_evaluate_the_set(spark):
    """rdflib stores are SETS: duplicate frame rows (add() of an
    existing triple, per-doc extraction overlap) must not inflate
    solution multiplicity or aggregates on the facade's query verbs;
    ``distinct=True`` is the caller's promise that skips the dedup."""
    dup = SparkGraph(spark.createDataFrame(
        [("a", "p:v", "1"), ("a", "p:v", "2"), ("a", "p:v", "2")],
        ["subj", "pred", "obj"]))
    q = "SELECT (COUNT(?v) AS ?c) WHERE { ?s <p:v> ?v }"
    assert dup.query(q).collect()[0]["c"] == 2
    # add() of an existing triple is a no-op in the query's eyes
    re_added = dup.add(("a", "p:v", "1"))
    assert re_added.query(q).collect()[0]["c"] == 2
    # the promise keeps the raw frame (bag) — caller's responsibility
    bag = SparkGraph(dup.df, distinct=True)
    assert bag.query(q).collect()[0]["c"] == 3

    ds = SparkDataset(dup.df.withColumn(
        "graph", F.lit(None).cast("string")), default_union=True)
    assert ds.query(q).collect()[0]["c"] == 2


def test_len_and_xor_are_shape_aware(spark):
    """On literal-shaped frames, ``"3"`` and ``"3"^^xsd:integer`` are
    DISTINCT triples (rdflib counts two) — len() and ^ must not
    collapse them onto the bare 3-tuple."""
    base = SparkGraph(spark.createDataFrame(
        [("a", "p:knows", "b")], ["subj", "pred", "obj"]))
    sh = SparkGraph(base._with_literal_shape())
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    typed = sh.update(
        f'INSERT DATA {{ <a> <p:age> "3"^^<{xsd_int}> }}')
    plain = sh.update('INSERT DATA { <a> <p:age> "3" }')
    assert len(typed) == 2 and len(plain) == 2
    both = typed + plain
    assert len(both) == 3          # typed and plain "3" both counted
    assert len(typed ^ plain) == 2  # each exclusive to one side


def test_qname_shortens_bound_prefixes(spark):
    g = (SparkGraph.empty(spark)
         .bind("foaf", "http://xmlns.com/foaf/0.1/")
         .bind("ex", "http://example.org/ns#"))
    assert g.qname("http://xmlns.com/foaf/0.1/name") == "foaf:name"
    assert g.qname("http://example.org/ns#Thing") == "ex:Thing"
    # no binding, or a local part that crosses a path boundary → as-is
    assert g.qname("http://other.org/x") == "http://other.org/x"
    assert (g.qname("http://xmlns.com/foaf/0.1/a/b")
            == "http://xmlns.com/foaf/0.1/a/b")


def test_set_replaces_functional_value(g):
    g2 = g.set(("b", "p:name", "Robert"))
    assert {r["obj"] for r in g2.objects("b", "p:name").collect()} \
        == {"Robert"}                       # both old values gone
    assert ("a", "p:name", "Ada") in g2     # other subjects untouched
    assert ("b", "p:name", "Bob") in g      # immutability
    with pytest.raises(ValueError):
        g.set((None, "p:name", "x"))


def test_cbd_follows_bnode_objects(spark):
    g = SparkGraph(spark.createDataFrame(
        [("e:a", "p:addr", "_:n1"), ("_:n1", "p:city", "Oslo"),
         ("e:a", "p:name", "Ada"), ("e:b", "p:name", "Bob")],
        ["subj", "pred", "obj"]))
    got = {(r["subj"], r["pred"], r["obj"])
           for r in g.cbd("e:a").df.collect()}
    assert got == {("e:a", "p:addr", "_:n1"), ("_:n1", "p:city", "Oslo"),
                   ("e:a", "p:name", "Ada")}


def test_query_verbs_and_serialize(g):
    sols = g.query([("?x", "p:knows", "?y"), ("?y", "p:name", "?n")])
    assert {(r["x"], r["n"]) for r in sols.collect()} \
        == {("a", "Bob"), ("a", "Bobby")}
    assert g.ask([("?x", "p:name", "Ada")]) is True
    assert g.ask([("?x", "p:name", "Zed")]) is False

    derived = g.construct([("?x", "p:knows", "?y")],
                          template=[("?y", "p:knownBy", "?x")])
    assert ("b", "p:knownBy", "a") in derived

    # bare-frame graphs get lexical literal-shape inference: "b" has
    # no IRI scheme, so it serializes as a plain literal, never as an
    # (invalid) relative IRI <b>
    lines = {r["line"] for r in g.serialize("nt").collect()}
    assert '<a> <p:knows> "b" .' in lines
    with pytest.raises(ValueError):
        g.serialize("csv")


def test_skolemize_roundtrip_and_transcripts(spark):
    turns = spark.createDataFrame(
        [("c1", 0, "user",
          '<div vocab="http://schema.org/"><div typeof="Place">'
          '<span property="name">Paris</span></div></div>', None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string")
    kg = SparkGraph.from_transcripts(turns)
    assert len(kg) == 3
    sk = kg.skolemize()
    assert sk.triples().filter("subj LIKE '_:%'").isEmpty()
    assert len(sk.de_skolemize() * kg) == len(kg)
    # describe a skolemized entity end-to-end
    name_subj = [r["subj"] for r in
                 sk.triples((None, "http://schema.org/name", None))
                 .collect()][0]
    assert len(sk.describe([name_subj])) == 2


def test_parse_and_pair_accessors(spark):
    """rdflib Graph.parse twin: inline data and file paths across the
    line and block formats merge into the graph; the pair accessors
    (subject_objects & co.) mirror rdflib's iterators as frames."""
    from pyrdfa3_spark.graph import SparkGraph

    g0 = SparkGraph.empty(spark)
    g = g0.parse(data='<urn:s> <urn:p> "lit"@en .\n'
                      '<urn:s> <urn:p2> <urn:o> .', format="nt")
    assert len(g) == 2
    g = g.parse(data='@prefix ex: <urn:x:> . ex:a ex:p ex:b , ex:c .',
                format="turtle")
    assert len(g) == 4
    g = g.parse(data='{"@id":"urn:n","urn:p":[{"@id":"urn:o"}]}',
                format="json-ld")
    assert len(g) == 5
    assert sorted(map(tuple, g.subject_objects("urn:x:p").collect())) \
        == [("urn:x:a", "urn:x:b"), ("urn:x:a", "urn:x:c")]
    assert ("urn:s", "urn:p2") in {
        tuple(r) for r in g.subject_predicates("urn:o").collect()}
    assert {tuple(r) for r in g.predicate_objects("urn:n").collect()} \
        == {("urn:p", "urn:o")}

    with pytest.raises(ValueError):
        g0.parse()
    with pytest.raises(ValueError):
        g0.parse(data="x", format="n3000")


def test_parse_file_paths(spark, tmp_path):
    from pyrdfa3_spark.graph import SparkGraph

    d = tmp_path / "ttl"
    d.mkdir()
    (d / "a.ttl").write_text("<urn:s1> <urn:p> <urn:o1> .")
    (d / "b.ttl").write_text('[ <urn:p> "v" ] .')
    g = SparkGraph.empty(spark).parse(source=str(d), format="turtle")
    assert len(g) == 2  # incl. the standalone blankNodePropertyList

    nt = tmp_path / "dump.nt"
    nt.write_text('<urn:s2> <urn:p> "x" .\n')
    assert len(g.parse(source=str(nt), format="nt")) == 3


def test_bind_namespaces_feed_turtle(spark):
    from pyrdfa3_spark.graph import SparkGraph

    g0 = SparkGraph.empty(spark).parse(
        data="<urn:x:s> <urn:x:p> <urn:x:o> .", format="nt")
    g = g0.bind("ex", "urn:x:")
    assert g.namespaces() == [("ex", "urn:x:")]
    assert g0.namespaces() == []  # bind is functional
    # the binding actually reaches the serializers; row 0 is the
    # @prefix header (rdflib emits a full document, not bare blocks)
    blocks = [r["block"] for r in g.serialize("turtle").collect()]
    assert "@prefix ex: <urn:x:>" in blocks[0]
    assert "ex:s" in blocks[1] and "ex:p" in blocks[1]
    line = g.serialize("json-ld").collect()[0]["jsonld"]
    assert '"ex:p"' in line
    # empty inline data parses to zero triples, rdflib-style
    assert len(g0.parse(data="", format="nt")) == 1
    assert len(SparkGraph.empty(spark).parse(
        data="", format="json-ld")) == 0


def test_wl_fingerprint_and_isomorphic(spark):
    """Distributed WL fingerprint agrees with the exact per-document
    isomorphism checker (tests/graph_compare.py) on renamed-bnode
    twins and on structural edits; the facade's isomorphic() mirrors
    rdflib's contract (False definite, True WL-near-certain)."""
    from tests.graph_compare import isomorphic as exact_iso

    from pyrdfa3_spark.operators.graphops import wl_fingerprint

    base = [("_:a", "p", "_:b"), ("_:b", "p", "_:c"),
            ("_:c", "q", "leaf"), ("urn:x", "r", "_:a"),
            ("urn:x", "n", "lit")]
    renamed = [(s.replace("_:", "_:z"), p, o.replace("_:", "_:z"))
               for s, p, o in base]
    flipped = [("_:a", "p", "_:b"), ("_:c", "p", "_:b"),
               ("_:c", "q", "leaf"), ("urn:x", "r", "_:a"),
               ("urn:x", "n", "lit")]

    def fp(rows):
        df = spark.createDataFrame(rows, ["subj", "pred", "obj"])
        return tuple(wl_fingerprint(df).collect()[0])

    assert fp(base) == fp(renamed)
    assert fp(base) != fp(flipped)
    # consistency with the exact checker the parity harness trusts
    assert exact_iso(base, renamed)
    assert not exact_iso(base, flipped)

    g1 = SparkGraph(spark.createDataFrame(base, ["subj", "pred", "obj"]))
    g2 = SparkGraph(spark.createDataFrame(renamed,
                                          ["subj", "pred", "obj"]))
    g3 = SparkGraph(spark.createDataFrame(flipped,
                                          ["subj", "pred", "obj"]))
    assert g1.isomorphic(g2)
    assert not g1.isomorphic(g3)


def test_items_and_connected(spark):
    """rdflib Graph.items (ordered rdf:List members from a head) and
    Graph.connected (one undirected component)."""
    g = SparkGraph.empty(spark).parse(data="""
        @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
        <urn:s> <urn:p> ( "a" "b" "c" ) .
    """, format="turtle")
    head = g.value("urn:s", "urn:p")
    got = [(r["pos"], r["item"]) for r in g.items(head).collect()]
    assert got == [(0, "a"), (1, "b"), (2, "c")]

    assert g.connected()
    g2 = g.add(("urn:island", "urn:p", "urn:island2"))
    assert not g2.connected()
    # rdflib: the empty graph is NOT connected
    assert not SparkGraph.empty(spark).connected()


def test_items_long_list_job_count(spark, tmp_path, reach_regimes):
    """``items`` over a 30-cell rdf:List of a parquet-backed graph: the
    members in order in every regime of the reachability evaluator,
    and in 2 jobs when the rest slice fits on the driver (its collect,
    then the rdf:first lookup), where a frame loop runs several jobs
    per cell."""
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    n = 30
    rows = [(f"_:l{i}", rdf + "first", f"item{i % 7}") for i in range(n)]
    rows += [(f"_:l{i}", rdf + "rest",
              f"_:l{i + 1}" if i < n - 1 else rdf + "nil")
             for i in range(n)]
    spark.createDataFrame(rows + [("urn:s", "urn:p", "_:l0")],
                          "subj string, pred string, obj string") \
        .repartition(4).write.parquet(str(tmp_path / "list"))
    g = SparkGraph(spark.read.parquet(str(tmp_path / "list")).cache())
    g.df.count()
    want = [(i, f"item{i % 7}") for i in range(n)]
    sc = spark.sparkContext
    for regime in reach_regimes():
        group = f"items-{regime}"
        sc.setJobGroup(group, "items job count")
        try:
            got = [(r["pos"], r["item"]) for r in g.items("_:l0").collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got == want, regime
        if regime == "slice":
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert len(jobs) <= 2, len(jobs)
    g.df.unpersist()


def test_transitive_objects_subjects(spark, reach_regimes):
    g = SparkGraph(spark.createDataFrame(
        [("a", "up", "b"), ("b", "up", "c"), ("c", "up", "d"),
         ("x", "other", "a")], ["subj", "pred", "obj"]))
    for regime in reach_regimes():
        assert sorted(r["node"] for r in
                      g.transitive_objects("b", "up").collect()) \
            == ["b", "c", "d"], regime
        assert sorted(r["node"] for r in
                      g.transitive_subjects("up", "c").collect()) \
            == ["a", "b", "c"], regime


def test_namespaces_survive_functional_ops(spark):
    """rdflib keeps bound prefixes across mutations; the functional
    facade must carry them through every graph-returning method, or a
    bind -> update -> serialize(turtle) flow silently loses its
    prefix compression."""
    from pyrdfa3_spark.graph import SparkGraph

    g = (SparkGraph.empty(spark)
         .add(("http://s.example/a", "http://p.example/n", "x"))
         .bind("p", "http://p.example/"))
    flows = {
        "add": g.add(("http://s.example/b", "http://p.example/n", "y")),
        "remove": g.remove((None, None, "never")),
        "update": g.update('INSERT DATA { <s2> <p2> "v" }'),
        "skolemize": g.skolemize(),
        "union": g + SparkGraph.empty(spark),
        "minus": g - SparkGraph.empty(spark),
    }
    for name, out in flows.items():
        assert dict(out.namespaces())["p"] == "http://p.example/", name
    # ...and the surviving binding reaches the serialized document:
    # header present, pnames compressed, plain strings stay literals
    ttl = "\n".join(r["block"] for r in
                    flows["update"].serialize("turtle").collect())
    assert "@prefix p: <http://p.example/>" in ttl
    assert "p:n" in ttl and '"x"' in ttl and "<x>" not in ttl
    # binary ops merge both sides' bindings
    h = SparkGraph.empty(spark).bind("q", "http://q.example/")
    both = dict((g + h).namespaces())
    assert both["p"] == "http://p.example/"
    assert both["q"] == "http://q.example/"


# ------------------------------------------------------------------ #
# SparkDataset: the rdflib Dataset / ConjunctiveGraph twin
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def ds(spark):
    from pyrdfa3_spark.graph import SparkDataset
    rows = [
        ("s1", "p", "o1", True, None, None, None),        # default graph
        ("s1", "p", "lit", False, "en", None, None),      # default graph
        ("s2", "p", "o2", True, None, None, "g1"),
        ("s2", "p", "o3", True, None, None, "g1"),
        ("s3", "p", "o2", True, None, None, "g2"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean,"
              " obj_lang string, obj_datatype string, graph string")
    return SparkDataset(df)


def test_dataset_graph_slices(ds):
    assert ds.graph("g1").df.count() == 2
    assert ds.default_graph().df.count() == 2
    assert "graph" not in ds.graph("g1").df.columns
    assert sorted(r.graph for r in ds.contexts().collect()) == \
        ["g1", "g2"]
    assert len(ds) == 5
    assert ("s2", "p", "o2", "g1") in ds
    assert ("s1", "p", "o1") in ds          # triple form: any graph
    assert ("s1", "p", "o1", "g1") not in ds


def test_dataset_quads_wildcards(ds):
    from pyrdfa3_spark.graph import SparkDataset
    assert ds.quads((None, None, "o2", None)).count() == 2
    assert ds.quads((None, None, "o2", "g2")).count() == 1
    # the DEFAULT sentinel selects exactly the default graph
    assert ds.quads((None, None, None, SparkDataset.DEFAULT)).count() == 2


def test_dataset_mutation_functional(ds):
    d2 = ds.add(("x", "p", "y", "g3"))
    assert len(d2) == 6 and len(ds) == 5
    d3 = d2.remove((None, None, None, "g1"))
    assert d3.contexts().count() == 2
    d4 = ds.remove_graph("g2")
    assert sorted(r.graph for r in d4.contexts().collect()) == ["g1"]
    d5 = ds.remove_graph(None)        # drop the default graph
    assert d5.default_graph().df.count() == 0
    assert len(d5) == 3


def test_dataset_add_graph(ds, spark):
    from pyrdfa3_spark.graph import SparkGraph
    g = SparkGraph(spark.createDataFrame(
        [("a", "p", "b")], ["subj", "pred", "obj"]))
    d2 = ds.add_graph("gnew", g)
    assert d2.graph("gnew").df.count() == 1
    assert ("a", "p", "b", "gnew") in d2


def test_dataset_query_postures(ds):
    # Dataset (strict): plain patterns see ONLY the default graph
    strict = sorted(r.o for r in ds.query(
        "SELECT ?o WHERE { ?s <p> ?o }").collect())
    assert strict == ["lit", "o1"]
    # ConjunctiveGraph (union): plain patterns see everything
    from pyrdfa3_spark.graph import SparkDataset
    union = SparkDataset(ds.df, default_union=True)
    assert union.query("SELECT ?o WHERE { ?s <p> ?o }").count() == 5
    # GRAPH works in both postures and ranges over named graphs only
    got = sorted(tuple(r) for r in ds.query("""
        SELECT ?g ?s WHERE { GRAPH ?g { ?s <p> ?o } }""").collect())
    assert got == [("g1", "s2"), ("g1", "s2"), ("g2", "s3")]
    # an explicit FROM overrides the strict posture (13.3)
    frm = sorted(r.s for r in ds.query("""
        SELECT ?s FROM <g2> WHERE { ?s <p> ?o }""").collect())
    assert frm == ["s3"]


def test_dataset_update_and_serialize(ds):
    d2 = ds.update(
        'INSERT DATA { GRAPH <g9> { <n1> <p> "v" } }')
    assert ("n1", "p", "v", "g9") in d2
    nq = {r.line for r in ds.serialize("nquads").collect()}
    assert '<s2> <p> <o2> <g1> .' in nq
    assert '<s1> <p> "lit"@en .' in nq     # default graph: no 4th term
    trig = "\n".join(r.block for r in ds.serialize("trig").collect())
    assert "<g1> {" in trig
    with pytest.raises(ValueError, match="nquads/trig"):
        ds.serialize("turtle")


def test_dataset_parse(ds, spark):
    from pyrdfa3_spark.graph import SparkDataset
    d = SparkDataset.empty(spark)
    d = d.parse(data='<s> <p> <o> <g> .\n<s> <p> "x" .\n',
                format="nquads")
    assert ("s", "p", "o", "g") in d
    from pyrdfa3_spark.graph import SparkDataset as DS
    assert d.quads(("s", "p", "x", DS.DEFAULT)).count() == 1
    # trig: graph labels come from the document
    d2 = SparkDataset.empty(spark).parse(
        data="@prefix e: <http://e/> .\ne:g { e:a e:p e:b . }",
        format="trig")
    assert ("http://e/a", "http://e/p", "http://e/b",
            "http://e/g") in d2
    # triple formats land in the `into` graph
    d3 = SparkDataset.empty(spark).parse(
        data="<a> <p> <b> .", format="nt", into="gX")
    assert ("a", "p", "b", "gX") in d3
    # bindings survive into the per-graph facade
    d4 = d3.bind("ex", "http://e/")
    assert d4.graph("gX").namespaces() == [("ex", "http://e/")]


def test_triples_choices(g):
    out = g.triples_choices((None, ["p:name", "p:knows"], None))
    assert out.count() == 6            # every row (incl. the dup)
    out = g.triples_choices((["a", "b"], "p:knows", None))
    assert sorted(r.obj for r in out.collect()) == ["b", "b", "c"]
    with pytest.raises(ValueError, match="exactly one list"):
        g.triples_choices((["a"], ["p:knows"], None))
    with pytest.raises(ValueError, match="exactly one list"):
        g.triples_choices(("a", "p:knows", None))


def test_dataset_addn(ds, spark):
    d2 = ds.addN([("q1", "p", "v1", "gq"), ("q2", "p", "v2", None)])
    assert ("q1", "p", "v1", "gq") in d2 and len(d2) == 7
    frame = spark.createDataFrame(
        [("q3", "p", "v3", "gq")],
        "subj string, pred string, obj string, graph string")
    assert len(ds.addN(frame)) == 6


def test_sparql_service_refuses(ds):
    from pyrdfa3_spark.operators.sparql import SparqlUnsupported
    with pytest.raises(SparqlUnsupported, match="SERVICE"):
        ds.query("""SELECT ?s WHERE {
            SERVICE <http://remote/> { ?s ?p ?o } }""")


def test_dataset_from_transcripts(spark):
    """Extraction materialized as per-conversation named graphs: the
    north-star layout where GRAPH is the provenance axis."""
    from pyrdfa3_spark.graph import SparkDataset
    frag = ('<div vocab="http://schema.org/"><div typeof="Place">'
            '<span property="name">{}</span></div></div>')
    turns = spark.createDataFrame(
        [("c1", 0, "user", frag.format("Paris"), None),
         ("c2", 0, "user", frag.format("Tokyo"), None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string")
    ds = SparkDataset.from_transcripts(turns)
    assert sorted(r.graph for r in ds.contexts().collect()) == \
        ["urn:conv:c1", "urn:conv:c2"]
    assert ds.graph("urn:conv:c1").triples(
        (None, "http://schema.org/name", None)).count() == 1
    # provenance is queryable through SPARQL GRAPH
    got = sorted(tuple(r) for r in ds.query("""
        SELECT ?g ?n WHERE {
          GRAPH ?g { ?s <http://schema.org/name> ?n } }""").collect())
    assert got == [("urn:conv:c1", "Paris"), ("urn:conv:c2", "Tokyo")]


def test_serialize_emits_the_set(spark):
    """Serializers emit each triple/quad ONCE however many duplicate
    rows the frame carries (rdflib serializes the set); per-graph
    copies stay distinct in quad formats."""
    g = SparkGraph(spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "x")], ["subj", "pred", "obj"]))
    assert [r[0] for r in g.serialize("nt").collect()] == [
        '<a> <p> "x" .']
    ds = SparkDataset(spark.createDataFrame(
        [("a", "p", "x", "g1"), ("a", "p", "x", "g1"),
         ("a", "p", "x", "g2")], ["subj", "pred", "obj", "graph"]))
    assert sorted(r[0] for r in ds.serialize("nquads").collect()) == [
        '<a> <p> "x" <g1> .', '<a> <p> "x" <g2> .']


def test_set_operation_key_families_on_quad_frame(spark):
    """Two key families over one quad-carrying, literal-shaped frame.
    The graph algebra (``-``, ``*``, ``^``) and ``graph_diff`` compare
    triples: the graph column does not join their key.  UPDATE (``DELETE
    DATA``, ``ADD``) compares quads.  Both are shape-exact: a literal
    ``"x"`` never matches the IRI ``<x>``."""
    from pyrdfa3_spark.operators.graphops import graph_diff
    from pyrdfa3_spark.operators.sparql import update

    cols = ["subj", "pred", "obj", "graph", "obj_is_iri", "obj_lang",
            "obj_datatype"]
    schema = ("subj string, pred string, obj string, graph string, "
              "obj_is_iri boolean, obj_lang string, obj_datatype string")

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    def quads(df):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    lit_g1 = ("s", "p", "x", "g1", False, None, None)
    lit_g2 = ("s", "p", "x", "g2", False, None, None)
    iri_g1 = ("s", "p", "x", "g1", True, None, None)
    other = ("s", "p", "y", "g3", True, None, None)
    left = SparkGraph(frame([lit_g1, iri_g1, other]))
    right = SparkGraph(frame([lit_g2]))

    # triple-keyed: lit_g2 removes / keeps / cancels lit_g1 whatever
    # its graph, and never touches the IRI <x>
    assert quads((left - right).df) == sorted([iri_g1, other])
    assert quads((left * right).df) == [lit_g1]
    assert quads((left ^ right).df) == sorted([iri_g1, other])
    diff = graph_diff(left.df, right.df)
    assert sorted(tuple(r) for r in diff.select("op", "obj", "obj_is_iri")
                  .collect()) == [("removed", "x", True),
                                  ("removed", "y", True)]

    # quad-keyed: DELETE DATA in g2 misses the g1 row; in g1 it
    # removes the literal and keeps the IRI
    base = left.df
    assert quads(update(base, 'DELETE DATA { GRAPH <g2> { <s> <p> "x" } }')) \
        == quads(base)
    assert quads(update(base, 'DELETE DATA { GRAPH <g1> { <s> <p> "x" } }')) \
        == sorted([iri_g1, other])
    # ADD g1 to g2: the literal already in g2 is not added twice, the
    # IRI is added as an IRI
    added = update(frame([lit_g1, iri_g1, lit_g2]), "ADD <g1> TO <g2>")
    assert quads(added) == sorted(
        [lit_g1, iri_g1, lit_g2, ("s", "p", "x", "g2", True, None, None)])
