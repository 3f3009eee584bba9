"""SPARQL text front-end: parsing + execution against the operator
algebra (the rdflib ``Graph.query(text)`` surface; reference consumers
run SPARQL strings over pyRdfa's emitted graphs)."""

from __future__ import annotations

import pytest

from pyrdfa3_spark.operators.sparql import (
    SparqlError, SparqlUnsupported, parse, sparql,
)


@pytest.fixture(scope="module")
def kg(spark):
    rows = [
        ("a", "p:knows", "b"), ("b", "p:knows", "c"),
        ("a", "p:name", "Ada"), ("b", "p:name", "Bob"),
        ("b", "p:name", "Bobby"), ("c", "p:knows", "c"),
        ("a", "p:type", "Person"), ("b", "p:type", "Person"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_select_join_filter_order(kg):
    out = _rows(sparql(kg, """
        SELECT ?x ?n WHERE {
          ?x p:knows ?y ; p:type "Person" .
          ?y p:name ?n .
          FILTER (STRSTARTS(?n, "Bob"))
        } ORDER BY ?n"""))
    assert out == [("a", "Bob"), ("a", "Bobby")]


def test_select_star_distinct_limit(kg):
    out = _rows(sparql(kg, """
        SELECT DISTINCT ?x WHERE { ?x p:name ?n } ORDER BY ?x"""))
    assert out == [("a",), ("b",)]
    assert sparql(kg, "SELECT * WHERE { ?s ?p ?o } LIMIT 3").count() == 3


def test_ask(kg):
    assert sparql(kg, "ASK { ?x p:knows ?x }").collect()[0]["result"]
    assert not sparql(
        kg, 'ASK { ?x p:name "Nobody" }').collect()[0]["result"]


def test_aggregates_group_concat_having(kg):
    out = _rows(sparql(kg, """
        SELECT ?x (COUNT(?n) AS ?cnt) WHERE { ?x p:name ?n }
        GROUP BY ?x HAVING (?cnt > 1)"""))
    assert out == [("b", 2)]
    out = _rows(sparql(kg, """
        SELECT ?x (GROUP_CONCAT(?n; SEPARATOR=", ") AS ?names)
        WHERE { ?x p:name ?n } GROUP BY ?x ORDER BY ?x"""))
    assert out == [("a", "Ada"), ("b", "Bob, Bobby")]
    # global aggregate: no GROUP BY
    out = _rows(sparql(
        kg, "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"))
    assert out == [(8,)]


def test_hash_builtins(kg):
    import hashlib
    out = _rows(sparql(kg, """SELECT (MD5(?n) AS ?h1)
        (SHA1(?n) AS ?h2) (SHA256(?n) AS ?h3) (SHA384(?n) AS ?h4)
        (SHA512(?n) AS ?h5) WHERE { ?x p:name "Ada" . ?x p:name ?n }"""))
    b = b"Ada"
    assert out == [(hashlib.md5(b).hexdigest(),
                    hashlib.sha1(b).hexdigest(),
                    hashlib.sha256(b).hexdigest(),
                    hashlib.sha384(b).hexdigest(),
                    hashlib.sha512(b).hexdigest())]


def test_composite_aggregate_expressions(kg):
    """Aggregate calls inside expressions (§18.2.4.4): lifted into
    hidden aggregate items, the expression binding after grouping."""
    out = _rows(sparql(kg, """
        SELECT ?x (COUNT(?n) + 1 AS ?c1)
               (SUM(STRLEN(?n)) / COUNT(?n) AS ?avg)
        WHERE { ?x p:name ?n } GROUP BY ?x ORDER BY ?x"""))
    assert out == [("a", 2, 3.0), ("b", 3, 4.0)]
    # ungrouped composite — one row
    out = _rows(sparql(kg, "SELECT (COUNT(*) + 1 AS ?n) "
                           "WHERE { ?s ?p ?o }"))
    assert out == [(9,)]
    # direct aggregate in HAVING (no pre-declared alias)
    out = _rows(sparql(kg, """SELECT ?x WHERE { ?x p:name ?n }
        GROUP BY ?x HAVING (COUNT(?n) > 1)"""))
    assert out == [("b",)]
    # aggregate as an ORDER BY key
    out = _rows(sparql(kg, """SELECT ?x WHERE { ?x p:name ?n }
        GROUP BY ?x ORDER BY DESC(COUNT(?n)) ?x"""))
    assert out == [("b",), ("a",)]
    # aggregates are illegal in FILTER / BIND
    with pytest.raises(SparqlError, match="only legal"):
        parse("""SELECT ?s WHERE { ?s p:name ?n .
            FILTER(COUNT(?n) > 1) }""")
    # the synthetic-alias namespace is reserved
    with pytest.raises(SparqlError, match="reserved"):
        parse("SELECT ?_aggsyn0 WHERE { ?_aggsyn0 p:name ?n }")


def test_property_paths(kg):
    out = _rows(sparql(
        kg, "SELECT ?x ?z WHERE { ?x p:knows+ ?z } ORDER BY ?x ?z"))
    assert out == [("a", "b"), ("a", "c"), ("b", "c"), ("c", "c")]
    out = _rows(sparql(kg, """
        SELECT ?n WHERE { "a" p:knows/p:name ?n }"""))
    assert sorted(out) == [("Bob",), ("Bobby",)]
    out = _rows(sparql(kg, """
        SELECT ?y WHERE { "b" ^p:knows ?y }"""))
    assert out == [("a",)]
    out = _rows(sparql(kg, """
        SELECT DISTINCT ?o WHERE { "b" p:name|p:knows ?o } ORDER BY ?o"""))
    assert out == [("Bob",), ("Bobby",), ("c",)]
    out = _rows(sparql(kg, """
        SELECT ?o WHERE { "c" !(p:name|p:type) ?o }"""))
    assert out == [("c",)]


def test_union_optional_minus_exists_values_bind(kg):
    out = _rows(sparql(kg, """
        SELECT ?x ?n WHERE {
          { ?x p:knows "c" . ?x p:name ?n } UNION { ?x p:type ?n }
        } ORDER BY ?x ?n"""))
    assert out == [("a", "Person"), ("b", "Bob"), ("b", "Bobby"),
                   ("b", "Person")]
    out = _rows(sparql(kg, """
        SELECT ?x ?n WHERE {
          ?x p:type "Person" . OPTIONAL { ?x p:nope ?n }
        } ORDER BY ?x"""))
    assert out == [("a", None), ("b", None)]
    out = _rows(sparql(kg, """
        SELECT ?x WHERE {
          ?x p:type "Person" . MINUS { ?x p:knows "b" } }"""))
    assert out == [("b",)]
    out = _rows(sparql(kg, """
        SELECT ?x WHERE {
          ?x p:type "Person" .
          FILTER NOT EXISTS { ?x p:knows "b" } }"""))
    assert out == [("b",)]
    out = _rows(sparql(kg, """
        SELECT ?x ?who WHERE {
          ?x p:name ?n .
          VALUES (?n ?who) { ("Ada" "ada!") ("Bob" UNDEF) }
        } ORDER BY ?x"""))
    assert out == [("a", "ada!"), ("b", None)]
    out = _rows(sparql(kg, """
        SELECT ?x ?v WHERE { ?x p:name ?n . BIND (STRLEN(?n) AS ?v) }
        ORDER BY ?x ?v"""))
    assert out == [("a", 3), ("b", 3), ("b", 5)]


def test_construct_and_prefixes(kg):
    out = sorted(_rows(sparql(kg, """
        PREFIX ex: <http://ex/>
        CONSTRUCT { ?y ex:knownBy ?x } WHERE { ?x p:knows ?y }""")))
    assert out == [("b", "http://ex/knownBy", "a"),
                   ("c", "http://ex/knownBy", "b"),
                   ("c", "http://ex/knownBy", "c")]
    # declared prefixes expand; undeclared pass through as CURIE text
    assert sparql(kg, """
        PREFIX ex: <http://ex/>
        SELECT ?s WHERE { ?s ex:nope ?o }""").count() == 0
    assert sparql(kg, "SELECT ?s WHERE { ?s p:knows ?o }").count() == 3


def test_describe(spark):
    rows = [("n", "p:a", "_:b1"), ("_:b1", "p:b", "leaf"),
            ("other", "p:a", "x")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t, "DESCRIBE <n>")))
    assert out == [("_:b1", "p:b", "leaf"), ("n", "p:a", "_:b1")]


def test_parse_errors(kg):
    with pytest.raises(SparqlError):
        parse("SELECT WHERE { ?s ?p ?o }")         # empty projection
    with pytest.raises(SparqlError):
        parse("SELECT ?s WHERE { ?s ?p ?o } nonsense")
    # nested path modifiers parse now; a variable path still raises
    with pytest.raises(SparqlUnsupported):
        parse("SELECT ?s WHERE { ?s (?v/p:b)+ ?o }")
    # UNION beside sibling patterns is compositional now — it parses;
    # a possibly-unbound join variable solves under §18.5
    # compatibility (an unbound ?x adopts the bound side's value)
    parse("""SELECT ?s WHERE {
        ?s p:a ?o . { ?s p:b ?x } UNION { ?s p:c ?x } }""")
    out = sorted(_rows(sparql(kg, """SELECT ?s WHERE {
        ?s p:name ?x .
        { ?s p:knows ?y . OPTIONAL { ?y p:name ?x } }
        UNION { ?s p:age ?t } }""")))
    # branch 1 with x bound: (a knows b, x∈{Bob,Bobby}) never meets
    # ?s p:name ?x (a's name is Ada); with x unbound (y=c has no
    # name): s∈{b,c}, and only b has a name — both of b's names merge
    assert out == [("b",), ("b",)]
    with pytest.raises(SparqlError, match="GROUP BY"):
        sparql(kg, """SELECT ?x ?n (COUNT(?n) AS ?c)
                      WHERE { ?x p:name ?n } GROUP BY ?x""")
    with pytest.raises(SparqlError, match="HAVING"):
        sparql(kg, "SELECT ?s WHERE { ?s ?p ?o } HAVING (?s > 1)")
    # typed-literal patterns parse now and constrain the term shape —
    # which needs shape columns; an unshaped frame raises instead of
    # matching lexically (misclassification)
    parse('SELECT ?s WHERE { ?s p:a "x"^^<http://t> }')
    with pytest.raises(ValueError, match="shape-tagged"):
        sparql(kg, 'SELECT ?s WHERE { ?s p:a "x"^^<http://t> }')


def test_sparql_text_matches_algebra_differential(spark):
    """Property test for the parser: random chain-shaped queries are
    rendered to SPARQL text and executed BOTH through the text
    front-end and directly through bgp_match/select_solutions — any
    tokenizer/parser misparse shows up as a solution-set diff."""
    import os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyrdfa3_spark.operators.graphops import (
        bgp_match, select_solutions,
    )

    nodes = [f"n{i}" for i in range(6)]
    preds = [f"p:{i}" for i in range(3)]
    rows = [(nodes[(i * 7 + j) % 6], preds[(i + j) % 3],
             nodes[(i * 3 + 2 * j + 1) % 6])
            for i in range(6) for j in range(4)]
    g = spark.createDataFrame(sorted(set(rows)),
                              ["subj", "pred", "obj"])

    def quote(term: str) -> str:
        return term if term.startswith("?") else f'"{term}"'

    @settings(max_examples=int(os.environ.get("SPARQL_EXAMPLES", "25")),
              derandomize=os.environ.get("PARITY_RANDOM") is None,
              deadline=None)
    @given(data=st.data())
    def run(data):
        # chain of 1-3 patterns: ?v0 p ?v1 . ?v1 p ?v2 ... with random
        # constant substitutions at the endpoints
        n = data.draw(st.integers(1, 3))
        patterns = []
        for i in range(n):
            s = f"?v{i}"
            if i == 0 and data.draw(st.booleans()):
                s = data.draw(st.sampled_from(nodes))
            o = f"?v{i + 1}"
            if i == n - 1 and data.draw(st.booleans()):
                o = data.draw(st.sampled_from(nodes))
            patterns.append((s, data.draw(st.sampled_from(preds)), o))
        variables = sorted({t for p in patterns for t in p
                            if t.startswith("?")})
        if not variables:
            return
        filters = filter_text = None
        if data.draw(st.booleans()):
            v = data.draw(st.sampled_from(variables))
            c = data.draw(st.sampled_from(nodes))
            op = data.draw(st.sampled_from(["!=", ">", "<="]))
            filters = [f"{v[1:]} {'<>' if op == '!=' else op} '{c}'"]
            filter_text = f'FILTER ({v} {op} "{c}")'
        distinct = data.draw(st.booleans())

        text = "SELECT " + ("DISTINCT " if distinct else "") \
            + " ".join(variables) + " WHERE {\n" \
            + " .\n".join(f"{quote(s)} {p} {quote(o)}"
                          for s, p, o in patterns) \
            + (f" .\n{filter_text}" if filter_text else "") + "\n}"
        got = sorted(tuple(r) for r in sparql(g, text)
                     .select(*[v[1:] for v in variables]).collect())
        expect_df = bgp_match(g, patterns, filters=filters)
        expect_df = select_solutions(expect_df, distinct=distinct,
                                     project=[v[1:] for v in variables])
        expect = sorted(tuple(r) for r in expect_df.collect())
        assert got == expect, text

    run()


def test_graph_facade_text_query(spark, kg):
    from pyrdfa3_spark.graph import SparkGraph

    g = SparkGraph(kg)
    out = _rows(g.query(
        "SELECT ?n WHERE { \"a\" p:name ?n }"))
    assert out == [("Ada",)]
    with pytest.raises(ValueError, match="inline"):
        g.query("SELECT ?n WHERE { ?s p:name ?n }", filters=["1=1"])


def test_subquery_scalar_and_grouped(spark):
    """{ SELECT ... } evaluates independently and joins the enclosing
    group on shared variables; outer FILTERs may reference
    subquery-bound variables."""
    from pyrdfa3_spark.operators.sparql import sparql

    rows = [("urn:a", "urn:p:age", "3"), ("urn:b", "urn:p:age", "5"),
            ("urn:c", "urn:p:age", "5"), ("urn:a", "urn:p:knows", "urn:b"),
            ("urn:b", "urn:p:knows", "urn:c")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])

    got = sparql(t, """
        PREFIX p: <urn:p:>
        SELECT ?s ?n WHERE {
          ?s p:age ?n .
          { SELECT (MAX(?a) AS ?n) WHERE { ?x p:age ?a } }
        }""")
    assert sorted(map(tuple, got.collect())) == [
        ("urn:b", "5"), ("urn:c", "5")]

    got = sparql(t, """
        PREFIX p: <urn:p:>
        SELECT ?s ?who WHERE {
          ?s p:knows ?who .
          { SELECT ?who (COUNT(?y) AS ?c)
            WHERE { ?who p:knows ?y } GROUP BY ?who }
          FILTER(?c >= 1)
        }""")
    assert sorted(map(tuple, got.collect())) == [("urn:a", "urn:b")]

    # a group that IS a subquery (with inner modifiers)
    got = sparql(t, """
        SELECT ?s WHERE {
          { SELECT ?s WHERE { ?s <urn:p:age> ?a } ORDER BY ?s LIMIT 2 }
        }""")
    assert sorted(map(tuple, got.collect())) == [("urn:a",), ("urn:b",)]


def test_subquery_unsupported_shapes_raise(spark):
    import pytest

    from pyrdfa3_spark.operators.sparql import SparqlUnsupported, sparql

    t = spark.createDataFrame(
        [("urn:a", "urn:p:age", "3")], ["subj", "pred", "obj"])
    with pytest.raises(SparqlUnsupported):  # disjoint = cartesian
        sparql(t, """SELECT ?s WHERE {
            ?s <urn:p:age> ?a .
            { SELECT ?z WHERE { ?z <urn:p:knows> ?w } } }""")
    # subquery inside OPTIONAL solves as a full-group unit: the empty
    # subquery leaves the left row unmatched, not dropped
    out = _rows(sparql(t, """SELECT ?s WHERE {
        ?s <urn:p:age> ?a .
        OPTIONAL { { SELECT ?s WHERE { ?s <urn:p:x> ?y } } } }"""))
    assert out == [("urn:a",)]


def test_graph_clause(spark):
    """GRAPH <iri> scopes patterns to one named graph; GRAPH ?g binds
    provenance and ranges over NAMED graphs only (default-graph rows
    with NULL graph term are invisible inside GRAPH); a triple frame
    without a graph column raises."""
    import pytest

    from pyrdfa3_spark.operators.sparql import SparqlUnsupported, sparql

    quads = [("urn:a", "urn:p:name", "Ann", None),
             ("urn:a", "urn:p:age", "3", "urn:g:conv1"),
             ("urn:b", "urn:p:age", "5", "urn:g:conv2"),
             ("urn:a", "urn:p:age", "9", "urn:g:conv2")]
    t = spark.createDataFrame(quads, ["subj", "pred", "obj", "graph"])

    got = sparql(t, """PREFIX p: <urn:p:>
        SELECT ?s ?v ?g WHERE { GRAPH ?g { ?s p:age ?v } }""")
    assert sorted(map(tuple, got.collect())) == [
        ("urn:a", "3", "urn:g:conv1"), ("urn:a", "9", "urn:g:conv2"),
        ("urn:b", "5", "urn:g:conv2")]

    # default-graph name row is NOT inside any named graph
    got = sparql(t, """PREFIX p: <urn:p:>
        SELECT ?s ?n WHERE { GRAPH ?g { ?s p:name ?n } }""")
    assert got.count() == 0

    # plain pattern (whole store) + constant-graph scope conjoin on ?s
    got = sparql(t, """PREFIX p: <urn:p:>
        SELECT ?s ?n ?v WHERE {
          ?s p:name ?n . GRAPH <urn:g:conv2> { ?s p:age ?v } }""")
    assert sorted(map(tuple, got.collect())) == [("urn:a", "Ann", "9")]

    tri = spark.createDataFrame(
        [(s, p, o) for s, p, o, _ in quads], ["subj", "pred", "obj"])
    with pytest.raises(SparqlUnsupported):
        sparql(tri, "SELECT ?s WHERE { GRAPH ?g { ?s <urn:p:age> ?v } }")


def test_graph_scoped_full_group(spark):
    """GRAPH <iri> { full group }: the group solves recursively against
    the one named graph — OPTIONAL, FILTER, UNION, property paths and
    nested GRAPH all legal under a constant graph IRI."""
    import pytest

    from pyrdfa3_spark.operators.sparql import SparqlUnsupported, sparql

    rows = [("a", "p:knows", "b", "g1"), ("b", "p:knows", "c", "g1"),
            ("a", "p:name", "Ada", "g2"), ("b", "p:name", "Bob", "g2"),
            ("c", "p:name", "Cy", "g2"), ("a", "p:age", "41", "g2"),
            ("x", "p:top", "a", None)]
    q = spark.createDataFrame(rows, ["subj", "pred", "obj", "graph"])

    # OPTIONAL + FILTER under a constant graph
    got = sparql(q, """SELECT ?s ?n ?a WHERE {
        GRAPH <g2> { ?s p:name ?n OPTIONAL { ?s p:age ?a }
                     FILTER(STRLEN(?n) >= 3) } }""")
    assert sorted(map(tuple, got.collect())) == [
        ("a", "Ada", "41"), ("b", "Bob", None)]

    # property-path closure scoped to one graph (g2's edges invisible)
    got = sparql(q, "SELECT ?x ?y WHERE { GRAPH <g1> { ?x p:knows+ ?y } }")
    assert sorted(map(tuple, got.collect())) == [
        ("a", "b"), ("a", "c"), ("b", "c")]

    # UNION inside the scope, conjoined with an outer (default) pattern
    got = sparql(q, """SELECT ?s ?v WHERE {
        ?x p:top ?s .
        GRAPH <g2> { { ?s p:name ?v } UNION { ?s p:age ?v } } }""",
        union_default=False)
    assert sorted(map(tuple, got.collect())) == [("a", "41"), ("a", "Ada")]

    # nested GRAPH re-ranges over the full dataset from inside a scope
    got = sparql(q, """SELECT ?s ?n WHERE {
        GRAPH <g1> { ?s p:knows ?y GRAPH <g2> { ?s p:name ?n } } }""")
    assert sorted(map(tuple, got.collect())) == [("a", "Ada"), ("b", "Bob")]

    # GRAPH ?var keeps patterns+FILTERs (hoisted), refuses full groups
    got = sparql(q, """SELECT ?g ?s WHERE {
        GRAPH ?g { ?s p:name ?n FILTER(?n = "Bob") } }""")
    assert sorted(map(tuple, got.collect())) == [("g2", "b")]
    with pytest.raises(SparqlUnsupported, match="GRAPH .var"):
        sparql(q, """SELECT ?s WHERE {
            GRAPH ?g { ?s p:name ?n OPTIONAL { ?s p:age ?a } } }""")
    # a GRAPH-group FILTER reading an outer-only variable would change
    # meaning if hoisted (unbound -> type error inside the scope)
    with pytest.raises(SparqlUnsupported, match="outer"):
        sparql(q, """SELECT ?s WHERE {
            ?s p:age ?a GRAPH ?g { ?s p:name ?n FILTER(?a = "41") } }""")


def test_describe_variable_form(spark):
    """DESCRIBE ?x WHERE {...}: the solution set picks the resources,
    bnode objects recurse into the description; unbound variables
    raise."""
    import pytest

    from pyrdfa3_spark.operators.sparql import SparqlError, sparql

    rows = [("urn:a", "urn:p:type", "urn:T"),
            ("urn:b", "urn:p:type", "urn:U"),
            ("urn:a", "urn:p:val", "_:x1"),
            ("_:x1", "urn:p:inner", "42"),
            ("urn:b", "urn:p:val", "7")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = sparql(t, """PREFIX p: <urn:p:>
        DESCRIBE ?s WHERE { ?s p:type <urn:T> }""")
    assert sorted(map(tuple, got.collect())) == [
        ("_:x1", "urn:p:inner", "42"),
        ("urn:a", "urn:p:type", "urn:T"),
        ("urn:a", "urn:p:val", "_:x1")]
    with pytest.raises(SparqlError):
        sparql(t, """DESCRIBE ?z WHERE { ?s <urn:p:type> ?o }""")


def test_base_declaration(spark):
    """BASE resolves relative IRIs in query terms; absolute IRIs and
    PNAMEs are untouched."""
    from pyrdfa3_spark.operators.sparql import sparql

    rows = [("http://ex.org/a", "http://ex.org/p", "1"),
            ("urn:b", "http://ex.org/p", "2")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = sparql(t, """BASE <http://ex.org/>
        SELECT ?v WHERE { <a> <p> ?v }""")
    assert [tuple(r) for r in got.collect()] == [("1",)]
    got = sparql(t, """BASE <http://ex.org/>
        SELECT ?v WHERE { <urn:b> <p> ?v }""")
    assert [tuple(r) for r in got.collect()] == [("2",)]


def test_construct_where_shorthand(spark):
    """CONSTRUCT WHERE { ... } uses the pattern group as the template
    (filters permitted as an extension; OPTIONAL etc. raise)."""
    import pytest

    from pyrdfa3_spark.operators.sparql import SparqlUnsupported, sparql

    rows = [("urn:a", "urn:p:age", "3"), ("urn:b", "urn:p:age", "5")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = sparql(
        t, 'CONSTRUCT WHERE { ?s <urn:p:age> ?v . FILTER(?v > "3") }')
    assert [tuple(r)[:3] for r in got.collect()] == [
        ("urn:b", "urn:p:age", "5")]
    with pytest.raises(SparqlUnsupported):
        sparql(t, """CONSTRUCT WHERE {
            ?s <urn:p:age> ?v . OPTIONAL { ?s <urn:p:x> ?y } }""")


def test_expression_function_set(spark):
    """The widened FILTER/BIND builtin set: STRBEFORE/STRAFTER ('' on
    missing needle per spec), CONCAT/COALESCE/SUBSTR/REPLACE/IF
    variadics with arity checks, date accessors, hashes."""
    import pytest

    from pyrdfa3_spark.operators.sparql import SparqlError, sparql

    rows = [("urn:a", "urn:p:v", "hello-world"),
            ("urn:b", "urn:p:v", "solo"),
            ("urn:c", "urn:p:ts", "2026-03-15T10:30:45")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])

    def run(text):
        return sorted(map(tuple, sparql(t, text).collect()))

    assert run('SELECT ?s ?b WHERE { ?s <urn:p:v> ?v . '
               'BIND(STRBEFORE(?v, "-") AS ?b) }') == [
        ("urn:a", "hello"), ("urn:b", "")]
    assert run('SELECT ?s ?a WHERE { ?s <urn:p:v> ?v . '
               'BIND(STRAFTER(?v, "-") AS ?a) }') == [
        ("urn:a", "world"), ("urn:b", "")]
    assert run('SELECT ?s ?c WHERE { ?s <urn:p:v> ?v . '
               'BIND(CONCAT(?v, "!") AS ?c) }') == [
        ("urn:a", "hello-world!"), ("urn:b", "solo!")]
    assert run('SELECT ?y ?mi WHERE { ?s <urn:p:ts> ?v . '
               'BIND(YEAR(?v) AS ?y) BIND(MINUTES(?v) AS ?mi) }') == [
        (2026, 30)]
    assert run('SELECT ?s ?r WHERE { ?s <urn:p:v> ?v . '
               'BIND(REPLACE(?v, "l+", "L") AS ?r) }') == [
        ("urn:a", "heLo-worLd"), ("urn:b", "soLo")]
    assert run('SELECT ?s WHERE { ?s <urn:p:v> ?v . '
               'FILTER(SUBSTR(?v, 1, 4) = IF(true, "hell", "x")) }') == [
        ("urn:a",)]
    with pytest.raises(SparqlError):
        sparql(t, 'SELECT ?s WHERE { ?s <urn:p:v> ?v . '
                  'FILTER(SUBSTR(?v) = "x") }')


def test_nested_property_paths(spark):
    """Nested paths materialize bottom-up: (p1/p2)+, ^(p1/p2),
    (p1/p2)*, closure over an alternative; variable-path raises."""
    import pytest

    from pyrdfa3_spark.operators.sparql import SparqlUnsupported, sparql

    rows = [("a", "p1", "b"), ("b", "p2", "c"), ("c", "p1", "d"),
            ("d", "p2", "e"), ("x", "p3", "y")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])

    def run(text):
        return sorted(map(tuple, sparql(t, text).collect()))

    assert run("SELECT ?s ?o WHERE { ?s (<p1>/<p2>)+ ?o }") == [
        ("a", "c"), ("a", "e"), ("c", "e")]
    assert run("SELECT ?s ?o WHERE { ?s ^(<p1>/<p2>) ?o }") == [
        ("c", "a"), ("e", "c")]
    assert run("SELECT ?o WHERE { <a> (<p1>/<p2>)* ?o }") == [
        ("a",), ("c",), ("e",)]
    assert run("SELECT ?s ?o WHERE { ?s (<p1>|<p3>)+ ?o }") == [
        ("a", "b"), ("c", "d"), ("x", "y")]
    with pytest.raises(SparqlUnsupported):
        sparql(t, "SELECT ?s WHERE { ?s (?v)+ ?o }")


def test_exotic_property_paths(spark):
    """Grammar/semantics corners: 'a' inside paths and negated sets,
    inverse-of-sequence, inverse applied to a modified step, double
    inverse, mixed-direction negated sets, ?-in-sequence."""
    from pyrdfa3_spark.operators.sparql import sparql

    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [("a", "p:knows", "b"), ("b", "p:knows", "c"),
            ("a", "p:name", "Ada"), ("b", "p:name", "Bob"),
            ("c", "p:likes", "a"), ("a", rdf_type, "Person")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])

    def run(text):
        return sorted(map(tuple, sparql(t, text).collect()))

    # inverse of a parenthesized sequence
    assert run('SELECT ?x WHERE { "c" ^(p:knows/p:knows) ?x }') == [
        ("a",)]
    # closure over an alternative
    assert run('SELECT DISTINCT ?z WHERE { "a" (p:knows|p:likes)+ ?z }'
               ) == [("a",), ("b",), ("c",)]
    # zero-or-one step inside a sequence
    assert run('SELECT DISTINCT ?n WHERE { "a" p:knows?/p:name ?n }'
               ) == [("Ada",), ("Bob",)]
    # 'a' keyword as a path step, in a sequence, and in a negated set
    assert run('SELECT ?t WHERE { "a" a ?t }') == [("Person",)]
    assert run('SELECT ?t WHERE { "b" ^p:knows/a ?t }') == [("Person",)]
    assert run('SELECT ?o WHERE { "a" !(a|p:name) ?o }') == [("b",)]
    # mixed forward/inverse negated set: every edge at "a" excluded
    assert run('SELECT ?o WHERE '
               '{ "a" !(^p:likes|p:knows|p:name|a) ?o }') == []
    # inverse applied to a modified step ^p* ≡ (^p)*
    assert run('SELECT DISTINCT ?z WHERE { "c" ^p:knows* ?z }') == [
        ("a",), ("b",), ("c",)]
    assert run('SELECT DISTINCT ?z WHERE { "c" (^p:knows)+ ?z }') == [
        ("a",), ("b",)]
    # double inverse cancels
    assert run('SELECT ?z WHERE { "a" ^(^p:knows) ?z }') == [("b",)]
    # zero-length star binds ?x to itself on both-var patterns
    assert run('SELECT ?x ?z WHERE '
               '{ ?x p:knows* ?z . ?x p:name "Ada" }') == [
        ("a", "a"), ("a", "b"), ("a", "c")]


# ------------------------------------------------------------------ #
# SPARQL 1.1 UPDATE
# ------------------------------------------------------------------ #

def test_update_data_forms(kg):
    """INSERT DATA / DELETE DATA: ground deltas with set semantics
    (re-inserting an existing triple is a no-op, deleting an absent
    one too), ';'-sequences, CLEAR."""
    from pyrdfa3_spark.operators.sparql import update

    out = update(kg, """
        INSERT DATA { <d> p:name "Dee" . <d> p:type "Person" } ;
        DELETE DATA { <b> p:name "Bobby" . <zz> p:absent "x" }
    """)
    rows = set(map(tuple, out.collect()))
    assert ("d", "p:name", "Dee") in rows
    assert ("d", "p:type", "Person") in rows
    assert ("b", "p:name", "Bobby") not in rows
    assert len(rows) == 8 + 2 - 1

    # set semantics: inserting a triple already present adds nothing
    again = update(kg, 'INSERT DATA { <a> p:name "Ada" }')
    assert again.count() == kg.count()

    assert update(kg, "CLEAR ALL").count() == 0
    assert update(kg, "CLEAR DEFAULT ; INSERT DATA { <x> <p:p> <y> }"
                  ).collect() == [("x", "p:p", "y")]


def test_update_modify_where(kg):
    """DELETE { } INSERT { } WHERE { }: both templates instantiate
    against the PRE-update solutions; OPTIONAL nulls skip template
    rows (the incomplete-triple rule); DELETE WHERE shorthand."""
    from pyrdfa3_spark.operators.sparql import update

    out = update(kg, """
        DELETE { ?x p:name ?n }
        INSERT { ?x p:renamed ?n . ?x p:flag "seen" }
        WHERE  { ?x p:type "Person" . OPTIONAL { ?x p:name ?n } }
    """)
    rows = set(map(tuple, out.collect()))
    # a and b renamed (b twice); c keeps p:knows; both flagged
    assert ("a", "p:renamed", "Ada") in rows
    assert ("b", "p:renamed", "Bobby") in rows
    assert ("a", "p:flag", "seen") in rows and ("b", "p:flag", "seen") in rows
    assert not any(p == "p:name" for _, p, _ in rows)
    assert ("c", "p:knows", "c") in rows

    # DELETE WHERE: the pattern group doubles as the template
    out = update(kg, "DELETE WHERE { ?x p:knows ?y . ?x p:name ?n }")
    rows = set(map(tuple, out.collect()))
    assert not any(s in ("a", "b") and p in ("p:knows", "p:name")
                   for s, p, _ in rows)
    assert ("c", "p:knows", "c") in rows  # c has no p:name: unmatched

    # INSERT-only WHERE with a property path
    out = update(kg, """
        INSERT { ?x p:reach ?y } WHERE { ?x <p:knows>+ ?y }
    """)
    assert ("a", "p:reach", "c") in set(map(tuple, out.collect()))


def test_update_parse_errors(kg):
    from pyrdfa3_spark.operators.sparql import (
        parse_update, update)

    for bad, exc in [
        ('INSERT DATA { ?v <p:p> "x" }', SparqlError),     # var in DATA
        ("CLEAR GRAPH ?g", SparqlError),  # graph refs must be ground
        ("ADD <g1> <g2>", SparqlError),   # missing TO
        ("DELETE { ?s <p>+ ?o } WHERE { ?s <p> ?o }", SparqlUnsupported),
        ("INSERT DATA { <a> <p:p> <b> } extra", SparqlError),
        ("FROB ALL", SparqlError),
    ]:
        with pytest.raises(exc):
            parse_update(bad)
    # GRAPH inside a modify WHERE needs a quad frame (kg is 3-column)
    with pytest.raises(SparqlError):
        update(kg, 'DELETE { ?s ?p ?o } WHERE '
                   '{ GRAPH ?g { ?s ?p ?o } }')
    # quadless frame
    with pytest.raises(SparqlError):
        update(kg.select("subj", "pred"), "CLEAR ALL")


def test_update_graph_facade(spark):
    from pyrdfa3_spark.graph import SparkGraph

    g = SparkGraph.empty(spark).update(
        'INSERT DATA { <s> <p> "o1", "o2" }')
    assert len(g) == 2
    assert ("s", "p", "o1") in g


def test_update_quad_store(spark):
    """Quad-frame UPDATE: graph-management verbs as column ops, GRAPH
    blocks in DATA with null-safe default-graph joins, WITH-scoped
    modify touching exactly one graph's slice."""
    from pyrdfa3_spark.operators.sparql import update

    q = spark.createDataFrame(
        [("s1", "p", "o1", None), ("s2", "p", "o2", "urn:g1"),
         ("s3", "p", "o3", "urn:g1"), ("s2", "p", "o2", "urn:g2"),
         ("s4", "p", "o4", "urn:g2")],
        "subj string, pred string, obj string, graph string")

    def rows(df):
        return sorted((r["subj"], r["graph"] or "") for r in df.collect())

    # CLEAR GRAPH keeps the NULL-graph rows (three-valued logic)
    assert rows(update(q, "CLEAR GRAPH <urn:g1>")) == [
        ("s1", ""), ("s2", "urn:g2"), ("s4", "urn:g2")]
    assert rows(update(q, "CLEAR NAMED")) == [("s1", "")]
    assert ("s1", "") not in rows(update(q, "DROP SILENT DEFAULT"))

    # ADD unions with set semantics (s2/o2 already in g2)
    added = rows(update(q, "ADD <urn:g1> TO <urn:g2>"))
    assert added.count(("s2", "urn:g2")) == 1
    assert ("s3", "urn:g2") in added and ("s3", "urn:g1") in added

    # COPY replaces dst wholesale; MOVE also drops src; self-op no-op
    assert rows(update(q, "COPY DEFAULT TO <urn:g2>")) == [
        ("s1", ""), ("s1", "urn:g2"), ("s2", "urn:g1"), ("s3", "urn:g1")]
    assert rows(update(q, "MOVE <urn:g1> TO DEFAULT")) == [
        ("s2", ""), ("s2", "urn:g2"), ("s3", ""), ("s4", "urn:g2")]
    assert update(q, "ADD <urn:g1> TO <urn:g1>").count() == q.count()
    assert update(q, "CREATE GRAPH <urn:gX>").count() == q.count()

    # DATA with GRAPH blocks: deletes hit the named graph AND the
    # default graph (null-safe anti-join)
    out = update(q, '''
      DELETE DATA { <s1> <p> "o1" . GRAPH <urn:g1> { <s2> <p> "o2" } } ;
      INSERT DATA { GRAPH <urn:g3> { <s9> <p> "o9" } . <s0> <p> "o0" }
    ''')
    assert rows(out) == [("s0", ""), ("s2", "urn:g2"), ("s3", "urn:g1"),
                         ("s4", "urn:g2"), ("s9", "urn:g3")]

    # WITH scopes both the match and the templates to one graph
    out = update(q, 'WITH <urn:g1> DELETE { ?s <p> ?o } '
                    'INSERT { ?s <q> "new" } WHERE { ?s <p> ?o }')
    got = sorted((r["subj"], r["pred"], r["graph"] or "")
                 for r in out.collect())
    assert got == [("s1", "p", ""), ("s2", "p", "urn:g2"),
                   ("s2", "q", "urn:g1"), ("s3", "q", "urn:g1"),
                   ("s4", "p", "urn:g2")]

    # an un-WITH'd modify touches only the default graph
    assert rows(update(q, "DELETE WHERE { ?s <p> ?o }")) == [
        ("s2", "urn:g1"), ("s2", "urn:g2"), ("s3", "urn:g1"),
        ("s4", "urn:g2")]

    # quad-only verbs raise on a plain triple frame
    t = q.select("subj", "pred", "obj")
    for bad in ["CLEAR NAMED", "ADD <a> TO <b>",
                'INSERT DATA { GRAPH <g> { <s> <p> "o" } }',
                'WITH <g> DELETE { ?s ?p ?o } WHERE { ?s ?p ?o }']:
        with pytest.raises(SparqlError):
            update(t, bad)


def test_dataset_clauses(spark):
    """FROM / FROM NAMED (§13.2-13.3): FROM graphs merge into the
    default graph, GRAPH ranges over exactly the FROM NAMED set, and
    with any dataset clause present the split is strict — plain
    patterns stop seeing the rest of the store."""
    from pyrdfa3_spark.operators.sparql import sparql

    q = spark.createDataFrame(
        [("s1", "p", "o1", None), ("s2", "p", "o2", "urn:g1"),
         ("s3", "p", "o3", "urn:g1"), ("s4", "p", "o4", "urn:g2"),
         ("s5", "p", "o5", "urn:g3")],
        "subj string, pred string, obj string, graph string")

    def run(text, t=q):
        return sorted(map(tuple, sparql(t, text).collect()))

    assert run("SELECT ?s FROM <urn:g1> FROM <urn:g2> "
               "WHERE { ?s <p> ?o }") == [("s2",), ("s3",), ("s4",)]
    # strict: the default-graph row s1 and graphs outside FROM vanish
    assert run("SELECT ?s FROM <urn:g3> WHERE { ?s <p> ?o }") == [
        ("s5",)]
    # FROM NAMED alone: plain patterns see an EMPTY default graph
    assert run("SELECT ?g ?s FROM NAMED <urn:g1> "
               "WHERE { GRAPH ?g { ?s <p> ?o } }") == [
        ("urn:g1", "s2"), ("urn:g1", "s3")]
    assert run("SELECT ?s FROM NAMED <urn:g1> "
               "WHERE { ?s <p> ?o }") == []
    # GRAPH cannot reach graphs outside FROM NAMED
    assert run("SELECT ?s FROM <urn:g1> FROM NAMED <urn:g2> "
               "WHERE { GRAPH <urn:g3> { ?s <p> ?o } }") == []
    # every form takes a dataset clause
    assert run("ASK FROM <urn:g3> { <s5> <p> ?o }") == [(True,)]
    assert run("CONSTRUCT { ?s <q> ?o } FROM <urn:g2> "
               "WHERE { ?s <p> ?o }") == [("s4", "q", "o4")]
    # no dataset clause: the union posture is unchanged
    assert len(run("SELECT ?s WHERE { ?s <p> ?o }")) == 5

    t3 = q.select("subj", "pred", "obj")
    with pytest.raises(SparqlUnsupported):
        sparql(t3, "SELECT ?s FROM <g> WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlUnsupported):
        sparql(q, "SELECT ?s WHERE { { SELECT ?s FROM <g> WHERE "
                  "{ ?s ?p ?o } } . ?s <p> ?o }")
    # CONSTRUCT solves the full group grammar: GRAPH ranges over the
    # store's named graphs (default-graph rows invisible inside it)
    got = sorted(tuple(r) for r in sparql(
        q, "CONSTRUCT { ?s <q> ?o } WHERE "
           "{ GRAPH ?g { ?s <p> ?o } }").collect())
    assert got == [("s2", "q", "o2"), ("s3", "q", "o3"),
                   ("s4", "q", "o4"), ("s5", "q", "o5")]


def test_dataset_review_regressions(spark):
    """Round-2 review fixes: FROM-merge set semantics, optional WHERE
    keyword on ASK/CONSTRUCT, DESCRIBE's 3-column contract under FROM,
    and the pre-template CONSTRUCT FROM misparse."""
    from pyrdfa3_spark.operators.sparql import sparql

    q = spark.createDataFrame(
        [("s", "p", "o", "urn:g1"), ("s", "p", "o", "urn:g2"),
         ("s", "p", "o2", "urn:g2"), ("n", "p:a", "leaf", "urn:g1")],
        "subj string, pred string, obj string, graph string")

    # a triple in BOTH FROM graphs appears once (RDF merge = set union)
    out = sparql(q, "SELECT (COUNT(*) AS ?n) FROM <urn:g1> "
                    "FROM <urn:g2> WHERE { <s> <p> ?o }")
    assert out.collect()[0]["n"] == 2

    # WhereClause 'WHERE' keyword is optional everywhere
    assert sparql(q, "ASK WHERE { GRAPH ?g { ?s <p> ?o } }"
                  ).collect()[0]["result"]
    t = q.select("subj", "pred", "obj")
    assert sparql(t, "CONSTRUCT { ?s <q> ?o } { ?s <p> ?o }"
                  ).count() == 2

    # DESCRIBE under FROM keeps the triple-frame contract
    out = sparql(q, "DESCRIBE <n> FROM <urn:g1>")
    assert out.columns == ["subj", "pred", "obj"]
    assert out.count() == 1

    # dataset clauses cannot precede the template (grammar position)
    with pytest.raises(SparqlError):
        parse("CONSTRUCT FROM <g> { ?s <p> ?o } WHERE { ?s <p> ?o }")


def test_update_using_clause(spark):
    """USING <g>: the modify's WHERE matches the USING merge while the
    templates still target the WITH/default graph — the
    derive-into-another-graph idiom."""
    from pyrdfa3_spark.operators.sparql import parse_update, update

    q = spark.createDataFrame(
        [("s1", "p", "o1", "urn:src1"), ("s2", "p", "o2", "urn:src2"),
         ("s3", "p", "o3", None)],
        "subj string, pred string, obj string, graph string")

    # match src graphs, insert into the default graph
    out = update(q, "INSERT { ?s <derived> ?o } "
                    "USING <urn:src1> USING <urn:src2> "
                    "WHERE { ?s <p> ?o }")
    got = sorted((r["subj"], r["pred"], r["graph"] or "")
                 for r in out.collect() if r["pred"] == "derived")
    assert got == [("s1", "derived", ""), ("s2", "derived", "")]

    # WITH sets the template target, USING the match source
    out = update(q, "WITH <urn:dst> INSERT { ?s <derived> ?o } "
                    "USING <urn:src1> WHERE { ?s <p> ?o }")
    got = [(r["subj"], r["graph"]) for r in out.collect()
           if r["pred"] == "derived"]
    assert got == [("s1", "urn:dst")]

    # duplicate triples across USING graphs merge as a set
    q2 = spark.createDataFrame(
        [("s", "p", "o", "urn:a"), ("s", "p", "o", "urn:b")],
        "subj string, pred string, obj string, graph string")
    out = update(q2, "INSERT { ?s <d> ?o } USING <urn:a> "
                     "USING <urn:b> WHERE { ?s <p> ?o }")
    assert out.filter("pred = 'd'").count() == 1

    # USING NAMED parses (semantics covered in
    # test_update_using_named)
    ops = parse_update("INSERT { ?s <d> ?o } USING NAMED <urn:a> "
                       "WHERE { GRAPH ?g { ?s <p> ?o } }")
    assert ops[0]["using_named"] == ["urn:a"]
    with pytest.raises(SparqlError):
        update(q.select("subj", "pred", "obj"),
               "INSERT { ?s <d> ?o } USING <urn:a> WHERE { ?s <p> ?o }")


def test_projection_expressions(kg):
    """(expr AS ?v) in the SELECT clause — the non-aggregate
    counterpart of (AGG(?x) AS ?a), translated exactly like
    FILTER/BIND expressions and projected in clause order."""
    from pyrdfa3_spark.operators.sparql import sparql

    out = _rows(sparql(kg, """
        SELECT ?x (STRLEN(?n) AS ?len) (UCASE(?n) AS ?up)
        WHERE { ?x p:name ?n } ORDER BY ?x ?len"""))
    assert out == [("a", 3, "ADA"), ("b", 3, "BOB"), ("b", 5, "BOBBY")]

    out = _rows(sparql(kg, """
        SELECT (CONCAT(?n, "!") AS ?bang) WHERE { "a" p:name ?n }"""))
    assert out == [("Ada!",)]

    # arithmetic without a leading function name
    out = _rows(sparql(kg, """
        SELECT ?x (STRLEN(?n) * 2 + 1 AS ?odd)
        WHERE { ?x p:name ?n . FILTER(?n = "Ada") }"""))
    assert out == [("a", 7)]

    # an expression over a variable that does not survive aggregation
    # is invalid SPARQL (§18.2.4.4) — clean error, not a plan crash
    with pytest.raises(SparqlError, match="not visible after"):
        sparql(kg, """SELECT (STRLEN(?n) AS ?l) (COUNT(?n) AS ?c)
                      WHERE { ?x p:name ?n } GROUP BY ?x""")


def test_update_matches_model_differential(spark):
    """Property test for UPDATE: random ';'-sequences of ground and
    template operations run BOTH through update() and through a pure
    python set-of-quads model — any parser or executor divergence
    (null-graph joins, set semantics, pre-state template evaluation)
    shows up as a quad-set diff."""
    import os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyrdfa3_spark.operators.sparql import update

    subjects = [f"s{i}" for i in range(4)]
    objects = ["o1", "o2"]
    graphs = [None, "urn:g1", "urn:g2"]
    base = sorted({(subjects[(i * 5 + j) % 4], "p",
                    objects[(i + j) % 2], graphs[(i * 3 + j) % 3])
                   for i in range(4) for j in range(3)},
                  key=lambda q: tuple(x or "" for x in q))

    def term(x):
        return f"<{x}>" if not x.startswith("o") else f'"{x}"'

    def model_apply(quads, op):
        kind = op[0]
        if kind == "insert_data":
            return quads | {op[1]}
        if kind == "delete_data":
            return quads - {op[1]}
        if kind == "clear_graph":
            return {q for q in quads if q[3] != op[1]}
        if kind == "move":
            src, dst = op[1], op[2]
            if src == dst:
                return quads
            moved = {(s, p, o, dst) for s, p, o, g in quads if g == src}
            return {q for q in quads
                    if q[3] not in (src, dst)} | moved
        if kind == "modify":  # delete+insert on the default graph
            obj = op[1]
            sols = [(s, o) for s, p, o, g in quads
                    if g is None and o == obj]
            dels = {(s, "p", o, None) for s, o in sols}
            ins = {(s, "q", o, None) for s, o in sols}
            return (quads - dels) | ins
        if kind == "with_modify":  # scoped to one named graph
            gname, obj = op[1], op[2]
            sols = [(s, o) for s, p, o, g in quads
                    if g == gname and o == obj]
            dels = {(s, "p", o, gname) for s, o in sols}
            ins = {(s, "q", o, gname) for s, o in sols}
            return (quads - dels) | ins
        raise AssertionError(kind)

    def render(op):
        kind = op[0]
        if kind == "insert_data":
            s, p, o, g = op[1]
            stmt = f"{term(s)} <p> {term(o)}"
            body = f"GRAPH <{g}> {{ {stmt} }}" if g else stmt
            return f"INSERT DATA {{ {body} }}"
        if kind == "delete_data":
            s, p, o, g = op[1]
            stmt = f"{term(s)} <p> {term(o)}"
            body = f"GRAPH <{g}> {{ {stmt} }}" if g else stmt
            return f"DELETE DATA {{ {body} }}"
        if kind == "clear_graph":
            return f"CLEAR GRAPH <{op[1]}>"
        if kind == "move":
            return f"MOVE <{op[1]}> TO <{op[2]}>"
        if kind == "with_modify":
            return (f'WITH <{op[1]}> DELETE {{ ?s <p> "{op[2]}" }} '
                    f'INSERT {{ ?s <q> "{op[2]}" }} '
                    f'WHERE {{ ?s <p> "{op[2]}" }}')
        return (f'DELETE {{ ?s <p> "{op[1]}" }} '
                f'INSERT {{ ?s <q> "{op[1]}" }} '
                f'WHERE {{ ?s <p> "{op[1]}" }}')

    quad_st = st.tuples(st.sampled_from(subjects), st.just("p"),
                        st.sampled_from(objects),
                        st.sampled_from(graphs))
    op_st = st.one_of(
        st.tuples(st.just("insert_data"), quad_st),
        st.tuples(st.just("delete_data"), quad_st),
        st.tuples(st.just("clear_graph"),
                  st.sampled_from(["urn:g1", "urn:g2"])),
        st.tuples(st.just("move"), st.sampled_from(["urn:g1", "urn:g2"]),
                  st.sampled_from(["urn:g1", "urn:g2"])),
        st.tuples(st.just("modify"), st.sampled_from(objects)),
        st.tuples(st.just("with_modify"),
                  st.sampled_from(["urn:g1", "urn:g2"]),
                  st.sampled_from(objects)),
    )

    df = spark.createDataFrame(
        base, "subj string, pred string, obj string, graph string")

    @settings(max_examples=int(os.environ.get("SPARQL_EXAMPLES", "15")),
              derandomize=os.environ.get("PARITY_RANDOM") is None,
              deadline=None)
    @given(ops=st.lists(op_st, min_size=1, max_size=4))
    def run(ops):
        text = " ;\n".join(render(op) for op in ops)
        got = {(r["subj"], r["pred"], r["obj"], r["graph"])
               for r in update(df, text).collect()}
        want = set(base)
        for op in ops:
            want = model_apply(want, op)
        assert got == want, (text, got ^ want)

    run()


def test_optional_group_semantics(kg):
    """A multi-pattern OPTIONAL (with FILTER) matches as a UNIT: if
    any pattern or the filter fails, ALL its bindings stay NULL —
    previously each pattern left-joined independently."""
    from pyrdfa3_spark.operators.sparql import sparql

    out = _rows(sparql(kg, """
        SELECT ?x ?y ?n WHERE {
          ?x p:type "Person" .
          OPTIONAL { ?x p:knows ?y . ?y p:name ?n }
        } ORDER BY ?x ?n"""))
    # a knows b (named twice); b knows c but c has NO name -> the
    # whole group fails for b: both ?y and ?n null
    assert out == [("a", "b", "Bob"), ("a", "b", "Bobby"),
                   ("b", None, None)]

    out = _rows(sparql(kg, """
        SELECT ?x ?n WHERE {
          ?x p:type "Person" .
          OPTIONAL { ?x p:name ?n . FILTER(STRLEN(?n) > 3) }
        } ORDER BY ?x ?n"""))
    # Ada/Bob fail the filter -> null; only Bobby survives for b
    assert out == [("a", None), ("b", "Bobby")]


def test_bnode_pattern_syntax(kg):
    """[ p o ; ... ] blank-node syntax in triples blocks: a query
    bnode is an existential — a fresh scoped variable — with the
    bracketed property list emitted as extra patterns; in DATA blocks
    it denotes a fresh blank node instead."""
    from pyrdfa3_spark.operators.sparql import sparql, update

    def run(t):
        return sorted(map(tuple, sparql(kg, t).collect()))

    assert run('SELECT ?x WHERE '
               '{ ?x p:knows [ p:name "Bob" ; p:type "Person" ] }') \
        == [("a",)]
    assert run('SELECT ?n WHERE '
               '{ [ p:knows ?y ] p:name ?n . ?y p:name "Bobby" }') \
        == [("Ada",)]
    # standalone bnode-subject statement
    assert run('SELECT ?n WHERE '
               '{ [ p:name ?n ; p:type "Person" ] . }') \
        == [("Ada",), ("Bob",), ("Bobby",)]
    # nested bnodes and bare [] (fresh variable each time); bag
    # semantics: b carries two names, so the existential matches twice
    assert run('SELECT ?x WHERE { ?x p:knows [ p:name [ ] ] }') \
        == [("a",), ("a",)]
    assert len(run("SELECT ?s WHERE { ?s p:type [] }")) == 2

    # INSERT DATA: [..] makes a fresh (uuid-salted) blank node
    out = update(kg, 'INSERT DATA { [ <p:new> "v" ] }')
    rows = [(r["subj"], r["obj"]) for r in out.collect()
            if r["pred"] == "p:new"]
    assert len(rows) == 1 and rows[0][1] == "v"
    assert rows[0][0].startswith("_:b")


def test_aggregate_expressions(kg):
    """Expression arguments inside aggregates: SUM/AVG/COUNT/
    GROUP_CONCAT over computed values, bound as synthetic columns
    before the one-shuffle aggregation."""
    from pyrdfa3_spark.operators.sparql import sparql

    out = _rows(sparql(kg, """
        SELECT ?x (SUM(STRLEN(?n)) AS ?chars)
        WHERE { ?x p:name ?n } GROUP BY ?x ORDER BY ?x"""))
    assert out == [("a", 3), ("b", 8)]

    out = _rows(sparql(kg, """
        SELECT (COUNT(STRLEN(?n)) AS ?c) WHERE { ?x p:name ?n }"""))
    assert out == [(3,)]

    out = _rows(sparql(kg, """
        SELECT ?x (GROUP_CONCAT(UCASE(?n); SEPARATOR="|") AS ?ns)
        WHERE { ?x p:name ?n } GROUP BY ?x ORDER BY ?x"""))
    assert out == [("a", "ADA"), ("b", "BOB|BOBBY")]

    # plain-variable arguments still work unchanged
    out = _rows(sparql(kg, """
        SELECT (MIN(?n) AS ?first) WHERE { ?x p:name ?n }"""))
    assert out == [("Ada",)]


def test_bnode_syntax_review_regressions(kg, spark):
    """Round-2 review fixes for the [..] feature's leaks: fresh
    cross-call DATA bnodes, no existentials in SELECT * or templates,
    DELETE DATA rejects bnodes, ?_anon* names are reserved, and
    OPTIONAL edge groups degrade cleanly."""
    from pyrdfa3_spark.operators.sparql import sparql, update

    # INSERT DATA bnodes are fresh across calls — labels never collide
    g2 = update(kg, 'INSERT DATA { [ <p:new> "v1" ] }')
    g3 = update(g2, 'INSERT DATA { [ <p:new> "v2" ] }')
    subs = [r["subj"] for r in g3.collect() if r["pred"] == "p:new"]
    assert len(subs) == 2 and len(set(subs)) == 2
    assert all(s.startswith("_:b") for s in subs)

    # SELECT * never projects the [..] existential columns
    out = sparql(kg, 'SELECT * WHERE { ?x p:knows [ p:name "Bob" ] }')
    assert out.columns == ["x"]
    # a query binding ONLY existentials has nothing to project
    with pytest.raises(SparqlError):
        sparql(kg, 'SELECT * WHERE { [ p:knows "b" ] . }')

    # DELETE DATA forbids blank nodes (QuadData grammar)
    with pytest.raises(SparqlError):
        update(kg, 'DELETE DATA { [ <p:new> "v1" ] }')

    # template [..] mints a FRESH bnode per solution (§16.2.1) —
    # fuller coverage in test_template_bnode_minting
    out = sparql(kg, 'CONSTRUCT { ?x <p:q> [ ] } '
                     'WHERE { ?x p:type "Person" }')
    objs = [r["obj"] for r in out.collect()]
    assert len(objs) == len(set(objs)) > 0
    assert all(o.startswith("_:m") for o in objs)
    # ... the DELETE-template grammar has no blank nodes
    with pytest.raises(SparqlError):
        update(kg, 'DELETE { ?x <p:q> [ ] } '
                   'WHERE { ?x p:type "Person" }')
    # ... but DELETE WHERE keeps them (pure wildcard patterns)
    out = update(kg, "DELETE WHERE { [ p:name ?n ] . }")
    assert not any(r["pred"] == "p:name" for r in out.collect())

    # the generated namespace is reserved
    with pytest.raises(SparqlError):
        sparql(kg, "SELECT ?x ?_anon1 WHERE "
                   "{ ?x p:knows [ p:name ?_anon1 ] }")

    # OPTIONAL {} and FILTER-only OPTIONAL are §6.1 no-ops (the unit
    # solution keeps every left row whether the filter passes or not)
    assert sparql(kg, 'SELECT ?x WHERE { ?x p:type "Person" . '
                      'OPTIONAL { } }').count() == 2
    assert sparql(kg, 'SELECT ?x WHERE { ?x p:type "Person" . '
                      'OPTIONAL { FILTER(1 > 0) } }').count() == 2
    assert sparql(kg, 'SELECT ?x WHERE { ?x p:type "Person" . '
                      'OPTIONAL { FILTER(1 > 2) } }').count() == 2


def test_optional_filter_over_merged_domain(kg):
    """§6.1: an OPTIONAL FILTER reading an outer variable evaluates
    over the MERGED solution — a matched row that fails it reverts to
    UNMATCHED (NULL bindings), it does not disappear."""
    out = sorted(_rows(sparql(kg, """SELECT ?x ?y WHERE {
        ?x p:name ?n .
        OPTIONAL { ?x p:knows ?y . FILTER(STRLEN(?n) > 3) } }""")),
        key=lambda r: (r[0], r[1] or ""))
    # Ada(3) and Bob(3) fail the merged filter -> unmatched;
    # Bobby(5) passes -> b's knows-edge to c survives
    assert out == [("a", None), ("b", None), ("b", "c")]


def test_turtle_bool_prefix_with_dot():
    from pyrdfa3_spark.functions.turtle import parse_turtle

    assert parse_turtle(
        "@prefix true.x: <urn:t:> . true.x:a <urn:p> true.x:b .") == [
        ("urn:t:a", "urn:p", "urn:t:b")]
    [(_, _, o)] = parse_turtle("<urn:s> <urn:p> true .")
    assert o.datatype.endswith("boolean")


def test_isblank_sameterm_builtins(spark):
    from pyrdfa3_spark.operators.sparql import sparql

    t = spark.createDataFrame(
        [("_:b1", "p", "x"), ("urn:s", "p", "x"), ("urn:s", "q", "_:b1")],
        ["subj", "pred", "obj"])
    out = sorted(map(tuple, sparql(
        t, "SELECT ?s WHERE { ?s <p> ?o . FILTER(ISBLANK(?s)) }"
    ).collect()))
    assert out == [("_:b1",)]
    out = sorted(map(tuple, sparql(
        t, "SELECT ?s ?o WHERE { ?s ?p ?o . "
           "FILTER(SAMETERM(?o, \"x\")) }").collect()))
    assert out == [("_:b1", "x"), ("urn:s", "x")]


def test_optional_group_with_path(spark):
    """Property paths compose inside OPTIONAL groups (the dict
    rewrite in _expand_paths covers group patterns)."""
    from pyrdfa3_spark.operators.sparql import sparql

    kg = spark.createDataFrame(
        [("a", "up", "b"), ("b", "up", "c"), ("a", "name", "A"),
         ("d", "name", "D")], ["subj", "pred", "obj"])
    out = sorted(map(tuple, sparql(kg, """
      SELECT ?x ?top WHERE { ?x <name> ?n .
        OPTIONAL { ?x <up>+ ?top . FILTER(?top = "c") } }
    """).collect()))
    assert out == [("a", "c"), ("d", None)]


def test_builtin_review_regressions(spark):
    """SAMETERM propagates NULL (unbound => FILTER drops, per spec's
    type-error rule) and fixed-arity builtins reject wrong arity."""
    from pyrdfa3_spark.operators.sparql import sparql

    t = spark.createDataFrame(
        [("s1", "p", "x"), ("s1", "q", "x"), ("s2", "p", "y")],
        ["subj", "pred", "obj"])
    out = sorted(map(tuple, sparql(t, """
        SELECT ?s WHERE { ?s <p> ?a . OPTIONAL { ?s <q> ?b }
                          FILTER(SAMETERM(?a, ?b)) }""").collect()))
    assert out == [("s1",)]  # s2's ?b is unbound: dropped, not kept

    with pytest.raises(SparqlError):
        sparql(t, "SELECT ?s WHERE { ?s <p> ?o . "
                  "FILTER(SAMETERM(?o)) }")
    with pytest.raises(SparqlError):
        sparql(t, "SELECT ?s WHERE { ?s <p> ?o . "
                  "FILTER(ISBLANK(?s, ?o)) }")


def test_describe_multiple_variables(spark):
    """DESCRIBE ?x ?y ... (and mixed DESCRIBE <iri> ?x) unions the
    solution bindings into one frontier frame."""
    from pyrdfa3_spark.operators.sparql import sparql

    t = spark.createDataFrame(
        [("a", "knows", "b"), ("a", "name", "A"), ("b", "name", "B"),
         ("z", "name", "Z")], ["subj", "pred", "obj"])
    out = sorted(map(tuple, sparql(t, """
        DESCRIBE ?x ?y WHERE { ?x <knows> ?y }""").collect()))
    assert out == [("a", "knows", "b"), ("a", "name", "A"),
                   ("b", "name", "B")]
    out = sorted(map(tuple, sparql(t, """
        DESCRIBE <z> ?y WHERE { ?x <knows> ?y }""").collect()))
    assert out == [("b", "name", "B"), ("z", "name", "Z")]


def test_trailing_values(kg):
    """Trailing VALUES (§10.2): a post-hoc join over the finished
    solution sequence, with UNDEF wildcards and bag semantics."""
    from pyrdfa3_spark.operators.sparql import sparql

    out = _rows(sparql(kg, """
        SELECT ?x ?n WHERE { ?x p:name ?n } ORDER BY ?x ?n
        VALUES ?n { "Ada" "Bobby" }"""))
    assert out == [("a", "Ada"), ("b", "Bobby")]

    # multi-var rows with UNDEF
    out = _rows(sparql(kg, """
        SELECT ?x ?n WHERE { ?x p:name ?n } ORDER BY ?x ?n
        VALUES (?x ?n) { ("a" UNDEF) (UNDEF "Bobby") }"""))
    assert out == [("a", "Ada"), ("b", "Bobby")]

    # extension variables are legal in trailing VALUES (§10.2: the
    # join binds them); SELECT * projects them too
    out = _rows(sparql(kg, """
        SELECT * WHERE { ?x p:name ?n } ORDER BY ?x
        VALUES ?new { "z" }"""))
    assert all(r[-1] == "z" for r in out) and len(out) >= 2
    out = _rows(sparql(kg, """
        SELECT ?x ?new WHERE { ?x p:name ?n } ORDER BY ?x
        VALUES (?x ?new) { ("a" "z") (UNDEF "w") }"""))
    assert ("a", "z") in out and ("a", "w") in out and ("b", "w") in out
    assert ("b", "z") not in out


def test_trailing_values_review_regressions(kg):
    """§18.5 compatibility: an UNBOUND solution cell agrees with any
    row and adopts its binding; VALUES joins AFTER aggregation; all-
    UNDEF rows multiply; non-SELECT forms raise SparqlUnsupported."""
    from pyrdfa3_spark.operators.sparql import sparql

    # unbound ?n (c has no name) survives and adopts the row binding
    out = _rows(sparql(kg, """
        SELECT ?y ?n WHERE { "b" p:knows ?y
                             OPTIONAL { ?y p:name ?n } }
        VALUES ?n { "Adopted" }"""))
    assert out == [("c", "Adopted")]

    # post-aggregation join: counts are computed BEFORE the values
    # rows multiply them
    out = _rows(sparql(kg, """
        SELECT ?x (COUNT(*) AS ?c) WHERE { ?x p:name ?n }
        GROUP BY ?x VALUES ?x { "b" "b" }"""))
    assert out == [("b", 2), ("b", 2)]

    # all-UNDEF rows each contribute a copy (bag semantics)
    assert sparql(kg, """
        SELECT ?x WHERE { ?x p:type "Person" }
        VALUES ?x { UNDEF UNDEF }""").count() == 4

    with pytest.raises(SparqlUnsupported):
        sparql(kg, 'ASK { ?x p:name ?n } VALUES ?n { "Ada" }')


# ------------------------------------------------------------------ #
# term-shape builtins (LANG / DATATYPE / ISIRI / ... over hidden
# __shape_* companion columns)
# ------------------------------------------------------------------ #

_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
_LANGSTR = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
_XSD_STR = "http://www.w3.org/2001/XMLSchema#string"


@pytest.fixture(scope="module")
def shaped_kg(spark):
    rows = [
        ("urn:a", "p:name", "Alice", False, "en", None),
        ("urn:a", "p:name", "Alicia", False, "es-MX", None),
        ("urn:b", "p:name", "Bob", False, None, None),
        ("urn:b", "p:age", "42", False, None, _XSD_INT),
        ("urn:a", "p:knows", "urn:b", True, None, None),
        ("urn:a", "p:tag", "_:bn1", True, None, None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
              "obj_is_iri boolean, obj_lang string, obj_datatype string")


def test_lang_filter_and_projection(shaped_kg):
    out = _rows(sparql(shaped_kg, """
        SELECT ?o (LANG(?o) AS ?l) WHERE {
          ?s p:name ?o FILTER(LANG(?o) = "en") }"""))
    assert out == [("Alice", "en")]
    # untagged literal: LANG = "" per spec; IRI object: type error
    # (NULL) so the equality filter drops it
    out = _rows(sparql(shaped_kg, """
        SELECT ?o WHERE { ?s ?p ?o FILTER(LANG(?o) = "") }
        ORDER BY ?o"""))
    assert out == [("42",), ("Bob",)]


def test_langmatches_star_and_prefix(shaped_kg):
    out = _rows(sparql(shaped_kg, """
        SELECT ?o WHERE {
          ?s p:name ?o FILTER(LANGMATCHES(LANG(?o), "es")) }"""))
    assert out == [("Alicia",)]
    out = _rows(sparql(shaped_kg, """
        SELECT ?o WHERE {
          ?s p:name ?o FILTER(LANGMATCHES(LANG(?o), "*")) }
        ORDER BY ?o"""))
    assert out == [("Alice",), ("Alicia",)]


def test_datatype_shapes(shaped_kg):
    out = _rows(sparql(shaped_kg, """
        SELECT ?o (DATATYPE(?o) AS ?dt) WHERE { urn:b ?p ?o }
        ORDER BY ?o"""))
    assert out == [("42", _XSD_INT), ("Bob", _XSD_STR)]
    out = _rows(sparql(shaped_kg, """
        SELECT ?o WHERE { ?s ?p ?o
          FILTER(DATATYPE(?o) = <%s>) }""" % _LANGSTR))
    assert sorted(out) == [("Alice",), ("Alicia",)]


def test_isiri_isblank_isliteral_isnumeric(shaped_kg):
    get = lambda q: sorted(_rows(sparql(shaped_kg, q)))
    assert get("SELECT ?o WHERE { ?s ?p ?o FILTER(ISIRI(?o)) }") == \
        [("urn:b",)]
    assert get("SELECT ?o WHERE { ?s ?p ?o FILTER(ISBLANK(?o)) }") == \
        [("_:bn1",)]
    assert get("SELECT ?o WHERE { ?s ?p ?o FILTER(ISNUMERIC(?o)) }") \
        == [("42",)]
    assert get("SELECT ?o WHERE { ?s ?p ?o FILTER(ISLITERAL(?o)) }") \
        == [("42",), ("Alice",), ("Alicia",), ("Bob",)]
    # subject position: IRI-or-bnode by the data model
    assert get("SELECT DISTINCT ?s WHERE { ?s ?p ?o "
               "FILTER(ISIRI(?s)) }") == [("urn:a",), ("urn:b",)]


def test_shape_builtins_lexical_inference_on_bare_frame(shaped_kg):
    bare = shaped_kg.select("subj", "pred", "obj")
    out = sorted(_rows(sparql(bare, """
        SELECT ?o WHERE { ?s ?p ?o FILTER(ISIRI(?o)) }""")))
    assert out == [("urn:b",)]
    out = sorted(_rows(sparql(bare, """
        SELECT ?o WHERE { ?s ?p ?o FILTER(ISBLANK(?o)) }""")))
    assert out == [("_:bn1",)]
    # no shape columns -> every kept literal reads as plain
    out = _rows(sparql(bare, """
        SELECT ?o (LANG(?o) AS ?l) (DATATYPE(?o) AS ?dt)
        WHERE { ?s p:age ?o }"""))
    assert out == [("42", "", _XSD_STR)]


def test_shape_builtins_in_union_and_optional(shaped_kg):
    out = sorted(_rows(sparql(shaped_kg, """
        SELECT ?o WHERE {
          { ?s p:name ?o FILTER(LANGMATCHES(LANG(?o), "es")) }
          UNION { ?s p:age ?o FILTER(ISNUMERIC(?o)) } }""")))
    assert out == [("42",), ("Alicia",)]
    out = _rows(sparql(shaped_kg, """
        SELECT ?s ?t WHERE {
          ?s p:age ?o .
          OPTIONAL { ?s p:tag ?t FILTER(ISBLANK(?t)) } }"""))
    assert out == [("urn:b", None)]


def test_shape_builtins_with_property_path(shaped_kg):
    # path-bound object: single-hop alt keeps the store shape
    out = sorted(_rows(sparql(shaped_kg, """
        SELECT ?o WHERE { ?s (p:age|p:name) ?o
                          FILTER(ISNUMERIC(?o)) }""")))
    assert out == [("42",)]


def test_shape_builtin_guards(shaped_kg):
    with pytest.raises(SparqlUnsupported):
        parse('SELECT ?s WHERE { ?s ?p ?o FILTER(ISIRI("x")) }')
    with pytest.raises(SparqlError):
        parse("SELECT ?__shape_o_iri WHERE { ?s ?p ?__shape_o_iri }")
    with pytest.raises(SparqlError):
        parse("SELECT ?s WHERE { ?s ?p ?o FILTER(LANG(?o, ?s)) }")


def test_shape_companions_never_project(shaped_kg):
    df = sparql(shaped_kg, """
        SELECT * WHERE { ?s ?p ?o FILTER(ISLITERAL(?o)) }""")
    assert all(not c.startswith("__shape_") for c in df.columns)
    assert set(df.columns) == {"s", "p", "o"}


def test_closure_path_endpoint_shape_is_unknown(shaped_kg):
    # multi-hop endpoints have NULL shape: LANG is NULL (row dropped),
    # never '' — an IRI bound through p+ must not read as a plain
    # literal
    out = _rows(sparql(shaped_kg, """
        SELECT ?o WHERE { ?s p:knows+ ?o FILTER(LANG(?o) = "") }"""))
    assert out == []
    out = _rows(sparql(shaped_kg, """
        SELECT ?o WHERE { ?s p:knows+ ?o FILTER(!ISNUMERIC(?o)) }"""))
    assert out == []  # NULL, not false -> filtered, not kept


def test_shape_builtin_over_bind_defined_variable(shaped_kg):
    # BIND-defined bindings carry no shape: builtin reads NULL and the
    # row filters out (documented) rather than raising unresolved
    out = _rows(sparql(shaped_kg, """
        SELECT ?b WHERE { ?s p:age ?o BIND(STR(?o) AS ?b)
                          FILTER(ISBLANK(?b)) }"""))
    assert out == []


def test_shape_builtin_over_subquery_projected_variable(shaped_kg):
    # a subquery projection drops its companions; the outer filter
    # reads unknown shape -> NULL -> rows filtered, no crash
    out = _rows(sparql(shaped_kg, """
        SELECT ?o WHERE {
          ?s p:age ?a .
          { SELECT ?s ?o WHERE { ?s p:name ?o } }
          FILTER(ISLITERAL(?o)) }"""))
    assert out == []


def test_shape_builtin_in_having_raises(shaped_kg):
    with pytest.raises(SparqlUnsupported):
        sparql(shaped_kg, """
            SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s ?p ?o }
            GROUP BY ?s HAVING(ISIRI(?s))""")


def test_plain_path_query_carries_no_shape_columns(shaped_kg):
    # no shape builtin in the query -> the classic 3-column path
    # pipeline (no companion/shape columns widen the dedups)
    df = sparql(shaped_kg, """
        SELECT ?s ?o WHERE { ?s (p:name|p:age) ?o }""")
    assert set(df.columns) == {"s", "o"}
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__shape_" not in plan
    # the path-branch dedup groups over the 3-column key only (the
    # source relation line always lists the full frame schema)
    import re as _re
    for m in _re.finditer(r"Aggregate \[([^\]]*)\]", plan):
        assert "obj_is_iri" not in m.group(1)


# ------------------------------------------------------------------ #
# term constructors (IRI / STRLANG / STRDT / UUID / BNODE / ...) and
# shape-tagged literals in patterns / templates / DATA
# ------------------------------------------------------------------ #


def test_tagged_literal_pattern_matches_shape_exactly(shaped_kg):
    out = _rows(sparql(shaped_kg, """
        SELECT ?s WHERE { ?s p:name "Alicia"@es-MX }"""))
    assert out == [("urn:a",)]
    # wrong tag: no match (case-insensitive tag compare)
    assert _rows(sparql(shaped_kg, """
        SELECT ?s WHERE { ?s p:name "Alicia"@ES-mx }""")) == \
        [("urn:a",)]
    assert _rows(sparql(shaped_kg, """
        SELECT ?s WHERE { ?s p:name "Alicia"@fr }""")) == []
    # typed literal: exact datatype
    out = _rows(sparql(shaped_kg, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s p:age "42"^^xsd:integer }"""))
    assert out == [("urn:b",)]
    assert _rows(sparql(shaped_kg, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s p:age "42"^^xsd:long }""")) == []
    # a PLAIN literal pattern stays lexical (documented model): it
    # still matches the tagged row
    assert _rows(sparql(shaped_kg, """
        SELECT ?s WHERE { ?s p:age "42" }""")) == [("urn:b",)]


def test_iri_constructor_bind(shaped_kg):
    out = _rows(sparql(shaped_kg, """
        SELECT ?node WHERE {
          ?s p:age ?o . BIND(IRI(CONCAT("urn:minted:", ?o)) AS ?node)
          FILTER(ISIRI(?node)) }"""))
    assert out == [("urn:minted:42",)]
    # relative without BASE: error -> unbound -> NULL filtered
    out = _rows(sparql(shaped_kg, """
        SELECT ?node WHERE {
          ?s p:age ?o . BIND(IRI(?o) AS ?node) }"""))
    assert out == [(None,)]
    # relative WITH base: plain-path prefix resolution
    out = _rows(sparql(shaped_kg, """
        BASE <http://ex.org/data/>
        SELECT ?node WHERE {
          ?s p:age ?o . BIND(IRI(CONCAT("item/", ?o)) AS ?node) }"""))
    assert out == [("http://ex.org/data/item/42",)]


def test_strlang_strdt_stamp_shape(shaped_kg):
    # language tags normalize to the RDF 1.1 lower-case value space
    out = _rows(sparql(shaped_kg, """
        SELECT ?t (LANG(?t) AS ?l) WHERE {
          ?s p:age ?o . BIND(STRLANG(?o, "en-GB") AS ?t) }"""))
    assert out == [("42", "en-gb")]
    out = _rows(sparql(shaped_kg, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?t (DATATYPE(?t) AS ?dt) WHERE {
          ?s p:age ?o . BIND(STRDT(?o, xsd:token) AS ?t) }"""))
    assert out == [("42", "http://www.w3.org/2001/XMLSchema#token")]
    # nested constructor loses the stamp: shape unknown -> NULL
    out = _rows(sparql(shaped_kg, """
        SELECT ?t (LANG(?t) AS ?l) WHERE {
          ?s p:age ?o . BIND(UCASE(STRLANG(?o, "en")) AS ?t) }"""))
    assert out == [("42", None)]


def test_uuid_bnode_struuid_now_tz(shaped_kg):
    rows = _rows(sparql(shaped_kg, """
        SELECT ?u ?b ?su WHERE {
          ?s p:name ?o .
          BIND(UUID() AS ?u) BIND(BNODE() AS ?b)
          BIND(STRUUID() AS ?su)
          FILTER(ISIRI(?u) && ISBLANK(?b) && ISLITERAL(?su)) }"""))
    assert len(rows) == 3  # three p:name rows survive the filters
    assert len({r[0] for r in rows}) == 3  # fresh per solution
    assert all(r[0].startswith("urn:uuid:") for r in rows)
    assert all(r[1].startswith("_:") for r in rows)
    out = _rows(sparql(shaped_kg, """
        SELECT ?z WHERE {
          ?s p:age ?o .
          BIND(TZ("2011-01-10T14:45:13.815-05:00") AS ?z) }"""))
    assert out == [("-05:00",)]
    out = _rows(sparql(shaped_kg, """
        SELECT ?n WHERE { ?s p:age ?o . BIND(NOW() AS ?n) }"""))
    assert out[0][0][:3] == "202"  # xsd:dateTime lexical form
    with pytest.raises(SparqlUnsupported):
        parse("SELECT ?b WHERE { ?s ?p ?o BIND(BNODE(?o) AS ?b) }")


def test_insert_data_tagged_literals(shaped_kg):
    from pyrdfa3_spark.operators.sparql import update
    out = update(shaped_kg, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        INSERT DATA { <urn:c> <p:label> "hola"@es .
                      <urn:c> <p:n> "7"^^xsd:byte .
                      <urn:c> <p:m> 3.5 .
                      <urn:c> <p:f> true }""")
    got = {(r["obj"], r["obj_is_iri"], r["obj_lang"], r["obj_datatype"])
           for r in out.filter("subj = 'urn:c'").collect()}
    assert got == {
        ("hola", False, "es", None),
        ("7", False, None, "http://www.w3.org/2001/XMLSchema#byte"),
        ("3.5", False, None, "http://www.w3.org/2001/XMLSchema#decimal"),
        ("true", False, None, "http://www.w3.org/2001/XMLSchema#boolean"),
    }
    # delete the tagged row only: the untagged twin stays
    out2 = update(out, """
        INSERT DATA { <urn:c> <p:label> "hola" } ;
        DELETE DATA { <urn:c> <p:label> "hola"@es }""")
    left = {(r["obj"], r["obj_lang"]) for r in
            out2.filter("subj = 'urn:c' and pred = 'p:label'").collect()}
    assert left == {("hola", None)}


def test_values_tagged_literal_raises(shaped_kg):
    with pytest.raises(SparqlUnsupported):
        parse('SELECT ?o WHERE { ?s ?p ?o VALUES ?o { "x"@en } }')


def test_xsd_string_normalizes_to_simple_literal(shaped_kg):
    # RDF 1.1: "x"^^xsd:string IS the simple literal — matches the
    # untagged store row
    out = _rows(sparql(shaped_kg, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s p:name "Bob"^^xsd:string }"""))
    assert out == [("urn:b",)]
    from pyrdfa3_spark.operators.sparql import update
    out = update(shaped_kg, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        INSERT DATA { <urn:d> <p:x> "v"^^xsd:string }""")
    row = out.filter("subj = 'urn:d'").collect()[0]
    assert (row["obj_lang"], row["obj_datatype"]) == (None, None)


def test_lang_tag_case_normalization_in_data(shaped_kg):
    from pyrdfa3_spark.operators.sparql import update
    out = update(shaped_kg, """
        INSERT DATA { <urn:d> <p:l> "hola"@ES } ;
        DELETE DATA { <urn:d> <p:l> "hola"@es }""")
    assert out.filter("subj = 'urn:d'").count() == 0
    # duplicate-cased inserts collapse to one row
    out = update(shaped_kg, """
        INSERT DATA { <urn:d> <p:l> "hola"@ES .
                      <urn:d> <p:l> "hola"@es }""")
    rows = out.filter("subj = 'urn:d'").collect()
    assert [(r["obj"], r["obj_lang"]) for r in rows] == [("hola", "es")]


def test_tagged_literal_guards_raise_sparql_unsupported(shaped_kg):
    from pyrdfa3_spark.operators.sparql import update
    bare = shaped_kg.select("subj", "pred", "obj")
    # query side: pattern over shapeless frame
    with pytest.raises(SparqlUnsupported):
        sparql(bare, 'SELECT ?s WHERE { ?s p:name "x"@en }')
    # DATA and templates over shapeless frames
    with pytest.raises(SparqlUnsupported):
        update(bare, 'INSERT DATA { <a> <b> "x"@en }')
    with pytest.raises(SparqlUnsupported):
        update(bare, 'DELETE { ?s <b> "x"@en } WHERE { ?s ?p ?o }')
    # implicit grammar shapes stay lexical on shapeless frames (no
    # raise): bare numbers insert their lexical form
    out = update(bare, "INSERT DATA { <a> <b> 42 }")
    assert out.filter("subj = 'a'").collect()[0]["obj"] == "42"
    # closure-path object with a tag: silent-empty refused
    with pytest.raises(SparqlUnsupported):
        sparql(shaped_kg, 'SELECT ?s WHERE { ?s p:knows+ "x"@en }')
    with pytest.raises(SparqlUnsupported):
        sparql(shaped_kg,
               'SELECT ?s WHERE { ?s (p:a/p:knows*) "x"@en }')


def test_iri_nondeterministic_arg_single_eval(shaped_kg):
    # the argument binds once: result is either a validated absolute
    # IRI or NULL — never an unvalidated relative leaking through
    rows = _rows(sparql(shaped_kg, """
        SELECT ?u WHERE {
          ?s p:name ?o .
          BIND(IRI(IF(RAND() < 0.5, "urn:a", "rel")) AS ?u) }"""))
    assert all(u is None or u == "urn:a" for (u,) in rows)


def test_construct_carries_binding_shapes(shaped_kg):
    """CONSTRUCT over a shaped frame emits real term shapes: a
    variable object copies the matched binding's shape per-row, a
    constant stamps its parse-time shape, and a subject-bound variable
    used as a template object lands as the IRI/bnode it is — so a
    derived literal stays a literal through serialization (rdflib's
    CONSTRUCT returns terms, not lexical forms)."""
    out = sparql(shaped_kg, """
        CONSTRUCT { ?s <p:alias> ?o . ?s <p:src> <urn:g> .
                    ?s <p:note> "copy"@en . <urn:reg> <p:has> ?s }
        WHERE { ?s p:name ?o FILTER(LANGMATCHES(LANG(?o), "es")) }""")
    got = {(r["pred"], r["obj"], r["obj_is_iri"], r["obj_lang"])
           for r in out.collect()}
    assert got == {
        ("p:alias", "Alicia", False, "es-MX"),
        ("p:src", "urn:g", True, None),
        ("p:note", "copy", False, "en"),
        ("p:has", "urn:a", True, None),
    }
    # shapeless frame: the classic 3-column contract is unchanged
    plain = shaped_kg.select("subj", "pred", "obj")
    assert sparql(plain, "CONSTRUCT { ?s <p:alias> ?o } "
                         "WHERE { ?s <p:name> ?o }").columns == [
        "subj", "pred", "obj"]


def test_update_insert_var_object_keeps_shape(shaped_kg):
    """INSERT templates with a variable object land with the binding's
    matched shape, not the all-IRI default (rdflib Graph.update
    preserves literals through copy rules)."""
    from pyrdfa3_spark.operators.sparql import update
    out = update(shaped_kg, """
        INSERT { ?s <p:label> ?o } WHERE { ?s <p:name> ?o }""")
    got = {(r["obj"], r["obj_is_iri"], r["obj_lang"], r["obj_datatype"])
           for r in out.filter("pred = 'p:label'").collect()}
    assert got == {("Alice", False, "en", None),
                   ("Alicia", False, "es-MX", None),
                   ("Bob", False, None, None)}


def test_update_delete_var_object_shape_exact(spark):
    """A variable-bound DELETE object removes exactly the shape its
    binding matched: the lexical IRI twin of a deleted literal
    survives (rdflib's term-exact Graph.update), and a binding that
    matched BOTH shapes deletes both (one solution row per shape)."""
    from pyrdfa3_spark.operators.sparql import update
    rows = [("urn:a", "p:v", "x", False, None, None),   # literal "x"
            ("urn:a", "p:v", "x", True, None, None),    # IRI <x>
            ("urn:a", "p:lit", "x", False, None, None)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
              "obj_is_iri boolean, obj_lang string, obj_datatype string")
    out = update(df, """
        DELETE { <urn:a> <p:v> ?o } WHERE { <urn:a> <p:lit> ?o }""")
    got = {(r["pred"], r["obj"], r["obj_is_iri"]) for r in out.collect()}
    assert got == {("p:v", "x", True), ("p:lit", "x", False)}
    # ?o bound against p:v matches both shapes -> both delete
    out2 = update(df, """
        DELETE { <urn:a> <p:v> ?o } WHERE { <urn:a> <p:v> ?o }""")
    assert {(r["pred"],) for r in out2.collect()} == {("p:lit",)}


def test_construct_full_group_grammar(spark):
    """CONSTRUCT's WHERE solves with the same group solver as SELECT:
    UNION, BIND, in-group VALUES, subqueries and trailing VALUES all
    feed the template instantiation (previously refused)."""
    t = spark.createDataFrame(
        [("urn:a", "p1", "x"), ("urn:a", "p1", "y"),
         ("urn:b", "p2", "z")],
        "subj string, pred string, obj string")

    def run(text):
        return sorted(tuple(r) for r in sparql(t, text).collect())

    # UNION across predicates
    assert run("""CONSTRUCT { ?s <t> ?o } WHERE {
        { ?s <p1> ?o } UNION { ?s <p2> ?o } }""") == [
        ("urn:a", "t", "x"), ("urn:a", "t", "y"), ("urn:b", "t", "z")]
    # BIND-derived object (typed column lands as its lexical form)
    assert run("""CONSTRUCT { ?s <len> ?l } WHERE {
        ?s <p2> ?o BIND(STRLEN(?o) AS ?l) }""") == [
        ("urn:b", "len", "1")]
    # in-group VALUES constrains, trailing VALUES post-filters
    assert run("""CONSTRUCT { ?s <t> ?o } WHERE {
        ?s <p1> ?o VALUES ?o { "x" } }""") == [("urn:a", "t", "x")]
    assert run("""CONSTRUCT { ?s <t> ?o } WHERE { ?s <p1> ?o }
        VALUES ?o { "y" }""") == [("urn:a", "t", "y")]
    # subquery aggregate feeding the template
    assert run("""CONSTRUCT { ?s <n> ?n } WHERE {
        { SELECT ?s (COUNT(*) AS ?n) WHERE { ?s <p1> ?o }
          GROUP BY ?s } . ?s <p1> ?o }""") == [("urn:a", "n", "2")]
    # an unbound template variable contributes nothing (§16.2)
    assert run("""CONSTRUCT { ?s <t> ?o . ?s <u> ?zzz }
        WHERE { ?s <p2> ?o }""") == [("urn:b", "t", "z")]
    out = sparql(t, "CONSTRUCT { ?s <u> ?zzz } WHERE { ?s <p2> ?o }")
    assert out.columns == ["subj", "pred", "obj"] and out.count() == 0


def test_construct_bind_shape_fallback(shaped_kg):
    """On a shaped frame a BIND-derived template object has no matched
    shape: the companion is NULL and the emitted row falls back to the
    lexical inference (an IRI-looking value serializes as an IRI, a
    prose value as a literal) instead of a NULL shape that would
    serialize as an IRI."""
    out = sparql(shaped_kg, """
        CONSTRUCT { ?s <p:mint> ?m . ?s <p:text> ?t } WHERE {
          ?s p:age ?o
          BIND(CONCAT("urn:minted:", ?o) AS ?m)
          BIND(CONCAT("label ", ?o) AS ?t) }""")
    got = {(r["pred"], r["obj"], r["obj_is_iri"]) for r in out.collect()}
    assert got == {("p:mint", "urn:minted:42", True),
                   ("p:text", "label 42", False)}


def test_update_full_group_grammar(spark):
    """DELETE/INSERT WHERE solves with the same group solver as
    SELECT: UNION, BIND, in-group VALUES and subqueries feed the
    template instantiation (previously refused); a template entry
    with a never-bound variable contributes nothing; GRAPH inside
    the WHERE stays an honest refusal (needs USING NAMED)."""
    from pyrdfa3_spark.operators.sparql import (SparqlUnsupported,
                                                update)
    t = spark.createDataFrame(
        [("urn:a", "p1", "x"), ("urn:a", "p1", "y"),
         ("urn:b", "p2", "z")],
        "subj string, pred string, obj string")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # UNION in WHERE
    out = update(t, """INSERT { ?s <t> ?o } WHERE {
        { ?s <p1> ?o } UNION { ?s <p2> ?o } }""")
    assert rows(out.filter("pred = 't'")) == [
        ("urn:a", "t", "x"), ("urn:a", "t", "y"), ("urn:b", "t", "z")]
    # BIND-derived insert object
    out = update(t, """INSERT { ?s <len> ?l } WHERE {
        ?s <p2> ?o BIND(STRLEN(?o) AS ?l) }""")
    assert rows(out.filter("pred = 'len'")) == [("urn:b", "len", "1")]
    # in-group VALUES constrains the delete
    out = update(t, """DELETE { ?s <p1> ?o } WHERE {
        ?s <p1> ?o VALUES ?o { "x" } }""")
    assert rows(out) == [("urn:a", "p1", "y"), ("urn:b", "p2", "z")]
    # subquery aggregate feeding the insert
    out = update(t, """INSERT { ?s <n> ?n } WHERE {
        { SELECT ?s (COUNT(*) AS ?n) WHERE { ?s <p1> ?o }
          GROUP BY ?s } . ?s <p1> ?o }""")
    assert rows(out.filter("pred = 'n'")) == [("urn:a", "n", "2")]
    # unbound template variable: that entry is skipped, others land
    out = update(t, """INSERT { ?s <t> ?o . ?s <u> ?zzz }
        WHERE { ?s <p2> ?o }""")
    assert rows(out.filter("pred IN ('t', 'u')")) == [
        ("urn:b", "t", "z")]
    # GRAPH over a store with no named graphs binds nothing (no-op)
    from pyspark.sql import functions as F
    q = t.withColumn("graph", F.lit(None).cast("string"))
    out = update(
        q, "INSERT { ?s <t> ?o } WHERE { GRAPH ?g { ?s <p1> ?o } }")
    assert out.count() == q.count()


def test_construct_tagged_template_shapeless_raises(spark):
    """A tagged template literal on a shapeless frame is an honest
    refusal (same policy as UPDATE templates), never the silent plain
    twin; nested GRAPH in an update WHERE gets the USING-NAMED
    refusal, not a misleading quad-frame diagnosis."""
    from pyrdfa3_spark.operators.sparql import (SparqlUnsupported,
                                                update)
    t = spark.createDataFrame([("urn:a", "p1", "x")],
                              "subj string, pred string, obj string")
    with pytest.raises(SparqlUnsupported):
        sparql(t, 'CONSTRUCT { ?s <note> "copy"@en } '
                  'WHERE { ?s <p1> ?o }')
    from pyspark.sql import functions as F
    q = t.withColumn("graph", F.lit(None).cast("string"))
    with pytest.raises(SparqlError):
        update(q.select("subj", "pred", "obj"),
               """INSERT { ?s <t> ?o } WHERE {
            { SELECT ?s WHERE { GRAPH <g> { ?s ?p ?o } } } .
            ?s <p1> ?o }""")


def test_dataset_merge_keeps_shape(spark):
    """FROM merges keep the store's literal-shape columns: term-shape
    builtins stay term-exact under a dataset clause, and the
    multi-FROM set union dedups TERM-exactly (a literal and an IRI
    twin from different graphs both survive)."""
    q = spark.createDataFrame(
        [("s", "p", "x", False, "en", None, "urn:g1"),
         ("s", "p", "x", True, None, None, "urn:g2"),
         ("s", "p", "x", False, "en", None, "urn:g2")],
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_lang string, obj_datatype string, graph string")
    # the @en literal appears in BOTH graphs -> merges to one row;
    # the IRI twin survives beside it (term-exact union)
    out = sparql(q, """SELECT ?o (LANG(?o) AS ?l) (ISIRI(?o) AS ?i)
        FROM <urn:g1> FROM <urn:g2> WHERE { <s> <p> ?o }""")
    got = sorted(map(tuple, out.collect()),
                 key=lambda r: (r[0], r[1] or ""))
    assert got == [("x", None, True), ("x", "en", False)]
    # shaped CONSTRUCT under FROM carries the shape columns through
    c = sparql(q, """CONSTRUCT { ?s <q> ?o } FROM <urn:g1>
        WHERE { ?s <p> ?o }""")
    assert [(r.obj, r.obj_is_iri, r.obj_lang) for r in c.collect()] == [
        ("x", False, "en")]


def test_update_using_named(spark):
    """USING / USING NAMED define the modify WHERE's dataset
    (SPARQL 1.1 Update §3.1.3, the FROM / FROM NAMED twins): plain
    patterns match the USING merge (EMPTY with only USING NAMED
    given), GRAPH ranges over exactly the USING NAMED set — and with
    no USING clause at all, GRAPH sees every named graph of the
    store.  Templates still target the default graph."""
    from pyrdfa3_spark.operators.sparql import update
    q = spark.createDataFrame(
        [("s1", "p", "o1", None), ("s2", "p", "o2", "urn:g1"),
         ("s3", "p", "o3", "urn:g2"), ("s2", "p", "o3", "urn:g2")],
        "subj string, pred string, obj string, graph string")

    def added(out):
        return sorted((r["subj"], r["pred"], r["obj"], r["graph"])
                      for r in out.subtract(q).collect())

    # GRAPH without USING: every named graph is visible
    out = update(q, """INSERT { ?s <from> ?g }
        WHERE { GRAPH ?g { ?s <p> ?o } }""")
    assert added(out) == [("s2", "from", "urn:g1", None),
                          ("s2", "from", "urn:g2", None),
                          ("s3", "from", "urn:g2", None)]
    # USING NAMED restricts GRAPH to the named set
    out = update(q, """INSERT { ?s <from> ?g } USING NAMED <urn:g2>
        WHERE { GRAPH ?g { ?s <p> ?o } }""")
    assert added(out) == [("s2", "from", "urn:g2", None),
                          ("s3", "from", "urn:g2", None)]
    # with any USING clause the split is strict: plain patterns see
    # ONLY the USING merge (here empty), not the default graph
    out = update(q, """INSERT { ?s <t> ?o } USING NAMED <urn:g1>
        WHERE { ?s <p> ?o }""")
    assert added(out) == []
    # USING + USING NAMED combine: pattern from the merge, GRAPH from
    # the named set, joined on the shared subject
    out = update(q, """INSERT { ?s <pair> ?o2 }
        USING <urn:g1> USING NAMED <urn:g2>
        WHERE { ?s <p> ?o . GRAPH ?g { ?s <p> ?o2 } }""")
    assert added(out) == [("s2", "pair", "o3", None)]


def test_distinct_aggregates(spark):
    """DISTINCT inside every set function (§18.5.1): SUM/AVG/
    GROUP_CONCAT collapse the multiset, COUNT(DISTINCT) already
    worked, MIN/MAX/SAMPLE accept the keyword as a no-op."""
    t = spark.createDataFrame(
        [("a", "p:v", "2"), ("a", "p:v", "2"), ("a", "p:v", "3"),
         ("b", "p:v", "5")],
        "subj string, pred string, obj string")
    out = sparql(t, """SELECT ?s (SUM(DISTINCT ?o) AS ?sd)
            (AVG(DISTINCT ?o) AS ?ad)
            (GROUP_CONCAT(DISTINCT ?o; SEPARATOR=",") AS ?gc)
            (MIN(DISTINCT ?o) AS ?mn)
        WHERE { ?s <p:v> ?o } GROUP BY ?s ORDER BY ?s""")
    got = [tuple(r) for r in out.collect()]
    assert got == [("a", 5.0, 2.5, "2,3", "2"),
                   ("b", 5.0, 5.0, "5", "5")]


def test_projection_expr_with_group_by(spark):
    """Projection expressions beside GROUP BY (§18.2.4.4 Extend over
    the aggregated sequence): they range over group keys, aggregate
    aliases and earlier expression aliases, in SELECT-clause order."""
    t = spark.createDataFrame(
        [("a", "p:v", "2"), ("a", "p:v", "4"), ("b", "p:v", "6")],
        "subj string, pred string, obj string")
    out = sparql(t, """SELECT ?s (SUM(?o) AS ?t) (?t / 2 AS ?h)
            (CONCAT(?s, "!") AS ?tag)
        WHERE { ?s <p:v> ?o } GROUP BY ?s ORDER BY ?s""")
    assert out.columns == ["s", "t", "h", "tag"]
    assert [tuple(r) for r in out.collect()] == [
        ("a", 6.0, 3.0, "a!"), ("b", 6.0, 3.0, "b!")]


def test_order_by_expressions_and_modifiers(spark):
    """ORDER BY expression conditions (§18.2.4: ASC/DESC bracketted
    expressions, bare constraints), multiple HAVING constraints
    conjoined, and LIMIT/OFFSET in either order."""
    t = spark.createDataFrame(
        [("a", "p:v", "xx"), ("b", "p:v", "yyyy"), ("c", "p:v", "z")],
        "subj string, pred string, obj string")

    def run(text):
        return [tuple(r) for r in sparql(t, text).collect()]

    assert run("""SELECT ?s ?o WHERE { ?s <p:v> ?o }
        ORDER BY DESC(STRLEN(?o))""") == [
        ("b", "yyyy"), ("a", "xx"), ("c", "z")]
    assert run("""SELECT ?s ?o WHERE { ?s <p:v> ?o }
        ORDER BY STRLEN(?o) ?s""") == [
        ("c", "z"), ("a", "xx"), ("b", "yyyy")]
    assert run("""SELECT ?s ?o WHERE { ?s <p:v> ?o }
        ORDER BY (STRLEN(?o) * -1)""") == [
        ("b", "yyyy"), ("a", "xx"), ("c", "z")]
    # OFFSET before LIMIT parses; both apply after the sort
    assert run("""SELECT ?s WHERE { ?s <p:v> ?o }
        ORDER BY ?s OFFSET 1 LIMIT 1""") == [("b",)]
    # multiple HAVING constraints conjoin
    assert run("""SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <p:v> ?o }
        GROUP BY ?s HAVING (?n > 0) (?s != "a") ORDER BY ?s""") == [
        ("b", 1), ("c", 1)]


def test_order_by_non_projected_var(spark):
    """ORDER BY precedes projection in the SPARQL algebra, so order
    conditions may reference variables the SELECT clause drops."""
    t = spark.createDataFrame(
        [("a", "p:v", "3"), ("b", "p:v", "1"), ("c", "p:v", "2")],
        "subj string, pred string, obj string")
    out = sparql(t, """SELECT ?s WHERE { ?s <p:v> ?o }
        ORDER BY DESC(?o)""")
    assert out.columns == ["s"]
    assert [r.s for r in out.collect()] == ["a", "c", "b"]
    out = sparql(t, """SELECT ?s WHERE { ?s <p:v> ?o }
        ORDER BY STRLEN(?o) ?o LIMIT 2""")
    assert [r.s for r in out.collect()] == ["b", "c"]


def test_order_modifier_review_fixes(spark):
    """Review fixes: DISTINCT + non-projected ORDER BY is an explicit
    rejection (Spark would silently return a partition-dependent
    'order'), empty ORDER BY is a parse error, composite aggregate
    projections get a guiding refusal, and shape builtins in an
    aggregated ORDER BY refuse cleanly."""
    t = spark.createDataFrame(
        [("a", "p:v", "1"), ("a", "p:v", "9"), ("b", "p:v", "5")],
        "subj string, pred string, obj string")
    with pytest.raises(ValueError, match="non-projected"):
        sparql(t, """SELECT DISTINCT ?s WHERE { ?s <p:v> ?o }
            ORDER BY DESC(?o)""").collect()
    with pytest.raises(SparqlError):
        parse("SELECT ?s WHERE { ?s <p> ?o } ORDER BY LIMIT 1")
    # composite aggregate projections lift into hidden agg items
    out = sorted(_rows(sparql(t, """SELECT ?s (SUM(?o) + 1 AS ?x)
        WHERE { ?s <p:v> ?o } GROUP BY ?s""")))
    assert out == [("a", 11.0), ("b", 6.0)]
    from pyspark.sql import functions as F
    shaped = t.select(
        "subj", "pred", "obj",
        F.lit(False).alias("obj_is_iri"),
        F.lit("en").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"))
    with pytest.raises(SparqlUnsupported, match="ORDER BY"):
        sparql(shaped, """SELECT ?o (COUNT(?s) AS ?c)
            WHERE { ?s <p:v> ?o } GROUP BY ?o ORDER BY LANG(?o)""")
    # DISTINCT ordering by a projected variable still works
    out = sparql(t, """SELECT DISTINCT ?s WHERE { ?s <p:v> ?o }
        ORDER BY DESC(?s)""")
    assert [r.s for r in out.collect()] == ["b", "a"]


def test_template_bnode_minting(spark):
    """Template blank nodes (explicit _:b and [..]) mint a FRESH
    bnode per solution (§16.2.1 / Update §3.1.3): the label is shared
    across template entries WITHIN one solution and distinct across
    solutions and update() calls — rdflib's instantiation."""
    from pyrdfa3_spark.operators.sparql import update
    t = spark.createDataFrame(
        [("urn:a", "p:v", "1"), ("urn:b", "p:v", "2")],
        "subj string, pred string, obj string")
    # one label, two template entries: same mint within a solution
    out = sparql(t, """CONSTRUCT { ?s <addr> _:x . _:x <val> ?o }
        WHERE { ?s <p:v> ?o }""")
    rows = [(r.subj, r.pred, r.obj) for r in out.collect()]
    addr = {r[0]: r[2] for r in rows if r[1] == "addr"}
    val = {r[0]: r[2] for r in rows if r[1] == "val"}
    assert set(addr) == {"urn:a", "urn:b"}
    assert addr["urn:a"] != addr["urn:b"]          # fresh per solution
    assert set(val.keys()) == set(addr.values())   # shared label links
    assert val[addr["urn:a"]] == "1" and val[addr["urn:b"]] == "2"
    # INSERT templates mint too, and [ <p> ?o ] expands to two entries
    out2 = update(t, """INSERT { ?s <note> [ <of> ?o ] }
        WHERE { ?s <p:v> ?o }""")
    notes = {r["subj"]: r["obj"] for r in out2.collect()
             if r["pred"] == "note"}
    ofs = {r["subj"]: r["obj"] for r in out2.collect()
           if r["pred"] == "of"}
    assert set(notes) == {"urn:a", "urn:b"}
    assert len(set(notes.values())) == 2
    assert ofs == {notes["urn:a"]: "1", notes["urn:b"]: "2"}
    # bnode in a template predicate position is malformed
    with pytest.raises(SparqlError):
        sparql(t, "CONSTRUCT { ?s _:p ?o } WHERE { ?s <p:v> ?o }")


def test_bnode_minting_review_fixes(spark):
    """Review fixes: DELETE WHERE with a [..] object on a SHAPED frame
    still binds shape companions (the anon is a real binding, not a
    mint slot); explicit _:x labels in DELETE templates raise (§19.8)
    instead of silently meaning constant-on-delete/fresh-on-insert;
    an all-unbound INSERT template skips its checkpoint and derives
    nothing."""
    from pyrdfa3_spark.operators.sparql import update
    shaped = spark.createDataFrame(
        [("urn:a", "p:q", "x", False, None, None),
         ("urn:a", "p:k", "y", False, None, None)],
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_lang string, obj_datatype string")
    out = update(shaped, "DELETE WHERE { ?s <p:q> [] }")
    assert [(r.subj, r.pred) for r in out.collect()] == [
        ("urn:a", "p:k")]
    with pytest.raises(SparqlError, match="blank node"):
        update(shaped, "DELETE { ?s <p:q> _:x } WHERE { ?s <p:q> ?o }")
    with pytest.raises(SparqlError, match="blank node"):
        update(shaped, "DELETE WHERE { ?s <p:q> _:x }")
    out = update(shaped, """DELETE { ?s <p:q> ?o }
        INSERT { ?s <p:n> ?never } WHERE { ?s <p:q> ?o }""")
    assert [(r.subj, r.pred) for r in out.collect()] == [
        ("urn:a", "p:k")]


# -- compositional UNION (round 3) ---------------------------------------

def test_union_beside_sibling_patterns(kg):
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        ?s p:type "Person" .
        { ?s p:name ?n } UNION { ?s p:nick ?n } }""")))
    assert out == [("a", "Ada"), ("b", "Bob"), ("b", "Bobby")]


def test_union_nested_inside_branch(kg):
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        { ?s p:name ?n }
        UNION { { ?s p:nick ?n } UNION { ?s p:alias ?n } } }""")))
    assert out == [("a", "Ada"), ("b", "Bob"), ("b", "Bobby")]


def test_union_branch_with_bind(kg):
    out = sorted(_rows(sparql(kg, """SELECT ?s ?k WHERE {
        { ?s p:name "Ada" . BIND("first" AS ?k) }
        UNION { ?s p:name "Bob" . BIND("second" AS ?k) } }""")))
    assert out == [("a", "first"), ("b", "second")]


def test_two_sibling_union_chains(kg):
    # regression: a second sibling chain used to overwrite the first
    out = sorted(_rows(sparql(kg, """SELECT DISTINCT ?s WHERE {
        { ?s p:type "Person" } UNION { ?s p:knows "c" }
        { ?s p:name ?n } UNION { ?s p:knows ?o } }""")))
    assert out == [("a",), ("b",), ("c",)]


def test_union_join_on_possibly_unbound_compat(kg):
    """§18.5 compatibility join: ?x is bound in only part of the
    union's solutions; unbound cells agree with anything and adopt
    the bound side's value (null-mask decomposed equi-joins)."""
    out = sorted(_rows(sparql(kg, """SELECT ?s WHERE {
        ?s p:name ?x .
        { ?s p:knows ?y . OPTIONAL { ?y p:name ?x } }
        UNION { ?s p:type ?t } }""")))
    # x-bound union rows: (s=a, x∈{Bob,Bobby}) ∦ (a p:name Ada);
    # x-unbound rows: branch-1 miss (s=b via y=c) + branch-2 rows
    # (s∈{a,b}) — each joins every name of its subject
    assert out == [("a",), ("b",), ("b",), ("b",), ("b",)]


def test_compat_join_cap_still_raises(kg):
    with pytest.raises(SparqlUnsupported, match="capped"):
        sparql(kg, """SELECT ?s WHERE {
            ?s p:knows ?x . ?s p:name ?y . ?s p:type ?z .
            { ?s p:knows ?x . ?s p:name ?y . ?s p:type ?z }
            UNION { ?s p:knows ?w } }""").collect()


def test_capped_shapes_fail_before_any_job(spark, kg):
    """The null-mask cap is checked where the compat operators start,
    before any localCheckpoint: a capped shape raises without running
    a Spark job, through the front end and through the operator."""
    from pyrdfa3_spark.operators import graphops as G

    three = ["a", "b", "c"]
    left = spark.createDataFrame([("x", None, "y", "1")],
                                 "a string, b string, c string, l string")
    right = spark.createDataFrame([("x", "z", None, "2")],
                                  "a string, b string, c string, r string")
    shapes = [
        lambda: sparql(kg, """SELECT ?s WHERE {
            ?s p:knows ?x . ?s p:name ?y . ?s p:type ?z .
            { ?s p:knows ?x . ?s p:name ?y . ?s p:type ?z }
            UNION { ?s p:knows ?w } }"""),
        lambda: G.compat_join(left, right, (), three),
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for i, shape in enumerate(shapes):
        group = f"capped-shape-{i}"
        sc.setJobGroup(group, "capped shape job count")
        try:
            with pytest.raises(SparqlUnsupported, match="capped"):
                shape()
            assert tracker.getJobIdsForGroup(group) == [], i
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


def test_values_only_group_and_values_beside_union(kg):
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        ?s p:name ?n . { VALUES ?s { "a" } } }""")))
    assert out == [("a", "Ada")]
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        VALUES ?s { "a" "c" }
        { ?s p:name ?n } UNION { ?s p:knows ?n } }""")))
    assert out == [("a", "Ada"), ("a", "b"), ("c", "c")]


def test_values_bag_semantics_without_patterns(kg):
    # duplicate VALUES rows multiply solutions (bag, not set)
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        ?s p:name ?n . { VALUES ?s { "a" "a" } } }""")))
    assert out == [("a", "Ada"), ("a", "Ada")]


def test_minus_applies_to_union_solutions(kg):
    out = sorted(_rows(sparql(kg, """SELECT DISTINCT ?s WHERE {
        { ?s p:name ?n } UNION { ?s p:knows ?o }
        MINUS { ?s p:knows "c" } }""")))
    assert out == [("a",)]


def test_union_undef_values_without_patterns(kg):
    """A nested VALUES-only group with an UNDEF cell conjoins under
    §18.5 compatibility: UNDEF constrains nothing."""
    out = _rows(sparql(kg, """SELECT ?s ?o WHERE {
        ?s p:knows ?o . { VALUES (?s ?o) { ("a" UNDEF) } } }"""))
    assert out == [("a", "b")]


def test_exists_on_possibly_unbound_shared_var(kg):
    """§8.1.1: only BOUND variables substitute into EXISTS — an
    unbound shared ?o is FREE inside the pattern (per-bucket
    semi-join on the bound keys only)."""
    out = sorted(_rows(sparql(kg, """SELECT ?s WHERE {
        { ?s p:name ?n } UNION { ?s p:knows ?o }
        FILTER EXISTS { ?s p:knows ?o } }""")))
    # o-bound rows (a,b),(b,c),(c,c) all ARE knows-edges; o-unbound
    # name rows test only ?s p:knows ANY — true for a, b, and b
    assert out == [("a",), ("a",), ("b",), ("b",), ("b",), ("c",)]


def test_minus_on_possibly_unbound_shared_var(kg):
    """§8.3: a MINUS row removes a solution iff compatible AND the
    bound domains overlap; an unbound ?o still overlaps on ?s."""
    out = _rows(sparql(kg, """SELECT ?s WHERE {
        { ?s p:name ?n } UNION { ?s p:knows ?o }
        MINUS { ?s p:knows ?o } }"""))
    # o-bound rows match a knows-edge exactly; o-unbound rows (names
    # of a and b) are compatible with any edge sharing their ?s —
    # and a, b both have outgoing edges — so everything is removed
    assert out == []


def test_minus_unbound_kept_when_no_overlapping_row(spark):
    """The o-unbound bucket anti-joins on ?s alone: a subject with a
    name but NO outgoing edge survives the MINUS."""
    rows = [("a", "p:knows", "b"), ("a", "p:name", "Ada"),
            ("z", "p:name", "Zoe")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t, """SELECT ?s WHERE {
        { ?s p:name ?n } UNION { ?s p:knows ?o }
        MINUS { ?s p:knows ?o } }""")))
    assert out == [("z",)]


def test_optional_chained_on_optional_bound_var(spark):
    """A later OPTIONAL keyed on a variable an earlier OPTIONAL bound:
    rows where the key is unbound are compatible with EVERY solution
    of the later group and adopt its bindings (SPARQL leftjoin)."""
    rows = [("s1", "p:r", "v1"), ("s2", "p:r", "v2"),
            ("s1", "p:q", "y1"),
            ("y1", "p:n", "w1"), ("k", "p:n", "w2")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t, """SELECT ?s ?y ?w WHERE {
        ?s p:r ?v .
        OPTIONAL { ?s p:q ?y }
        OPTIONAL { ?y p:n ?w } }""")))
    assert out == [("s1", "y1", "w1"),
                   ("s2", "k", "w2"), ("s2", "y1", "w1")]


def test_optional_beside_patternless_group(kg):
    """OPTIONAL next to a union-only / VALUES-only group left-joins
    onto the assembled solutions instead of being silently ignored."""
    out = sorted(_rows(sparql(kg, """SELECT DISTINCT ?s ?o WHERE {
        { ?s p:name "Ada" } UNION { ?s p:name "Bob" }
        OPTIONAL { ?s p:knows ?o } }""")))
    assert out == [("a", "b"), ("b", "c")]
    # unmatched left rows survive with NULL
    out = sorted(_rows(sparql(kg, """SELECT ?s ?t WHERE {
        { VALUES ?s { "a" "c" } }
        OPTIONAL { ?s p:type ?t } }""")), key=str)
    assert out == [("a", "Person"), ("c", None)]
    # a filter inside the OPTIONAL unit (right-side variables only)
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        { VALUES ?s { "b" } }
        OPTIONAL { ?s p:name ?n FILTER(?n = "Bobby") } }""")), key=str)
    assert out == [("b", "Bobby")]
    # ...and one reading group-side variables evaluates over the
    # merged solution (§6.1): only the name equal to ?m survives
    out = _rows(sparql(kg, """SELECT ?s ?n WHERE {
        { VALUES (?s ?m) { ("b" "Bob") } }
        OPTIONAL { ?s p:name ?n FILTER(?n = ?m) } }"""))
    assert out == [("b", "Bob")]


@pytest.fixture(scope="module")
def chain_kg(spark):
    rows = [("s1", "p:r", "v1"), ("s2", "p:r", "v2"),
            ("s1", "p:q", "y1"),
            ("y1", "p:n", "w1"), ("k", "p:n", "w2")]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_optional_full_group_nested(chain_kg):
    """A full-group OPTIONAL is a UNIT solved recursively: the nested
    OPTIONAL lives INSIDE the unit, so an outer miss leaves all its
    variables unbound together (contrast with two sibling OPTIONALs,
    where the second adopts bindings for unbound keys)."""
    out = sorted(_rows(sparql(chain_kg, """SELECT ?s ?y ?w WHERE {
        ?s p:r ?v .
        OPTIONAL { ?s p:q ?y OPTIONAL { ?y p:n ?w } } }""")),
        key=str)
    assert out == [("s1", "y1", "w1"), ("s2", None, None)]


def test_optional_full_group_bind_union_values(chain_kg):
    # BIND inside OPTIONAL
    out = sorted(_rows(sparql(chain_kg, """SELECT ?s ?z WHERE {
        ?s p:r ?v .
        OPTIONAL { ?s p:q ?y BIND(CONCAT(?y, "!") AS ?z) } }""")),
        key=str)
    assert out == [("s1", "y1!"), ("s2", None)]
    # UNION inside OPTIONAL — the unit matches via either branch
    out = sorted(_rows(sparql(chain_kg, """SELECT ?s ?y WHERE {
        ?s p:r ?v .
        OPTIONAL { { ?s p:q ?y } UNION { ?s p:r ?y } } }""")),
        key=str)
    assert out == [("s1", "v1"), ("s1", "y1"), ("s2", "v2")]
    # VALUES inside OPTIONAL constrains the unit
    out = sorted(_rows(sparql(chain_kg, """SELECT ?s ?y WHERE {
        ?s p:r ?v .
        OPTIONAL { ?s p:q ?y VALUES ?y { "nope" } } }""")), key=str)
    assert out == [("s1", None), ("s2", None)]


def test_exists_minus_full_group(spark):
    rows = [("x1", "p:d", "c1"), ("x2", "p:d", "c9"),
            ("x3", "p:d", "c3"),
            ("x1", "p:a", "m"), ("x2", "p:b", "m"),
            ("x1", "p:c", "c1")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    # EXISTS over a union body: kept iff either branch matches
    out = sorted(_rows(sparql(t, """SELECT ?x WHERE {
        ?x p:d ?v .
        FILTER EXISTS { { ?x p:a ?m } UNION { ?x p:b ?m } } }""")))
    assert out == [("x1",), ("x2",)]
    # NOT EXISTS over the same body
    out = sorted(_rows(sparql(t, """SELECT ?x WHERE {
        ?x p:d ?v .
        FILTER NOT EXISTS { { ?x p:a ?m } UNION { ?x p:b ?m } } }""")))
    assert out == [("x3",)]
    # a body that may leave the shared variable unbound (partial
    # UNION) evaluates under §8.1.1 substitution: ?v substitutes into
    # the first branch, the second branch never mentions it
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v .
        FILTER EXISTS { { ?x p:a ?v } UNION { ?x p:b ?m } } }""")))
    # x1: p:a binds m != c1, no p:b -> false; x2: p:b matches -> true
    assert out == [("x2", "c9")]
    # a body FILTER reading an outer variable substitutes per §8.1.1
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v .
        FILTER EXISTS { ?x p:a ?m FILTER(?m != ?v) } }""")))
    assert out == [("x1", "c1")]
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v .
        FILTER NOT EXISTS { ?x p:a ?m FILTER(?m != ?v) } }""")))
    assert out == [("x2", "c9"), ("x3", "c3")]


def test_exists_substitution_inside_optional(spark):
    """The canonical §8.1.1 substitution case a naive semi-join gets
    WRONG: the outer binding substitutes INSIDE the body's OPTIONAL —
    a failing optional still keeps the body solution, so EXISTS is
    true even when the body's optional value differs from the outer
    one."""
    rows = [("x1", "p:d", "c1"), ("x4", "p:d", "c7"),
            ("x5", "p:d", "c5"),
            ("x1", "p:a", "m"), ("x4", "p:a", "m"),
            ("x1", "p:c", "c1"), ("x4", "p:c", "OTHER")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v .
        FILTER EXISTS { ?x p:a ?m OPTIONAL { ?x p:c ?v } } }""")))
    # x1: required matches, optional binds c1 = outer -> true
    # x4: required matches; OPTIONAL { x4 p:c c7 } fails but KEEPS
    #     the solution (substitution semantics) -> true
    # x5: required part has no match -> false
    assert out == [("x1", "c1"), ("x4", "c7")]
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v .
        FILTER NOT EXISTS { ?x p:a ?m OPTIONAL { ?x p:c ?v } } }""")))
    assert out == [("x5", "c5")]
    # body FILTER over the optionally-bound variable: BOUND() answers
    # against the merged (substituted) solution
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v .
        FILTER EXISTS { ?x p:a ?m
                        OPTIONAL { ?x p:c ?w }
                        FILTER(!BOUND(?w) || ?w = ?v) } }""")))
    # x1: w = c1 = v -> true; x4: w = OTHER != c7 -> filter false ->
    # no body solution -> false
    assert out == [("x1", "c1")]


def test_exists_outer_filter_var_unbound_bucket(spark):
    """A body FILTER reading an outer variable the outer OPTIONAL
    left UNBOUND: the unbound bucket injects a NULL column, so the
    comparison is NULL (no witness) while BOUND() answers false —
    never an unresolved-column error."""
    rows = [("x1", "p:d", "c1"), ("x2", "p:d", "c2"),
            ("x1", "p:o", "c1"),          # only x1 gets ?w bound
            ("x1", "p:a", "c1"), ("x2", "p:a", "zz")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v . OPTIONAL { ?x p:o ?w }
        FILTER EXISTS { ?x p:a ?m FILTER(?m = ?w) } }""")))
    # x1: w=c1, body m=c1 -> m = w true; x2: w unbound -> NULL -> no
    # body solution survives -> dropped
    assert out == [("x1", "c1")]
    # BOUND(?w) distinguishes the buckets (unbound -> false branch)
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v . OPTIONAL { ?x p:o ?w }
        FILTER EXISTS { ?x p:a ?m
                        FILTER(IF(BOUND(?w), ?m = ?w, ?m = "zz")) }
        }""")))
    assert out == [("x1", "c1"), ("x2", "c2")]
    # NOT EXISTS over the same shape: complements within each bucket
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v . OPTIONAL { ?x p:o ?w }
        FILTER NOT EXISTS { ?x p:a ?m FILTER(?m = ?w) } }""")))
    assert out == [("x2", "c2")]


def test_exists_body_disconnected_from_substitution(spark):
    """A body FILTER reading ONLY outer variables over a body pattern
    sharing nothing with them: the injected seed cross-joins the
    (capped, dimension-sized) body block — the substitution-mandated
    product."""
    rows = [("x1", "p:d", "3"), ("x2", "p:d", "9"),
            ("y", "p:lim", "5")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?x ?v WHERE {
        ?x p:d ?v .
        FILTER EXISTS { ?y p:lim ?lim
                        FILTER(xsd:integer(?v) < xsd:integer(?lim)) }
        }""")))
    assert out == [("x1", "3")]


def test_exists_injection_refusals(spark):
    """The injected translation's honest edges: nested groups that
    PARTIALLY bind a substituted variable (substitution reaches
    inside them; the compat join cannot mirror it), subqueries and
    MINUS inside a substituted body (spec-contested), and rebinding
    a substituted variable."""
    rows = [("x1", "p:d", "c1"), ("x1", "p:a", "m")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    # nested UNION branch binds substituted ?v only optionally
    with pytest.raises(SparqlUnsupported, match="nests a"):
        sparql(t, """SELECT ?x ?v WHERE {
            ?x p:d ?v .
            FILTER EXISTS { { ?x p:a ?m OPTIONAL { ?x p:c ?v } }
                            UNION { ?x p:b ?m } } }""")
    # subquery inside a substituted body
    with pytest.raises(SparqlUnsupported, match="subquery"):
        sparql(t, """SELECT ?x ?v WHERE {
            ?x p:d ?v .
            FILTER EXISTS { ?x p:a ?m OPTIONAL { ?x p:c ?v }
                            { SELECT ?m WHERE { ?z p:a ?m } } } }""")
    # MINUS inside a substituted body
    with pytest.raises(SparqlUnsupported, match="MINUS"):
        sparql(t, """SELECT ?x ?v WHERE {
            ?x p:d ?v .
            FILTER EXISTS { ?x p:a ?m OPTIONAL { ?x p:c ?v }
                            MINUS { ?x p:b ?m } } }""")
    # BIND targeting a substituted variable
    with pytest.raises(SparqlUnsupported, match="BIND"):
        sparql(t, """SELECT ?x ?v WHERE {
            ?x p:d ?v .
            FILTER EXISTS { ?x p:a ?m FILTER(?m != ?v)
                            BIND("q" AS ?v) } }""")


def test_exists_substitution_shape_builtins(spark):
    """A term-shape builtin (LANG / DATATYPE / ISNUMERIC) applied to
    a SUBSTITUTED variable inside a FILTER EXISTS body must see the
    OUTER term's shape (§8.1.1 substitution-by-constant): the seed
    carries the ``__shape_*`` companions of every injected variable.
    Regression: the first injection seed dropped the companions, so
    LANG(?v) compiled against a NULL-filled column — EXISTS silently
    returned [] and NOT EXISTS wrongly kept every row."""
    rows = [
        ("urn:a", "p:d", "hello", False, "en", None),
        ("urn:b", "p:d", "hola", False, "es", None),
        ("urn:c", "p:d", "plain", False, None, None),
        ("urn:d", "p:d", "42", False, None, _XSD_INT),
        ("urn:a", "p:a", "m1", False, None, None),
        ("urn:b", "p:a", "m2", False, None, None),
        ("urn:d", "p:a", "m3", False, None, None),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
              "obj_is_iri boolean, obj_lang string, obj_datatype string")
    q = """SELECT ?x ?v WHERE { ?x p:d ?v .
           FILTER EXISTS { ?x p:a ?m FILTER(LANG(?v) = "en") } }"""
    assert sorted(_rows(sparql(t, q))) == [("urn:a", "hello")]
    # the NOT EXISTS dual complements over rows WITH a p:a match;
    # urn:c has no p:a at all, so its body never witnesses either way
    qn = q.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    assert sorted(_rows(sparql(t, qn))) == [
        ("urn:b", "hola"), ("urn:c", "plain"), ("urn:d", "42")]
    # DATATYPE-family builtin over the substituted variable
    out = sorted(_rows(sparql(t, """SELECT ?x WHERE { ?x p:d ?v .
        FILTER EXISTS { ?x p:a ?m FILTER(ISNUMERIC(?v)) } }""")))
    assert out == [("urn:d",)]
    # substituted variable ALSO matched by a body pattern: the outer
    # (seed) shape wins through the conjoin — body matches that
    # disagree lexically are dropped by the equi-join as before
    out = sorted(_rows(sparql(t, """SELECT ?x WHERE { ?x p:d ?v .
        FILTER EXISTS { ?x p:d ?v FILTER(LANG(?v) != "") } }""")))
    assert out == [("urn:a",), ("urn:b",)]


def test_exists_shape_builtin_unbound_and_shapeless(spark):
    """Shape builtins over an injected variable with NO usable shape:
    an outer-OPTIONAL-unbound bucket injects a NULL value column and
    NULL companions, so LANG(?w) is the type error (no witness) and
    BOUND(?w) still answers — filtered, never misclassified, never an
    unresolved ``__shape_*`` column error."""
    rows = [
        ("urn:a", "p:d", "da", False, None, None),
        ("urn:b", "p:d", "db", False, None, None),
        ("urn:a", "p:o", "wa", False, "en", None),  # only urn:a binds ?w
        ("urn:a", "p:a", "m1", False, None, None),
        ("urn:b", "p:a", "m2", False, None, None),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
              "obj_is_iri boolean, obj_lang string, obj_datatype string")
    out = sorted(_rows(sparql(t, """SELECT ?x WHERE {
        ?x p:d ?v . OPTIONAL { ?x p:o ?w }
        FILTER EXISTS { ?x p:a ?m FILTER(LANG(?w) = "en") } }""")))
    assert out == [("urn:a",)]
    out = sorted(_rows(sparql(t, """SELECT ?x WHERE {
        ?x p:d ?v . OPTIONAL { ?x p:o ?w }
        FILTER NOT EXISTS { ?x p:a ?m FILTER(LANG(?w) = "en") } }""")))
    assert out == [("urn:b",)]


def test_minus_full_group_with_inner_optional(spark):
    """§8.3 with a MINUS body that leaves a shared variable unbound
    via its inner OPTIONAL: removal needs compatibility on the
    commonly-bound domain only."""
    rows = [("x1", "p:d", "c1"), ("x2", "p:d", "c9"),
            ("x3", "p:d", "c3"),
            ("x1", "p:a", "m"), ("x2", "p:a", "m"),
            ("x1", "p:c", "c1")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t, """SELECT ?x ?v WHERE {
        ?x p:d ?v .
        MINUS { ?x p:a ?m OPTIONAL { ?x p:c ?v } } }""")))
    # x1: minus row (x1, m, c1) agrees on {x, v} -> removed;
    # x2: minus row (x2, m, unbound v) agrees on {x} -> removed;
    # x3: no minus row shares its ?x -> kept
    assert out == [("x3", "c3")]


def test_review_r3_findings(spark):
    """Round-3 review regressions."""
    # 1: an OPTIONAL-body filter reading a variable the body binds
    # only OPTIONALLY must evaluate over the §6.1 merge (where the
    # outer binding adopts), not against the body's NULL
    t = spark.createDataFrame(
        [("s1", "p:a", "5"), ("s1", "p:c", "y1")],
        ["subj", "pred", "obj"])
    out = _rows(sparql(t, """SELECT ?s ?x ?y WHERE {
        ?s p:a ?x .
        OPTIONAL { ?s p:c ?y OPTIONAL { ?s p:b ?x }
                   FILTER(?x > 0) } }"""))
    assert out == [("s1", "5", "y1")]
    # 3: MINUS {} removes nothing (§8.3 disjoint domains)
    assert _rows(sparql(t, """SELECT ?s WHERE {
        ?s p:a ?o MINUS { } }""")) == [("s1",)]
    # 5: BIND-defined variables are visible to FILTER EXISTS (§18.2.2.2
    # filters apply over the finished group, after Extend)
    t2 = spark.createDataFrame(
        [("a", "p:a", "1"), ("a", "p:b", "1!"),
         ("b", "p:a", "5"), ("b", "p:b", "9!")],
        ["subj", "pred", "obj"])
    out = _rows(sparql(t2, """SELECT ?s WHERE {
        ?s p:a ?x . BIND(CONCAT(?x, "!") AS ?y)
        FILTER EXISTS { ?s p:b ?y } }"""))
    assert out == [("a",)]
    # 7: the matcher-path decomposition cap surfaces as
    # SparqlUnsupported like every front-end cap
    with pytest.raises(SparqlUnsupported, match="capped"):
        sparql(t2, """SELECT ?s WHERE {
            ?s p:a ?o
            OPTIONAL { ?s p:b ?x . ?s p:c ?y . ?s p:d ?z }
            OPTIONAL { ?x p:e ?q . ?y p:f ?q . ?z p:g ?q } }""")


def test_operand_order_guard(kg):
    """§18.2.2.6 is positional: shapes the solver would execute in
    the WRONG order refuse; shapes whose effective order matches the
    syntax solve."""
    # inline path: a simple OPTIONAL before a UNION executes
    # optional-first — exactly the spec order — and the unbound ?y
    # adopts the union bindings under §18.5
    out = sorted(_rows(sparql(kg, """SELECT ?s WHERE {
        ?s p:type ?x . OPTIONAL { ?s p:d ?y }
        { ?s p:name ?y } UNION { ?s p:knows ?y } }""")))
    assert out == [("a",), ("a",), ("b",), ("b",), ("b",)]
    # MINUS before a later triples block that introduces ?y would
    # execute AFTER it — refused
    with pytest.raises(SparqlUnsupported, match="executes"):
        sparql(kg, """SELECT ?s WHERE {
            ?s p:type ?x . MINUS { ?s p:knows ?y }
            ?s p:name ?y }""")
    # a COMPLEX optional before a UNION routes through the generic
    # loop (union conjoins first) — refused
    with pytest.raises(SparqlUnsupported, match="executes"):
        sparql(kg, """SELECT ?s WHERE {
            ?s p:type ?x .
            OPTIONAL { ?s p:d ?y BIND(1 AS ?k) }
            { ?s p:name ?y } UNION { ?s p:knows ?y } }""")
    # sharing only already-certain variables stays legal (commutes)
    out = sorted(_rows(sparql(kg, """SELECT DISTINCT ?s WHERE {
        ?s p:type ?x . OPTIONAL { ?s p:knows ?y }
        ?s p:name ?n }""")))
    assert out == [("a",), ("b",)]


def test_graph_inside_optional_with_dataset(spark):
    """GRAPH nested in a full-group OPTIONAL sees the full dataset
    under FROM/FROM NAMED clauses (_quads rides into the body)."""
    rows = [("a", "p:x", "1", "urn:g1"), ("a", "p:y", "2", "urn:g2")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj", "graph"])
    out = _rows(sparql(t, """SELECT ?s ?v
        FROM <urn:g1> FROM NAMED <urn:g2>
        WHERE { ?s p:x ?o
                OPTIONAL { GRAPH <urn:g2> { ?s p:y ?v }
                           BIND(1 AS ?k) } }"""))
    assert out == [("a", "2")]


def test_review_r3_wave2_findings(spark):
    """Second review wave over the round-3 diff."""
    t = spark.createDataFrame(
        [("a", "urn:p", "A"), ("b", "urn:p", "B"),
         ("a", "urn:q", "x"), ("b", "urn:q", "y")],
        ["subj", "pred", "obj"])
    # 1: BIND-defined variables constrain EXISTS and MINUS (§18.2.2.2
    # filters after Extend; MINUS after the binds it follows)
    out = _rows(sparql(t, """SELECT ?s WHERE {
        ?s <urn:p> ?o . BIND("x" AS ?v)
        FILTER EXISTS { ?s <urn:q> ?v } }"""))
    assert out == [("a",)]
    out = _rows(sparql(t, """SELECT ?s WHERE {
        ?s <urn:p> ?o . BIND("x" AS ?v)
        MINUS { ?s <urn:q> ?v } }"""))
    assert out == [("b",)]
    # 2: in-group VALUES sharing an OPTIONAL-bound variable joins
    # under §18.5 compatibility — the unbound solution adopts each
    # row's binding instead of being dropped
    t2 = spark.createDataFrame(
        [("a", "urn:p", "A"), ("b", "urn:p", "B"),
         ("a", "urn:q", "1")],
        ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t2, """SELECT ?s ?o ?x WHERE {
        ?s <urn:p> ?o . OPTIONAL { ?s <urn:q> ?x }
        VALUES ?x { "1" "2" } }""")))
    assert out == [("a", "A", "1"), ("b", "B", "1"), ("b", "B", "2")]
    # 4: a projection expression may read a trailing-VALUES extension
    # variable (§18.2.4.3 Values before §18.2.4.4 Select expressions)
    out = _rows(sparql(t2, """SELECT ?s (CONCAT(?v, "!") AS ?w)
        WHERE { ?s <urn:p> ?o } VALUES ?v { "x" }"""))
    assert sorted(out) == [("a", "x!"), ("b", "x!")]


def test_review_r3_wave2_shaped(spark):
    t = spark.createDataFrame(
        [("a", "urn:p", "A", False, None, None)],
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_lang string, obj_datatype string")
    # 3: CONSTRUCT with a trailing-VALUES extension variable as a
    # template object works on a shaped frame (lexically-inferred
    # companions, not an unresolved-column crash)
    out = sparql(t, """CONSTRUCT { ?s <urn:t> ?v }
        WHERE { ?s <urn:p> ?o } VALUES ?v { "tagval" }""")
    rows = [(r["subj"], r["pred"], r["obj"], r["obj_is_iri"])
            for r in out.collect()]
    assert rows == [("a", "urn:t", "tagval", False)]
    # 5: VALUES bindings get the SAME lexically-inferred shape in the
    # pattern-less nested form as in the sibling form
    q1 = """SELECT ?s ?x WHERE { ?s <urn:p> ?o
            VALUES (?o ?x) { ("A" "urn:u") } FILTER(ISIRI(?x)) }"""
    q2 = """SELECT ?s ?x WHERE { ?s <urn:p> ?o .
            { VALUES (?o ?x) { ("A" "urn:u") } } FILTER(ISIRI(?x)) }"""
    assert _rows(sparql(t, q1)) == [("a", "urn:u")]
    assert _rows(sparql(t, q2)) == [("a", "urn:u")]


def test_review_r3_wave3_findings(spark):
    """Third review wave: guard precision + adopted-cell shapes."""
    t = spark.createDataFrame(
        [("a", "urn:p", "o1"), ("a", "urn:q", "z1")],
        ["subj", "pred", "obj"])
    # VALUES written before the patterns is idiomatic and commutes
    # (the shared variable is certain via the patterns, which execute
    # first regardless of syntax) — must NOT refuse
    out = _rows(sparql(t, """SELECT ?s ?z WHERE {
        VALUES ?s { "a" }
        ?s <urn:p> ?o OPTIONAL { ?s <urn:q> ?z } }"""))
    assert out == [("a", "z1")]
    # a BIND reading a variable a LATER operand binds would extend
    # with the wrong value — refused, not misanswered
    with pytest.raises(SparqlUnsupported, match="executes"):
        sparql(t, """SELECT ?s ?y WHERE {
            ?s <urn:p> ?o . BIND(?x AS ?y) ?s <urn:q> ?x }""")
    # a VALUES cell ADOPTED by an unmatched-OPTIONAL solution carries
    # a lexically-inferred shape, not the stale NULL companion
    t2 = spark.createDataFrame(
        [("a", "urn:p", "A", False, None, None),
         ("b", "urn:p", "B", False, None, None),
         ("a", "urn:q", "urn:u", True, None, None)],
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_lang string, obj_datatype string")
    out = sorted(_rows(sparql(t2, """SELECT ?s ?x WHERE {
        ?s <urn:p> ?o . OPTIONAL { ?s <urn:q> ?x }
        VALUES ?x { "urn:u" } FILTER(ISIRI(?x)) }""")))
    assert out == [("a", "urn:u"), ("b", "urn:u")]


def test_operand_order_guard_values(kg):
    """VALUES syntactically BEFORE an OPTIONAL it shares an uncertain
    variable with refuses (the solver joins VALUES after inline
    optionals), while the OPTIONAL-then-VALUES order solves."""
    with pytest.raises(SparqlUnsupported, match="executes"):
        sparql(kg, """SELECT ?s WHERE {
            ?s p:type ?t . VALUES ?x { "b" }
            OPTIONAL { ?s p:knows ?x } }""")


def test_patternless_values_compat_join(kg):
    """In-group VALUES with no sibling patterns routes through the
    full §18.5 compatibility join: UNDEF cells are legal and an
    unbound solution cell adopts the row's binding."""
    out = sorted(_rows(sparql(kg, """SELECT ?s ?x WHERE {
        { SELECT ?s ?x WHERE { ?s p:type "Person" .
                               OPTIONAL { ?s p:knows ?x
                                          FILTER(?x = "c") } } }
        VALUES ?x { "b" } }""")))
    # a's OPTIONAL misses (?x unbound) -> adopts "b"; b knows c -> drops
    assert out == [("a", "b")]
    # UNDEF rows constrain nothing
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        { SELECT ?s ?n WHERE { ?s p:name ?n } }
        VALUES (?s ?n) { ("a" UNDEF) (UNDEF "Bobby") } }""")))
    assert out == [("a", "Ada"), ("b", "Bobby")]


def test_two_values_blocks_merge(kg):
    """A second VALUES in the same group joins with the first at parse
    time instead of silently overwriting it."""
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        ?s p:name ?n . VALUES ?s { "a" "b" } VALUES ?n { "Bobby" } }""")))
    assert out == [("b", "Bobby")]
    # disjoint columns: parse-time product
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        ?s p:name ?n . VALUES ?s { "b" } VALUES ?n { "Bob" "Bobby" } }""")))
    assert out == [("b", "Bob"), ("b", "Bobby")]
    # UNDEF adopts the other table's binding
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        ?s p:name ?n .
        VALUES (?s ?n) { ("a" UNDEF) ("b" "Bob") }
        VALUES ?n { "Ada" "Bob" } }""")))
    assert out == [("a", "Ada"), ("b", "Bob")]


def test_union_join_on_subquery_certain_var(kg):
    """_certain_vars sees subquery projections: a variable pattern-
    bound inside a subquery is a legal UNION join key (previously a
    false SparqlUnsupported)."""
    out = sorted(_rows(sparql(kg, """SELECT DISTINCT ?s WHERE {
        { SELECT ?s WHERE { ?s p:type "Person" } }
        { ?s p:name ?n } UNION { ?s p:knows ?o } }""")))
    assert out == [("a",), ("b",)]


def test_scalar_subquery_compat_join(kg):
    """An ungrouped-aggregate subquery (exactly one row) joins with
    full compatibility semantics even when the shared variable can be
    unbound on either side — including the empty-match case, where the
    scalar row's unbound cell must not wipe the outer solutions."""
    out = sorted(_rows(sparql(kg, """SELECT ?s ?n WHERE {
        ?s p:name ?n .
        { SELECT (MAX(?z) AS ?n) WHERE { ?x p:nosuch ?z } } }""")))
    assert out == [("a", "Ada"), ("b", "Bob"), ("b", "Bobby")]
    # disjoint domain: a scalar subquery is a legal 1-row product
    out = sorted(_rows(sparql(kg, """SELECT ?s ?c WHERE {
        ?s p:type "Person" .
        { SELECT (COUNT(?x) AS ?c) WHERE { ?x p:knows ?y } } }""")))
    assert out == [("a", 3), ("b", 3)]


def test_timezone_builtin(spark):
    """TIMEZONE (§17.4.5.7): the trailing lexical zone maps to the
    canonical xsd:dayTimeDuration lexical; a zone-less dateTime is the
    spec's type error, compiled to NULL (unbound).  As the whole BIND
    body it stamps the typed-literal shape, like STRDT."""
    rows = [("e" + str(i), "p:at", lex) for i, lex in enumerate([
        "2011-01-10T14:45:13Z",        # e0 -> PT0S
        "2011-01-10T14:45:13-05:00",   # e1 -> -PT5H
        "2011-01-10T14:45:13+05:30",   # e2 -> PT5H30M
        "2011-01-10T14:45:13+00:00",   # e3 -> PT0S
        "2011-01-10T14:45:13-00:30",   # e4 -> -PT30M
        "2011-01-10T14:45:13",         # e5 -> type error (NULL)
    ])]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = dict(_rows(sparql(t, """
        SELECT ?e ?d WHERE { ?e p:at ?t . BIND(TIMEZONE(?t) AS ?d) }
    """)))
    assert out == {"e0": "PT0S", "e1": "-PT5H", "e2": "PT5H30M",
                   "e3": "PT0S", "e4": "-PT30M", "e5": None}
    # TZ twin: the raw zone string, '' when absent (never NULL)
    tz = dict(_rows(sparql(t, """
        SELECT ?e ?z WHERE { ?e p:at ?t . BIND(TZ(?t) AS ?z) }""")))
    assert tz["e1"] == "-05:00" and tz["e5"] == ""
    # constructor shape: the BIND target is a typed literal
    shaped = _rows(sparql(t, """
        SELECT ?e ?dt WHERE {
          ?e p:at ?t . BIND(TIMEZONE(?t) AS ?d)
          BIND(DATATYPE(?d) AS ?dt) FILTER(BOUND(?d))
        } ORDER BY ?e LIMIT 1"""))
    assert shaped == [
        ("e0", "http://www.w3.org/2001/XMLSchema#dayTimeDuration")]
    # FILTER propagation: the type error drops the row, per spec
    kept = _rows(sparql(t, """
        SELECT ?e WHERE { ?e p:at ?t FILTER(TIMEZONE(?t) = "PT0S") }
        ORDER BY ?e"""))
    assert kept == [("e0",), ("e3",)]


def test_text_path_closure_deep_chain(spark):
    """A 60-deep chain through the text surface's ``+``: the doubling
    strategy closes it well inside the default iteration budget
    (semi-naive's 20 rounds would refuse) — n*(n-1)/2 pairs."""
    n = 60
    t = spark.createDataFrame(
        [(f"n{i}", "p:next", f"n{i+1}") for i in range(n - 1)],
        ["subj", "pred", "obj"])
    out = sparql(t, "SELECT ?s ?o WHERE { ?s p:next+ ?o }")
    assert out.count() == n * (n - 1) // 2
    star = sparql(t, "SELECT ?s ?o WHERE { ?s p:next* ?o }")
    assert star.count() == n * (n - 1) // 2 + n  # + zero-length pairs


def test_text_group_concat_separator_distinct(kg):
    """GROUP_CONCAT with SEPARATOR and DISTINCT through the text
    surface: sorted join, so the output is deterministic."""
    out = sorted(_rows(sparql(kg, """
        SELECT ?x (GROUP_CONCAT(DISTINCT ?n; SEPARATOR="|") AS ?ns)
        WHERE { ?x p:name ?n } GROUP BY ?x""")))
    assert out == [("a", "Ada"), ("b", "Bob|Bobby")]


# ------------------------------------------------------------------ #
# SPARQL 1.1 UPDATE: LOAD
# ------------------------------------------------------------------ #

def _shaped(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
              "obj_is_iri boolean, obj_lang string, obj_datatype string")


def test_update_load_ntriples(spark, tmp_path):
    """LOAD of an N-Triples file: set-semantics insert, literal shape
    preserved, per-source bnode rescope."""
    from pyrdfa3_spark.operators.sparql import update

    nt = tmp_path / "dim.nt"
    nt.write_text(
        '<s1> <p> "lit"@en .\n'
        '# comment\n'
        '<s1> <p> <o1> .\n'
        '_:b1 <p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<s2> <p> _:b1 .\n')
    store = _shaped(spark, [("s1", "p", "o1", True, None, None),
                            ("x", "p", "keep", False, None, None)])
    out = update(store, f"LOAD <file://{nt}>")
    rows = {(r.subj, r.pred, r.obj, r.obj_is_iri, r.obj_lang,
             r.obj_datatype) for r in out.collect()}
    assert ("s1", "p", "lit", False, "en", None) in rows
    assert ("x", "p", "keep", False, None, None) in rows
    # set semantics: <s1> <p> <o1> was already present
    assert len(rows) == 2 + 3
    # bnodes are rescoped per source document, subject AND object side
    bsubj = [r for r in rows if r[0].startswith("_:l")]
    bobj = [r for r in rows if r[3] and r[2].startswith("_:l")]
    assert len(bsubj) == 1 and len(bobj) == 1
    assert bsubj[0][0] == bobj[0][2]  # same label, same rescope

    # loading the same file again adds nothing (RDF set semantics)
    assert update(out, f"LOAD <{nt}>").count() == out.count()


def test_update_load_turtle_into_graph(spark, tmp_path):
    """Block-format LOAD INTO GRAPH on a quad store; prefixes resolve
    inside the document, all triples land in the target graph."""
    from pyrdfa3_spark.operators.sparql import update

    ttl = tmp_path / "vocab.ttl"
    ttl.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:a ex:knows ex:b .\n"
        'ex:a ex:name "Ada" .\n')
    q = spark.createDataFrame(
        [("s", "p", "o", None, True, None, None)],
        "subj string, pred string, obj string, graph string, "
        "obj_is_iri boolean, obj_lang string, obj_datatype string")
    out = update(q, f"LOAD <file://{ttl}> INTO GRAPH <urn:vocab>")
    got = {(r.subj, r.pred, r.obj, r.graph) for r in out.collect()}
    assert ("http://ex.org/a", "http://ex.org/knows",
            "http://ex.org/b", "urn:vocab") in got
    assert ("http://ex.org/a", "http://ex.org/name",
            "Ada", "urn:vocab") in got
    assert ("s", "p", "o", None) in got
    # without INTO the default (NULL) graph receives the triples
    dflt = update(q, f"LOAD <file://{ttl}>")
    assert dflt.filter("graph IS NULL").count() == 3


def test_update_load_failure_modes(spark, tmp_path):
    """Missing file / remote scheme / unknown extension raise;
    SILENT converts each to a no-op; INTO GRAPH needs a quad frame;
    tagged literals refuse a shapeless store; quad lines refuse a
    .nt document."""
    from pyrdfa3_spark.operators.sparql import update

    store = _shaped(spark, [("s", "p", "o", True, None, None)])
    plain = spark.createDataFrame([("s", "p", "o")],
                                  ["subj", "pred", "obj"])

    for bad in (f"LOAD <file://{tmp_path}/absent.nt>",
                "LOAD <http://example.org/remote.nt>",
                f"LOAD <file://{tmp_path}/absent.xyz>"):
        with pytest.raises(SparqlError):
            update(store, bad)
        silent = bad.replace("LOAD ", "LOAD SILENT ")
        assert update(store, silent).count() == 1  # no-op

    with pytest.raises(SparqlError):  # INTO needs a quad frame
        nt = tmp_path / "a.nt"
        nt.write_text("<s> <p> <o> .\n")
        update(store, f"LOAD <{nt}> INTO GRAPH <urn:g>")

    tagged = tmp_path / "tagged.nt"
    tagged.write_text('<s> <p> "x"@en .\n')
    with pytest.raises(SparqlUnsupported):
        update(plain, f"LOAD <{tagged}>")
    plain_nt = tmp_path / "plain.nt"
    plain_nt.write_text('<s> <p> "just lexical" .\n')
    assert update(plain, f"LOAD <{plain_nt}>").count() == 2

    quadline = tmp_path / "quads.nt"
    quadline.write_text("<s> <p> <o> <urn:g> .\n")
    with pytest.raises(SparqlError):
        update(store, f"LOAD <{quadline}>")
    # garbage object term is a parse error, not a silent drop
    junk = tmp_path / "junk.nt"
    junk.write_text("<s> <p> junk .\n")
    with pytest.raises(SparqlError):
        update(store, f"LOAD <{junk}>")


def test_update_load_nquads_and_sequence(spark, tmp_path):
    """LOAD of an N-Quads file onto a quad store keeps the document's
    graph terms; INTO GRAPH overrides them; LOAD composes in
    ';'-sequences."""
    from pyrdfa3_spark.operators.sparql import update

    nq = tmp_path / "d.nq"
    nq.write_text("<s1> <p> <o1> <urn:g1> .\n<s2> <p> <o2> .\n")
    q = spark.createDataFrame(
        [("x", "p", "y", None)],
        "subj string, pred string, obj string, graph string")
    out = update(q, f"LOAD <{nq}>")
    got = {(r.subj, r.graph) for r in out.collect()}
    assert ("s1", "urn:g1") in got and ("s2", None) in got
    redirected = update(q, f"LOAD <{nq}> INTO GRAPH <urn:all>")
    assert {r.graph for r in redirected.collect()} == {None, "urn:all"}
    # quad format refuses a triple store
    with pytest.raises(SparqlError):
        update(q.drop("graph"), f"LOAD <{nq}>")
    seq = update(q, f"CLEAR ALL ; LOAD <{nq}> ; "
                    "DELETE DATA { GRAPH <urn:g1> { <s1> <p> <o1> } }")
    assert {(r.subj, r.graph) for r in seq.collect()} == {("s2", None)}


# ------------------------------------------------------------------ #
# §17.5 XPath constructor functions (xsd:* casts)
# ------------------------------------------------------------------ #

def test_xsd_cast_integer_decimal(spark):
    """xsd:integer / xsd:decimal over the lexical term model: valid
    lexicals canonicalize (sign/zero-stripped), invalid ones are the
    XPath type error -> NULL -> unbound."""
    rows = [("e" + str(i), "p:v", lex) for i, lex in enumerate(
        ["007", "-0", "3.2", "abc", "+42", ".5", "3.2000", "3.000"])]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = dict(_rows(sparql(t, """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?e ?i WHERE { ?e p:v ?v . BIND(xsd:integer(?v) AS ?i) }
    """)))
    assert out == {"e0": "7", "e1": "0", "e2": None, "e3": None,
                   "e4": "42", "e5": None, "e6": None, "e7": None}
    dec = dict(_rows(sparql(t, """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?e ?d WHERE { ?e p:v ?v . BIND(xsd:decimal(?v) AS ?d) }
    """)))
    assert dec == {"e0": "7", "e1": "0", "e2": "3.2", "e3": None,
                   "e4": "42", "e5": "0.5", "e6": "3.2", "e7": "3"}
    # constructor shape: DATATYPE reads the stamped result type
    shaped = _rows(sparql(t, """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?dt WHERE {
          ?e p:v ?v . BIND(xsd:integer(?v) AS ?i)
          BIND(DATATYPE(?i) AS ?dt) FILTER(BOUND(?i))
        } LIMIT 1"""))
    assert shaped == [("http://www.w3.org/2001/XMLSchema#integer",)]


def test_xsd_cast_filter_comparison(spark):
    """The FILTER use: a numeric cast makes the comparison numeric
    (lexical '10' > '9' is false as strings, true through the cast);
    an uncastable lexical is a type error and drops the row."""
    t = spark.createDataFrame(
        [("a", "p:age", "10"), ("b", "p:age", "9"),
         ("c", "p:age", "n/a")], ["subj", "pred", "obj"])
    out = sorted(_rows(sparql(t, """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s p:age ?a
          FILTER(xsd:integer(?a) >= 10) }""")))
    assert out == [("a",)]
    out = sorted(_rows(sparql(t, """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s p:age ?a
          FILTER(xsd:integer(?a) < 100) }""")))
    assert out == [("a",), ("b",)]  # 'n/a' errors out, never matches


def test_xsd_cast_boolean_double_datetime_string(spark):
    """The remaining §17.5 casts: boolean lexical set, double incl.
    INF/NaN spellings, dateTime validated pass-through, string as the
    simple-literal identity."""
    t = spark.createDataFrame([("e", "p:v", "x")], ["subj", "pred", "obj"])

    def one(expr):
        return _rows(sparql(t, f"""PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
            SELECT ?r WHERE {{ ?e p:v ?v . BIND({expr} AS ?r) }}"""))[0][0]

    assert one('xsd:boolean("1")') == "true"
    assert one('xsd:boolean("false")') == "false"
    assert one('xsd:boolean("yes")') is None
    assert one('xsd:double("1e2")') == "100.0"
    assert one('xsd:double("-INF")') == "-INF"
    assert one('xsd:double("NaN")') == "NaN"
    assert one('xsd:double("1.5e")') is None
    assert one('xsd:float("2.5")') == "2.5"
    assert one('xsd:dateTime("2011-01-10T14:45:13Z")') == \
        "2011-01-10T14:45:13Z"
    assert one('xsd:dateTime("2011-01-10")') is None
    assert one('xsd:string(?v)') == "x"
    # string result is the SIMPLE literal: DATATYPE reads xsd:string
    # (RDF 1.1 simple-literal identity, same as the shape model)
    got = _rows(sparql(t, """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?dt WHERE { ?e p:v ?v . BIND(xsd:string(?v) AS ?s)
                           BIND(DATATYPE(?s) AS ?dt) }"""))
    assert got == [("http://www.w3.org/2001/XMLSchema#string",)]


def test_extension_function_call_refuses(kg):
    """An IRI applied to arguments that is NOT a §17.5 cast is a
    custom extension function: honest refusal, never a misparse."""
    with pytest.raises(SparqlUnsupported, match="extension function"):
        sparql(kg, """SELECT ?s WHERE { ?s p:name ?n
            FILTER(<http://ex.org/fn>(?n) > 1) }""")
    with pytest.raises(SparqlError, match="argument"):
        sparql(kg, """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
            SELECT ?s WHERE { ?s p:name ?n
            FILTER(xsd:integer(?n, ?n) > 1) }""")


# ------------------------------------------------------------------ #
# rdflib initBindings / initNs
# ------------------------------------------------------------------ #

def test_init_bindings_and_ns(kg):
    """initBindings injects a one-row VALUES table (composes with the
    group and constrains like a written VALUES); initNs pre-seeds
    prefixes, with an in-query PREFIX for the same prefix winning."""
    out = sorted(_rows(sparql(kg, "SELECT ?x ?n WHERE { ?x p:name ?n }",
                              init_bindings={"x": "b"})))
    assert out == [("b", "Bob"), ("b", "Bobby")]
    # ?-prefixed names and extension variables both work
    out = sorted(_rows(sparql(
        kg, "SELECT ?x ?tag WHERE { ?x p:type \"Person\" }",
        init_bindings={"?x": "a", "tag": "seed"})))
    assert out == [("a", "seed")]
    # None = UNDEF constrains nothing
    assert sparql(kg, "SELECT ?x WHERE { ?x p:type \"Person\" }",
                  init_bindings={"x": None}).count() == 2
    # initNs: the query text itself carries no PREFIX
    got = sorted(_rows(sparql(
        kg, "SELECT ?n WHERE { ?x ex:name ?n }",
        init_ns={"ex": "p:"})))
    assert got == [("Ada",), ("Bob",), ("Bobby",)]
    # an in-query declaration for the same prefix wins
    got = sparql(kg, 'PREFIX ex: <urn:other:> '
                     'SELECT ?n WHERE { ?x ex:name ?n }',
                 init_ns={"ex": "p:"})
    assert got.count() == 0
    with pytest.raises(SparqlError, match="unmappable"):
        sparql(kg, "SELECT ?x WHERE { ?x p:name ?n }",
               init_bindings={"bad name": "v"})


def test_init_bindings_facades(kg, spark):
    from pyrdfa3_spark.graph import SparkDataset, SparkGraph
    g = SparkGraph(kg)
    assert g.query("SELECT ?n WHERE { ?x p:name ?n }",
                   initBindings={"x": "a"}).collect()[0].n == "Ada"
    with pytest.raises(ValueError, match="text queries"):
        g.query([("?x", "p:name", "?n")], initBindings={"x": "a"})
    d = SparkDataset(kg)   # triples frame -> all rows default graph
    assert d.query("SELECT ?n WHERE { ?x p:name ?n }",
                   initBindings={"x": "b"}).count() == 2


def test_group_by_expression_conditions(kg):
    """§18.2.4 GROUP BY expression conditions: (expr AS ?v) binds the
    key pre-grouping and the key is projectable; a bare builtin call
    groups anonymously; SELECT of a non-key variable still errors."""
    out = sorted(_rows(sparql(kg, """
        SELECT ?ini (COUNT(?n) AS ?c) WHERE { ?x p:name ?n }
        GROUP BY (SUBSTR(?n, 1, 1) AS ?ini) ORDER BY ?ini""")))
    assert out == [("A", 1), ("B", 2)]
    # anonymous builtin-call condition: groups by STRLEN without
    # naming it; only aggregates are projectable
    out = sorted(_rows(sparql(kg, """
        SELECT (COUNT(?n) AS ?c) WHERE { ?x p:name ?n }
        GROUP BY STRLEN(?n)""")))
    assert sorted(r[0] for r in out) == [1, 2]  # len 5: Bobby; len 3: Ada+Bob
    # the AS key feeds HAVING and aggregate arguments
    out = _rows(sparql(kg, """
        SELECT ?ini (GROUP_CONCAT(?n; SEPARATOR=",") AS ?ns)
        WHERE { ?x p:name ?n }
        GROUP BY (SUBSTR(?n, 1, 1) AS ?ini)
        HAVING (COUNT(?ini) > 1)"""))
    assert out == [("B", "Bob,Bobby")]
    # mixed var + expression conditions
    out = sorted(_rows(sparql(kg, """
        SELECT ?x ?ini (COUNT(?n) AS ?c) WHERE { ?x p:name ?n }
        GROUP BY ?x (SUBSTR(?n, 1, 1) AS ?ini)""")))
    assert out == [("a", "A", 1), ("b", "B", 2)]
    with pytest.raises(SparqlError, match="not in GROUP BY"):
        sparql(kg, """SELECT ?n WHERE { ?x p:name ?n }
                      GROUP BY STRLEN(?n)""")
    with pytest.raises(SparqlError, match="rebinds"):
        sparql(kg, """SELECT ?n (COUNT(?x) AS ?c)
                      WHERE { ?x p:name ?n }
                      GROUP BY (UCASE(?n) AS ?n)""")
    with pytest.raises(SparqlError, match="at least one"):
        sparql(kg, "SELECT ?x WHERE { ?x p:name ?n } GROUP BY")
    with pytest.raises(SparqlError, match="reserved"):
        sparql(kg, """SELECT (COUNT(?x) AS ?c)
                      WHERE { ?x p:name ?n }
                      GROUP BY (UCASE(?n) AS ?_grpkey1)""")


def test_negated_property_set_inverse_members(spark):
    """§9.1 NPS with inverse members: !(p|^q) unions the forward
    edges outside {p} with the REVERSED edges outside {q}; the
    paren-less !iri / !^iri forms parse; !() refuses."""
    t = spark.createDataFrame(
        [("a", "p:knows", "b"), ("a", "p:hates", "c"),
         ("d", "p:likes", "a")], ["subj", "pred", "obj"])
    # forward-only exclusion, paren-less
    out = sorted(_rows(sparql(t, "SELECT ?o WHERE { <a> !p:knows ?o }")))
    assert out == [("c",)]
    # inverse-only member: edges INTO the subject, excluded vs {q}
    out = sorted(_rows(sparql(t, "SELECT ?o WHERE { <a> !(^p:hates) ?o }")))
    assert out == [("d",)]            # d -likes-> a survives, reversed
    # mixed: forward edges not knows, plus reverse edges not hates
    out = sorted(_rows(sparql(
        t, "SELECT ?o WHERE { <a> !(p:knows|^p:hates) ?o }")))
    assert out == [("c",), ("d",)]
    # excluding the only incoming predicate empties the inverse side
    out = sorted(_rows(sparql(
        t, "SELECT ?o WHERE { <a> !(p:knows|p:hates|^p:likes) ?o }")))
    assert out == []
    # composes with operators: zero-or-one over a mixed NPS
    out = sorted(_rows(sparql(
        t, "SELECT ?o WHERE { <a> !(p:knows|^p:hates)? ?o }")))
    assert ("a",) in out and ("c",) in out and ("d",) in out
    with pytest.raises(SparqlUnsupported, match="empty negated"):
        sparql(t, "SELECT ?o WHERE { <a> !() ?o }")


def test_update_quad_templates(spark):
    """SPARQL 1.1 QuadPattern templates: GRAPH blocks inside
    DELETE/INSERT templates and DELETE WHERE — constant and variable
    graph targets, GRAPH overriding WITH, unbound graph vars
    instantiating nothing."""
    from pyrdfa3_spark.operators.sparql import update

    quads = [("a", "p:v", "1", None), ("b", "p:v", "2", "g1"),
             ("c", "p:v", "3", "g2")]
    kg = spark.createDataFrame(quads, ["subj", "pred", "obj", "graph"])

    def rows(df):
        return sorted(tuple("" if x is None else x for x in r)
                      for r in df.collect())

    # DELETE WHERE over every named graph; the default graph survives
    assert rows(update(kg, "DELETE WHERE { GRAPH ?g { ?s <p:v> ?o } }")
                ) == [("a", "p:v", "1", "")]
    # variable-graph INSERT lands one row per matched source graph
    out = rows(update(kg, 'INSERT { GRAPH ?g { ?s <p:new> "y" } } '
                          "WHERE { GRAPH ?g { ?s <p:v> ?o } }"))
    assert ("b", "p:new", "y", "g1") in out
    assert ("c", "p:new", "y", "g2") in out
    # constant cross-graph move via one modify
    out = rows(update(kg, "DELETE { GRAPH <g1> { ?s <p:v> ?o } } "
                          "INSERT { GRAPH <g2> { ?s <p:v> ?o } } "
                          "WHERE { GRAPH <g1> { ?s <p:v> ?o } }"))
    assert out == [("a", "p:v", "1", ""), ("b", "p:v", "2", "g2"),
                   ("c", "p:v", "3", "g2")]
    # a GRAPH block in the template overrides WITH
    out = rows(update(kg, "WITH <g1> DELETE { ?s <p:v> ?o } "
                          "INSERT { GRAPH <gx> { ?s <p:v> ?o } } "
                          "WHERE { ?s <p:v> ?o }"))
    assert ("b", "p:v", "2", "gx") in out
    # bare-insert from a GRAPH match targets the default graph
    out = rows(update(kg, "INSERT { ?s <p:copy> ?o } "
                          "WHERE { GRAPH <g1> { ?s <p:v> ?o } }"))
    assert ("b", "p:copy", "2", "") in out
    # an UNBOUND graph variable instantiates nothing for that
    # solution; bound rows still insert (plain update WHERE patterns
    # match the default graph, so both VALUES rows join s="a")
    out = rows(update(kg, 'INSERT { GRAPH ?g { ?s <p:m> "z" } } '
                          "WHERE { ?s <p:v> ?o . "
                          'VALUES (?s ?g) { ("a" "gv") ("a" UNDEF) } }'))
    assert [r for r in out if r[1] == "p:m"] == [("a", "p:m", "z", "gv")]
    # [..] inside a GRAPH template block mints per solution, into the
    # block's graph; the leaf rides on the same minted node
    kg1 = spark.createDataFrame([("a", "p:v", "1", "g1")],
                                ["subj", "pred", "obj", "graph"])
    out = rows(update(kg1, 'INSERT { GRAPH <g2> { ?s <p:anon> '
                           '[ <p:x> "1" ] } } '
                           "WHERE { GRAPH <g1> { ?s <p:v> ?o } }"))
    anon = [r for r in out if r[1] == "p:anon"]
    leaf = [r for r in out if r[1] == "p:x"]
    assert len(anon) == 1 and anon[0][3] == "g2"
    assert leaf == [(anon[0][2], "p:x", "1", "g2")]
    # DELETE templates refuse [..] even inside GRAPH blocks
    import pytest as _pytest
    with _pytest.raises(Exception, match="blank nodes in DELETE"):
        update(kg1, "DELETE { GRAPH <g1> { ?s <p:v> [ ] } } "
                    "WHERE { GRAPH <g1> { ?s <p:v> ?o } }")
    # a triple frame (no graph column) refuses template GRAPH blocks
    trip = spark.createDataFrame([("a", "p:v", "1")],
                                 ["subj", "pred", "obj"])
    import pytest

    from pyrdfa3_spark.operators.sparql import SparqlError
    with pytest.raises(SparqlError, match="quad frame"):
        update(trip, 'INSERT { GRAPH <g> { ?s <p:x> "1" } } '
                     "WHERE { ?s <p:v> ?o }")


# ------------------------------------------------------------------ #
# property paths with a constant endpoint: the bound-start walk
# ------------------------------------------------------------------ #

def _walk_graph(seed: int) -> list[tuple[str, str, str, str]]:
    """A seeded random quad set over IRIs ``n0..n9`` and blank nodes
    ``_:b0.._:b2``: ``p:a``/``p:b`` edges with cycles, self-loops and
    literal objects, spread over the named graphs ``g1``/``g2``."""
    import random

    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(10)] + [f"_:b{i}" for i in range(3)]
    rows = {("n0", "p:a", "n0", "g1"),            # a self-loop
            ("n1", "p:a", "n2", "g1"), ("n2", "p:a", "n1", "g1"),
            ("n2", "p:a", "L0", "g1")}              # a literal object
    while len(rows) < 30:
        o = (f"L{rng.randrange(3)}" if rng.random() < 0.15
             else rng.choice(nodes))
        rows.add((rng.choice(nodes), rng.choice(("p:a", "p:b")), o,
                  rng.choice(("g1", "g2"))))
    return sorted(rows)


def _closure_pairs(kg, path: str) -> set[tuple[str, str]]:
    """Every pair the free-end form of ``path`` relates — the doubling
    closure, which no constant endpoint steers."""
    return set(_rows(sparql(kg, f"SELECT ?x ?y WHERE {{ ?x {path} ?y }}")))


def _cached(spark, path, rows, cols):
    """``rows`` as a cached parquet-backed frame: its scans run in the
    JVM, as a materialized graph table's do."""
    spark.createDataFrame(rows, cols).write.parquet(str(path))
    df = spark.read.parquet(str(path)).cache()
    df.count()
    return df


def test_path_walk_matches_filtered_closure(spark, tmp_path,
                                           reach_regimes):
    """A ``+``/``*`` path with a constant subject or object is searched
    from the constant; its answers equal the free-end closure filtered
    to that constant, in every regime of the reachability evaluator,
    on seeded graphs with cycles, self-loops, literal objects and
    blank nodes — for single predicates, a sequence under ``+``, both
    ends constant, a constant end inside GRAPH <g>, and a chain deeper
    than 20 hops.  A ``*`` path from a constant also relates it to
    itself, whether or not it is a graph term (SPARQL 1.1 §18.4),
    where the free-end closure's zero-length pairs range over graph
    terms.  Path answers are distinct, so the walk's rows compare as a
    sorted list."""
    from pyrdfa3_spark.operators import graphops as G

    def from_const(pairs, path, c):
        return pairs | {(c, c)} if path.endswith("*") else pairs

    def check_both_ways(frame, path, pairs, c, wrap="{}"):
        """``<c> path ?y`` and ``?x path <c>``, each in ``wrap``."""
        got = sorted(_rows(sparql(frame, "SELECT ?y WHERE { %s }" % (
            wrap.format(f"<{c}> {path} ?y"),))))
        assert got == sorted((y,) for x, y in pairs if x == c), (path, c)
        got = sorted(_rows(sparql(frame, "SELECT ?x WHERE { %s }" % (
            wrap.format(f"?x {path} <{c}>"),))))
        assert got == sorted((x,) for x, y in pairs if y == c), (path, c)

    graphs, chain = [], 25
    for seed in (1, 2):
        qs = _cached(spark, tmp_path / f"q{seed}", _walk_graph(seed),
                     ["subj", "pred", "obj", "graph"])
        kg = qs.drop("graph")
        g1 = qs.filter("graph = 'g1'").drop("graph")
        # the free-end closures no constant steers, computed once
        free = {path: _closure_pairs(kg, path)
                for path in ("<p:a>+", "<p:a>*", "(<p:a>/<p:b>)+")}
        free_g1 = {path: _closure_pairs(g1, path)
                   for path in ("<p:a>+", "<p:a>*")}
        graphs.append((seed, qs, kg, free, free_g1))
    deep = _cached(spark, tmp_path / "deep",
                   [(f"c{i}", "p:a", f"c{i + 1}") for i in range(chain)],
                   ["subj", "pred", "obj"])
    deep_free = {path: _closure_pairs(deep, path)
                 for path in ("<p:a>+", "<p:a>*")}
    # n0: on a self-loop; n1: on a cycle; n99: in no triple
    consts = ["n0", "n1", "n99"]
    for regime in reach_regimes():
        for seed, qs, kg, free, free_g1 in graphs:
            for path, closed in free.items():
                for c in consts:
                    check_both_ways(kg, path, from_const(closed, path, c),
                                    c)
                pairs = from_const(closed, path, "L0")
                # a literal as the constant object
                got = sorted(_rows(sparql(
                    kg, f'SELECT ?x WHERE {{ ?x {path} "L0" }}')))
                assert got == sorted(
                    (x,) for x, y in pairs if y == "L0"), (regime, seed)
            # both ends constant: the walk from the subject is
            # distinct, and the ground path pattern asks whether it
            # reached the object
            pairs = free["<p:a>+"]
            for s in consts:
                reached = [r.obj for r in G.path_walk(
                    kg, "p:a", s, "\x00path1").collect()]
                assert len(reached) == len(set(reached)), (regime, s)
                for o in consts + ["L0"]:
                    obj = '"L0"' if o == "L0" else f"<{o}>"
                    got = _rows(sparql(kg, f"ASK {{ <{s}> <p:a>+ {obj} }}"))
                    assert got == [((s, o) in pairs,)], (regime, s, o)
            # a constant end inside GRAPH <g1>: only g1's edges count
            for path, closed in free_g1.items():
                for c in consts:
                    check_both_ways(qs, path, from_const(closed, path, c),
                                    c, wrap="GRAPH <g1> {{ {} }}")
        # a chain deeper than 20 hops, from each end and the middle
        for path, closed in deep_free.items():
            for c in ("c0", "c12", f"c{chain}", "n99"):
                check_both_ways(deep, path, from_const(closed, path, c), c)
    for _, qs, *_ in graphs:
        qs.unpersist()
    deep.unpersist()


def test_path_walk_deep_chain_falls_back(spark, tmp_path, monkeypatch):
    """A chain too large for the driver-side slice is walked one job
    per hop with no round budget, and never by the frame loop.  Once
    the walk has reached more than ``_WALK_MAX_NODES`` nodes it falls
    back to the frame loop, restarted from the start, and still
    answers every hop."""
    from pyrdfa3_spark.operators import graphops as G

    n = 60
    t = _cached(spark, tmp_path / "chain",
                [(f"n{i}", "p:next", f"n{i+1}") for i in range(n - 1)],
                ["subj", "pred", "obj"])
    frames = []
    real = G._reach_frames
    monkeypatch.setattr(G, "_reach_frames", lambda *a: (
        frames.append(a[1]), real(*a))[1])
    monkeypatch.setattr(G, "_SLICE_ROWS", 0)
    edges = t.selectExpr("subj AS src", "obj AS dst")
    sc = spark.sparkContext
    sc.setJobGroup("deep-walk", "walk job count")
    try:
        dist = {r.node: r.dist for r in G._reach(edges, ["n0"], True)
                .collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert dist == {f"n{i}": i for i in range(1, n)}
    # the slice probe, one job per hop (n - 1), one for the empty
    # last hop
    jobs = sc.statusTracker().getJobIdsForGroup("deep-walk")
    assert len(jobs) <= n + 1, len(jobs)
    assert frames == []
    monkeypatch.setattr(G, "_WALK_MAX_NODES", 30)
    out = _rows(sparql(t, "SELECT ?o WHERE { <n0> p:next+ ?o }"))
    assert sorted(out) == sorted((f"n{i}",) for i in range(1, n))
    back = _rows(sparql(t, f"SELECT ?s WHERE {{ ?s p:next* <n{n-1}> }}"))
    assert len(back) == n
    assert frames == [["n0"], [f"n{n-1}"]]
    t.unpersist()


def test_path_walk_wide_fan_out_falls_back(spark, tmp_path, monkeypatch):
    """A constant start whose edge slice does not fit on the driver and
    that reaches more nodes than the walk's node budget falls back to
    the frame loop, walking forward or backward, and still answers
    every node; a start that reaches fewer stays a walk, and with the
    slice budget back every start is searched on the driver."""
    from pyrdfa3_spark.operators import graphops as G

    frames = []
    real = G._reach_frames
    monkeypatch.setattr(G, "_reach_frames", lambda *a: (
        frames.append(a[1]), real(*a))[1])
    monkeypatch.setattr(G, "_SLICE_ROWS", 0)
    monkeypatch.setattr(G, "_WALK_MAX_NODES", 5)
    fan = [f"n{i}" for i in range(10)]
    t = _cached(spark, tmp_path / "fan",
                [("hub", "p:k", n) for n in fan]
                + [(n, "p:k", "sink") for n in fan],
                ["subj", "pred", "obj"])
    want = sorted((n,) for n in fan + ["sink"])
    assert sorted(_rows(sparql(t, "SELECT ?b WHERE { <hub> p:k+ ?b }"))) \
        == want
    back = _rows(sparql(t, "SELECT ?a WHERE { ?a p:k* <sink> }"))
    assert sorted(back) == sorted((n,) for n in fan + ["hub", "sink"])
    assert frames == [["hub"], ["sink"]]
    assert _rows(sparql(t, "SELECT ?b WHERE { <n0> p:k+ ?b }")) \
        == [("sink",)]
    assert len(frames) == 2
    monkeypatch.setattr(G, "_SLICE_ROWS", 100)
    assert sorted(_rows(sparql(t, "SELECT ?b WHERE { <hub> p:k+ ?b }"))) \
        == want
    assert len(frames) == 2
    t.unpersist()


def test_bound_path_deep_chain_job_count(spark, tmp_path):
    """A bound ``+`` over a 200-hop chain collects the predicate's
    slice once and searches it on the driver: at most 3 jobs with the
    answer, where a walk or a closure runs one or more per hop (the
    walk's one job per hop is gated in
    ``test_path_walk_deep_chain_falls_back``)."""
    n = 200
    kg = _cached(spark, tmp_path / "kg",
                 [(f"c{i}", "p:k", f"c{i + 1}") for i in range(n)]
                 + [(f"c{i}", "p:name", f"C{i}") for i in range(n)],
                 ["subj", "pred", "obj"])
    sc = spark.sparkContext
    group = "deep-chain-jobs"
    sc.setJobGroup(group, "bound path job count")
    try:
        out = _rows(sparql(kg, "SELECT ?b WHERE { <c0> p:k+ ?b }"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(out) == sorted((f"c{i}",) for i in range(1, n + 1))
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, len(jobs)
    kg.unpersist()


def test_ground_patterns_evaluate(spark, kg):
    """A fully constant triple pattern is an existence test: a group of
    ground patterns gives one empty solution when every triple exists
    and none otherwise; beside variable patterns, or as a GRAPH block
    beside them, it keeps or drops all their solutions; a path with
    both ends constant is one too."""
    def ask(text):
        return _rows(sparql(kg, text)) == [(True,)]

    assert ask("ASK { <a> p:knows <b> }")
    assert not ask("ASK { <a> p:knows <c> }")
    assert ask('ASK { <a> p:knows <b> . <b> p:name "Bob" }')
    assert not ask('ASK { <a> p:knows <b> . <b> p:name "Ada" }')
    q = "SELECT ?x ?n WHERE { ?x p:name ?n . <a> p:knows %s }"
    assert sorted(_rows(sparql(kg, q % "<b>"))) == [
        ("a", "Ada"), ("b", "Bob"), ("b", "Bobby")]
    assert _rows(sparql(kg, q % "<c>")) == []
    assert ask("ASK { <a> p:knows+ <c> }")
    assert not ask("ASK { <c> p:knows+ <a> }")
    quads = spark.createDataFrame(
        [("a", "p:knows", "b", "g1"), ("a", "p:name", "Ada", None)],
        "subj string, pred string, obj string, graph string")
    q = "SELECT ?n WHERE { ?x p:name ?n . GRAPH <g1> { <a> p:knows %s } }"
    assert _rows(sparql(quads, q % "<b>")) == [("Ada",)]
    assert _rows(sparql(quads, q % "<c>")) == []


def test_zero_length_path_from_constant_returns_it(kg, monkeypatch):
    """``<c> p* ?x`` binds ``?x`` to ``c`` itself, once, even when ``c``
    is no term of the graph (SPARQL 1.1 §18.4), forward and reversed,
    and also when the search falls back to the frame loop."""
    from pyrdfa3_spark.operators import graphops as G

    assert _rows(sparql(kg, "SELECT ?b WHERE { <urn:zz> p:knows* ?b }")) \
        == [("urn:zz",)]
    assert _rows(sparql(kg, "SELECT ?a WHERE { ?a p:knows* <urn:zz> }")) \
        == [("urn:zz",)]
    assert sorted(_rows(sparql(kg, "SELECT ?b WHERE { <a> p:knows* ?b }"))) \
        == [("a",), ("b",), ("c",)]
    # no slice and no node fits: every start that reaches a node is
    # searched by the frame loop; c is on a self-loop
    monkeypatch.setattr(G, "_SLICE_ROWS", 0)
    monkeypatch.setattr(G, "_WALK_MAX_NODES", 0)
    assert sorted(_rows(sparql(kg, "SELECT ?b WHERE { <b> p:knows* ?b }"))) \
        == [("b",), ("c",)]
    assert _rows(sparql(kg, "SELECT ?b WHERE { <c> p:knows* ?b }")) \
        == [("c",)]
    assert sorted(_rows(sparql(kg, "SELECT ?a WHERE { ?a p:knows* <c> }"))) \
        == [("a",), ("b",), ("c",)]


def test_semi_anti_join_shapes_job_count(spark, tmp_path):
    """EXISTS, NOT EXISTS and MINUS run one job for the broadcast of
    the join's build side and one for the answer; DELETE WHERE plus a
    count of the result runs three.  A dedup of the build side would
    add a shuffle stage, one more job each.  The cached frame names
    200 subjects, a third of them typed <T1> and a third <T2>."""
    from pyrdfa3_spark.operators.sparql import update

    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [(f"x{i}", "s:name", f"n{i}") for i in range(200)]
    rows += [(f"x{i}", rdf_type, f"T{i % 3 + 1}") for i in range(200)
             if i % 3 < 2]
    kg = _cached(spark, tmp_path / "kg", rows, ["subj", "pred", "obj"])

    shapes = {  # name: (query or update text, rows, jobs)
        "exists": ("SELECT ?x ?n WHERE { ?x s:name ?n "
                   "FILTER EXISTS { ?x a <T1> } }", 67, 2),
        "not_exists": ("SELECT ?x ?n WHERE { ?x s:name ?n "
                       "FILTER NOT EXISTS { ?x a ?t } }", 66, 2),
        "minus": ("SELECT ?x ?n WHERE { ?x s:name ?n "
                  "MINUS { ?x a <T1> } }", 133, 2),
        "delete_where": ("DELETE WHERE { <x3> ?p ?o }", 332, 3),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name, (text, n_rows, n_jobs) in shapes.items():
        group = f"semi-anti-{name}"
        sc.setJobGroup(group, name)
        try:
            got = (update(kg, text).count() if name == "delete_where"
                   else len(sparql(kg, text).collect()))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got == n_rows, (name, got)
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) <= n_jobs, (name, len(jobs))
    kg.unpersist()


def test_ground_optional_keeps_every_outer_solution(spark):
    """A ground OPTIONAL group evaluates to the one empty solution when
    its triple exists and to no solution when it does not; LeftJoin
    with either keeps every outer solution unchanged (§18.5).  Both the
    pattern form and the full-group form answer."""
    kg = spark.createDataFrame(
        [("x1", "p:a", "1"), ("x2", "p:a", "2"), ("x2", "p:a", "2b"),
         ("a", "p:c", "b")], ["subj", "pred", "obj"])
    want = [("x1", "1"), ("x2", "2"), ("x2", "2b")]
    for ground in ("<a> <p:c> <b>", "<a> <p:c> <zz>"):
        for body in (ground, "{ " + ground + " }"):
            got = _rows(sparql(
                kg, f"SELECT ?x ?v {{ ?x <p:a> ?v OPTIONAL {{ {body} }} }}"))
            assert sorted(got) == want, body


def test_group_by_without_aggregate_is_distinct_keys(kg):
    """GROUP BY with no aggregate projects one row per group key
    (§18.2.4.1): the rows SELECT DISTINCT gives."""
    got = sorted(_rows(sparql(kg, "SELECT ?v { ?x ?p ?v } GROUP BY ?v")))
    assert got == sorted(_rows(sparql(
        kg, "SELECT DISTINCT ?v { ?x ?p ?v }")))
    assert got == [("Ada",), ("Bob",), ("Bobby",), ("Person",), ("b",),
                   ("c",)]
    # a HAVING over the keys filters the groups
    assert sorted(_rows(sparql(kg, """
        SELECT ?x { ?x p:name ?n } GROUP BY ?x HAVING (?x != "a")"""))) \
        == [("b",)]
