"""Regression tests for the round-2 ADVICE findings.

1. UPDATE preserves literal-shape + provenance columns (rdflib's
   ``Graph.update`` preserves term identity; pyRdfa consumers update
   graphs whose literals must survive, pyRdfa/__init__.py emits
   Literal objects with lang/datatype).
2. ``?s ?p ?o`` / ``!(p)`` never match a sibling property path's
   materialized virtual edges (reserved ``\\x00path*`` namespace —
   NUL-prefixed so no real predicate can collide).
3. VALUES rows that are all-UNDEF (or defined only on extension
   variables) are union branches, not early returns.
4. N-Triples object terms must match the term grammar — junk objects
   land in ``parse_errors``, never in the parse.
5. ``\\uXXXX`` escapes in SPARQL strings decode (malformed ones raise).
"""

from __future__ import annotations

import pytest

from pyrdfa3_spark.operators.sparql import (
    SparqlError, _unquote, sparql, update,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


SHAPED = "subj string, pred string, obj string, obj_is_iri boolean, " \
         "obj_lang string, obj_datatype string, src string"


@pytest.fixture(scope="module")
def shaped(spark):
    rows = [
        ("s1", "p:name", "Ada", False, "en", None, "doc1"),
        ("s1", "p:age", "36", False, None,
         "http://www.w3.org/2001/XMLSchema#integer", "doc1"),
        ("s1", "p:link", "x", True, None, None, "doc2"),
        ("s1", "p:note", "x", False, None, None, "doc2"),
    ]
    return spark.createDataFrame(rows, SHAPED)


def test_update_preserves_untouched_literal_shapes(shaped):
    out = update(shaped, 'INSERT DATA { <s9> <p:new> <o9> }')
    kept = {(r["subj"], r["pred"]): r for r in out.collect()}
    ada = kept[("s1", "p:name")]
    assert ada["obj_is_iri"] is False and ada["obj_lang"] == "en"
    age = kept[("s1", "p:age")]
    assert age["obj_datatype"].endswith("integer")
    assert kept[("s1", "p:link")]["src"] == "doc2"  # provenance intact
    ins = kept[("s9", "p:new")]
    assert ins["obj_is_iri"] is True and ins["src"] is None


def test_insert_data_literal_lands_as_literal(shaped):
    out = update(shaped, 'INSERT DATA { <s9> <p:new> "lit" }')
    row = out.filter("subj = 's9'").collect()[0]
    assert row["obj_is_iri"] is False
    assert row["obj_lang"] is None and row["obj_datatype"] is None


def test_delete_data_is_shape_exact(shaped):
    # "x" exists twice: an IRI (p:link) and a literal (p:note);
    # DELETE DATA with the literal form must delete only the literal
    out = update(shaped, 'DELETE DATA { <s1> <p:note> "x" }')
    assert out.filter("pred = 'p:note'").count() == 0
    assert out.filter("pred = 'p:link'").count() == 1
    # and the IRI form must not delete a literal
    out2 = update(shaped, "DELETE DATA { <s1> <p:note> <x> }")
    assert out2.filter("pred = 'p:note'").count() == 1


def test_modify_insert_template_shape(shaped):
    out = update(shaped, """
        DELETE { ?s <p:name> ?n }
        INSERT { ?s <p:reviewed> "pending" . ?s <p:seen> <yes> }
        WHERE { ?s <p:name> ?n }""")
    rows = {r["pred"]: r for r in out.collect()}
    assert "p:name" not in rows
    assert rows["p:reviewed"]["obj_is_iri"] is False
    assert rows["p:seen"]["obj_is_iri"] is True
    # untouched literal rows keep their shape through the modify
    assert rows["p:age"]["obj_datatype"].endswith("integer")


def test_delete_where_variable_object_deletes_all_shapes(shaped):
    out = update(shaped, "DELETE WHERE { <s1> <p:note> ?o }")
    assert out.filter("pred = 'p:note'").count() == 0
    assert out.filter("pred = 'p:link'").count() == 1


def test_bare_frames_keep_prior_update_semantics(spark):
    df = spark.createDataFrame(
        [("a", "p", "b"), ("a", "q", "c")], ["subj", "pred", "obj"])
    out = update(df, 'DELETE DATA { <a> <p> <b> } ; '
                     'INSERT DATA { <a> <r> "z" }')
    assert _rows(out) == [("a", "q", "c"), ("a", "r", "z")]
    assert out.columns == ["subj", "pred", "obj"]


def test_variable_predicate_ignores_path_virtual_edges(spark):
    kg = spark.createDataFrame(
        [("a", "p1", "b"), ("b", "p2", "c")], ["subj", "pred", "obj"])
    out = sparql(kg, """
        SELECT ?p WHERE { ?s <p1>/<p2> ?o . ?s ?p ?y }""")
    preds = {r["p"] for r in out.collect()}
    assert preds == {"p1"}  # never the materialized __path edge a->c


def test_negated_set_ignores_path_virtual_edges(spark):
    kg = spark.createDataFrame(
        [("a", "p1", "b"), ("b", "p2", "c"), ("a", "p3", "c")],
        ["subj", "pred", "obj"])
    out = sparql(kg, """
        SELECT ?s ?o WHERE { ?s <p1>/<p2> ?z . ?s !(<p1>|<p2>) ?o }""")
    assert _rows(out) == [("a", "c")]


def test_values_undef_row_is_a_union_branch(spark):
    kg = spark.createDataFrame(
        [("a", "p:name", "A"), ("b", "p:name", "B")],
        ["subj", "pred", "obj"])
    out = sparql(kg, """
        SELECT ?x ?new WHERE {
          ?x <p:name> ?n .
          VALUES (?x ?new) { (UNDEF "u") ("a" "c") }
        }""")
    assert _rows(out) == [("a", "c"), ("a", "u"), ("b", "u")]


def test_values_all_undef_keeps_solutions(spark):
    kg = spark.createDataFrame(
        [("a", "p:name", "A")], ["subj", "pred", "obj"])
    out = sparql(kg, """
        SELECT ?x WHERE { ?x <p:name> ?n .
                          VALUES ?x { UNDEF "a" } }""")
    assert _rows(out) == [("a",), ("a",)]  # one branch each, bag union


def test_ntriples_rejects_junk_objects(spark):
    from pyrdfa3_spark.sources.ntriples import (
        parse_errors, parse_ntriples,
    )
    lines = spark.createDataFrame(
        [("<s> <p> o .",), ("<s> <p> <o> junk .",),
         ("<s> <p> <o> .",), ('<s> <p> "lit"@en .',),
         ("<s> <p> _:b1 .",)], ["line"])
    good = parse_ntriples(lines)
    assert good.count() == 3
    assert {r["obj"] for r in good.collect()} == {"o", "lit", "_:b1"}
    bad = parse_errors(lines)
    assert sorted(r["line"] for r in bad.collect()) == [
        "<s> <p> <o> junk .", "<s> <p> o ."]


def test_unquote_numeric_escapes():
    assert _unquote('"\\u0041BC"') == "ABC"
    assert _unquote('"\\U0001F600"') == "\U0001F600"
    assert _unquote('"a\\nb"') == "a\nb"
    with pytest.raises(SparqlError):
        _unquote('"\\uZZ11"')
    with pytest.raises(SparqlError):
        _unquote('"\\U123"')


# ---------------------------------------------------------------- #
# round-3 self-review findings
# ---------------------------------------------------------------- #

def test_unquote_escaped_backslash_before_u():
    # \\ consumes its backslash: "C:\\user" is backslash + 'user',
    # NOT a malformed \u escape
    assert _unquote(r'"C:\\user"') == "C:\\user"
    assert _unquote(r'"a\\U end"') == "a\\U end"


def test_insert_existing_triple_is_noop_preserving_provenance(shaped):
    out = update(shaped, "INSERT DATA { <s1> <p:link> <x> }")
    rows = out.filter("pred = 'p:link'").collect()
    assert len(rows) == 1
    assert rows[0]["src"] == "doc2"  # untouched, not a NULL-src twin


def test_insert_data_shape_distinct_on_bare_frame(spark):
    # without shape columns an IRI <x> and a literal "x" collapse onto
    # one lexical row — exactly one inserted row, set invariant intact
    df = spark.createDataFrame([("a", "q", "c")], ["subj", "pred", "obj"])
    out = update(df, 'INSERT DATA { <a> <p> "x" . <a> <p> <x> }')
    assert out.filter("pred = 'p'").count() == 1
    # and re-inserting an existing triple is a no-op
    out2 = update(df, "INSERT DATA { <a> <q> <c> }")
    assert out2.count() == 1


def test_modify_insert_existing_row_keeps_provenance(shaped):
    # INSERT ... WHERE deriving an already-present triple must keep the
    # existing row (deterministically), not race a NULL-provenance twin
    out = update(shaped, """
        INSERT { <s1> <p:link> <x> } WHERE { <s1> <p:name> ?n }""")
    rows = out.filter("pred = 'p:link'").collect()
    assert len(rows) == 1 and rows[0]["src"] == "doc2"


def test_user_predicate_in_reserved_lookalike_namespace(spark):
    # a real predicate named '__pathway' must stay visible to variable
    # predicates and negated sets (the reserved namespace is \x00path,
    # which no IRI can collide with)
    kg = spark.createDataFrame(
        [("a", "__pathway", "b"), ("a", "p1", "c"), ("c", "p2", "d")],
        ["subj", "pred", "obj"])
    out = sparql(kg, "SELECT ?p WHERE { ?s <p1>/<p2> ?o . ?s ?p ?x }")
    assert {r["p"] for r in out.collect()} == {"__pathway", "p1"}


def test_values_all_undef_bag_multiplicity(spark):
    kg = spark.createDataFrame(
        [("a", "p:name", "A")], ["subj", "pred", "obj"])
    out = sparql(kg, """
        SELECT ?x WHERE { ?x <p:name> ?n .
                          VALUES ?x { UNDEF UNDEF } }""")
    assert _rows(out) == [("a",), ("a",)]  # one branch per UNDEF row


def test_shaped_update_matches_model_differential(spark):
    """Differential property test for UPDATE over a SHAPED frame
    (literal-shape + provenance columns): random ';'-sequences of
    ground and template operations run both through update() and a
    pure python model keyed on the full term key, with provenance as
    the row value.  Catches shape-key regressions (a literal deleting
    an IRI), no-op-insert regressions (provenance clobbered), and
    pre-state template evaluation."""
    import os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    subjects = [f"s{i}" for i in range(3)]
    objects = ["o1", "o2"]

    # base store: dict (s,p,o,graph,is_iri,lang,dt) -> src; lexical
    # collisions on purpose: o1 exists as IRI, plain literal AND @en
    base = {}
    n = 0
    for i, s in enumerate(subjects):
        for o in objects:
            for shape in ((True, None, None), (False, None, None),
                          (False, "en", None))[:(i + 2)]:
                g = (None, "urn:g1")[(i + len(o)) % 2]
                base[(s, "p", o, g) + shape] = f"d{n}"
                n += 1

    def term(o, is_iri):
        return f"<{o}>" if is_iri else f'"{o}"'

    def model_apply(store, op):
        kind = op[0]
        if kind == "insert_data":
            s, o, g, is_iri = op[1]
            key = (s, "p", o, g, is_iri, None, None)
            if key not in store:
                store[key] = None  # fresh row: NULL provenance
            return store  # existing row UNTOUCHED
        if kind == "delete_data":
            s, o, g, is_iri = op[1]
            store.pop((s, "p", o, g, is_iri, None, None), None)
            return store
        # modify on the default graph: WHERE matches LEXICALLY (the
        # term model), templates are shape-exact for constants
        _kind, o, is_iri = op
        sols = {k[0] for k in store if k[1] == "p" and k[2] == o
                and k[3] is None}
        for s in sols:
            store.pop((s, "p", o, None, is_iri, None, None), None)
        for s in sols:
            key = (s, "q", o, None, is_iri, None, None)
            if key not in store:
                store[key] = None
        return store

    def render(op):
        kind = op[0]
        if kind in ("insert_data", "delete_data"):
            s, o, g, is_iri = op[1]
            stmt = f"<{s}> <p> {term(o, is_iri)}"
            body = f"GRAPH <{g}> {{ {stmt} }}" if g else stmt
            return f"{'INSERT' if kind == 'insert_data' else 'DELETE'}" \
                   f" DATA {{ {body} }}"
        _kind, o, is_iri = op
        t = term(o, is_iri)
        return (f"DELETE {{ ?s <p> {t} }} INSERT {{ ?s <q> {t} }} "
                f"WHERE {{ ?s <p> {t} }}")

    ground_st = st.tuples(st.sampled_from(subjects),
                          st.sampled_from(objects),
                          st.sampled_from([None, "urn:g1"]),
                          st.booleans())
    op_st = st.one_of(
        st.tuples(st.just("insert_data"), ground_st),
        st.tuples(st.just("delete_data"), ground_st),
        st.tuples(st.just("modify"), st.sampled_from(objects),
                  st.booleans()),
    )

    df = spark.createDataFrame(
        [k + (v,) for k, v in sorted(
            base.items(), key=lambda kv: tuple(
                "" if x is None else str(x) for x in kv[0]))],
        "subj string, pred string, obj string, graph string, "
        "obj_is_iri boolean, obj_lang string, obj_datatype string, "
        "src string")

    @settings(max_examples=int(os.environ.get("SPARQL_EXAMPLES", "12")),
              derandomize=os.environ.get("PARITY_RANDOM") is None,
              deadline=None)
    @given(ops=st.lists(op_st, min_size=1, max_size=3))
    def run(ops):
        text = " ;\n".join(render(op) for op in ops)
        got = {(r["subj"], r["pred"], r["obj"], r["graph"],
                r["obj_is_iri"], r["obj_lang"], r["obj_datatype"]):
               r["src"] for r in update(df, text).collect()}
        want = dict(base)
        for op in ops:
            want = model_apply(want, op)
        assert got == want, (text,
                             {k: (got.get(k), want.get(k))
                              for k in set(got) ^ set(want)
                              | {k for k in got
                                 if got.get(k) != want.get(k)}})

    run()


def test_unquote_out_of_range_codepoint_raises():
    with pytest.raises(SparqlError):
        _unquote('"\\UFFFFFFFF"')  # > U+10FFFF: raise, not ValueError


def test_values_duplicate_bound_rows_multiply(spark):
    # §18.5: VALUES joins as a multiset — duplicate BOUND rows multiply
    # solutions just like duplicate UNDEF rows
    kg = spark.createDataFrame(
        [("a", "p:name", "A")], ["subj", "pred", "obj"])
    out = sparql(kg, """
        SELECT ?x WHERE { ?x <p:name> ?n . VALUES ?x { "a" "a" } }""")
    assert _rows(out) == [("a",), ("a",)]


def test_insert_data_broadcast_bounded_by_delta(spark):
    # a store with per-document provenance duplicates of one term key:
    # re-inserting that triple stays a no-op for ALL duplicate rows
    rows = [("s", "p", "o", f"doc{i}") for i in range(50)] + \
           [("s", "q", "x", "doc0")]
    df = spark.createDataFrame(rows, ["subj", "pred", "obj", "src"])
    out = update(df, "INSERT DATA { <s> <p> <o> . <s> <new> <n> }")
    assert out.filter("pred = 'p'").count() == 50  # all rows untouched
    assert out.filter("pred = 'new'").collect()[0]["src"] is None
