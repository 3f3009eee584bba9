"""Differential fuzz for the §8.1.1 FILTER EXISTS binding-injection
translation (`operators/sparql.py::_exists_inject`).

Random triple stores × random EXISTS bodies covering the two round-4
shapes — a body whose OPTIONAL/partial-UNION may leave a shared
variable unbound, and a body FILTER reading outer variables (bound or
OPTIONAL-unbound) — are evaluated through the full text front-end and
compared against a direct pure-Python implementation of SUBSTITUTION
semantics: for every outer solution, its bound bindings substitute
into the body (inside optionals and filters), the substituted body
evaluates from scratch, and EXISTS is its non-emptiness.  Bag
semantics; results compare as multisets.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from pyrdfa3_spark.operators.sparql import sparql

SUBJECTS = [f"s{i}" for i in range(5)]
OBJECTS = [f"c{i}" for i in range(4)]
PREDS = ["p:d", "p:o", "p:a", "p:b", "p:c"]


def _rand_store(rng, n=14):
    rows = set()
    for _ in range(n):
        rows.add((rng.choice(SUBJECTS), rng.choice(PREDS),
                  rng.choice(OBJECTS)))
    return sorted(rows)


# ---------------------------------------------------------------- #
# pure-Python substitution semantics
# ---------------------------------------------------------------- #

def _match_pat(store, pat, binding):
    """One triple pattern against the store, extending ``binding``."""
    out = []
    for row in store:
        b = dict(binding)
        ok = True
        for term, val in zip(pat, row):
            if term.startswith("?"):
                v = term[1:]
                if v in b and b[v] is not None:
                    if b[v] != val:
                        ok = False
                        break
                else:
                    b[v] = val
            elif term != val:
                ok = False
                break
        if ok:
            out.append(b)
    return out


def _eval_bgp(store, patterns, binding=None):
    sols = [dict(binding or {})]
    for pat in patterns:
        sols = [b2 for b in sols for b2 in _match_pat(store, pat, b)]
    return sols


def _subst(term, mu):
    if term.startswith("?") and mu.get(term[1:]) is not None:
        return mu[term[1:]]
    return term


def _eval_filter(f, sol, mu):
    """(op, a, b) with a/b variable names; lookup order: the body
    solution, then the substituted outer binding; missing/None =
    SPARQL unbound (comparisons error -> false, BOUND answers)."""
    op, a, b = f

    def val(name):
        if name in sol:
            return sol[name]
        return mu.get(name)

    if op == "bound":
        return val(a) is not None
    if op == "notbound":
        return val(a) is None
    va, vb = val(a), val(b)
    if va is None or vb is None:
        return False
    return (va == vb) if op == "eq" else (va != vb)


def _eval_body(store, body, mu):
    """Evaluate the EXISTS body under substitution of ``mu``'s bound
    bindings; return True iff any solution survives."""
    def sp(pats):
        return [tuple(_subst(t, mu) for t in pat) for pat in pats]

    if body.get("union"):
        b1, b2 = body["union"]
        sols = _eval_bgp(store, sp(b1)) + _eval_bgp(store, sp(b2))
    else:
        sols = _eval_bgp(store, sp(body["patterns"]))
    if body.get("optional"):
        opats = sp(body["optional"])
        merged = []
        for s in sols:
            ext = _eval_bgp(store, opats, s)
            merged.extend(ext if ext else [s])
        sols = merged
    if body.get("filter"):
        sols = [s for s in sols if _eval_filter(body["filter"], s, mu)]
    return bool(sols)


# ---------------------------------------------------------------- #
# SPARQL text rendering of the same body
# ---------------------------------------------------------------- #

def _render_body(body):
    parts = []
    if body.get("union"):
        b1, b2 = body["union"]

        def grp(pats):
            return "{ " + " . ".join(
                f"{s} {p} {o}" for s, p, o in pats) + " }"
        parts.append(grp(b1) + " UNION " + grp(b2))
    else:
        parts.extend(f"{s} {p} {o}" for s, p, o in body["patterns"])
    if body.get("optional"):
        parts.append("OPTIONAL { " + " . ".join(
            f"{s} {p} {o}" for s, p, o in body["optional"]) + " }")
    if body.get("filter"):
        op, a, b = body["filter"]
        expr = {"eq": f"?{a} = ?{b}", "ne": f"?{a} != ?{b}",
                "bound": f"BOUND(?{a})",
                "notbound": f"!BOUND(?{a})"}[op]
        parts.append(f"FILTER({expr})")
    return " ".join(parts)


BODIES = [
    # substitution inside the body's OPTIONAL (shared ?v loose)
    {"patterns": [("?x", "p:a", "?m")],
     "optional": [("?x", "p:c", "?v")]},
    # partial UNION: ?v bound in one branch only
    {"union": ([("?x", "p:a", "?v")], [("?x", "p:b", "?m")])},
    # body FILTER reading outer ?v (certain) / ?w (possibly unbound)
    {"patterns": [("?x", "p:a", "?m")], "filter": ("eq", "m", "v")},
    {"patterns": [("?x", "p:a", "?m")], "filter": ("ne", "m", "v")},
    {"patterns": [("?x", "p:a", "?m")], "filter": ("eq", "m", "w")},
    {"patterns": [("?x", "p:a", "?m")], "filter": ("ne", "m", "w")},
    {"patterns": [("?x", "p:a", "?m")], "filter": ("bound", "w", "w")},
    {"patterns": [("?x", "p:a", "?m")],
     "filter": ("notbound", "w", "w")},
    # combined: loose optional + outer-reading filter
    {"patterns": [("?x", "p:a", "?m")],
     "optional": [("?x", "p:c", "?v")],
     "filter": ("ne", "m", "w")},
    # disconnected-from-substitution body + outer filter
    {"patterns": [("?y", "p:a", "?m")], "filter": ("eq", "m", "v")},
]

# EXISTS_FUZZ_SEEDS=30 for a deeper soak (deterministic per seed)
import os

CASES = [(seed, bi, neg)
         for seed in range(int(os.environ.get("EXISTS_FUZZ_SEEDS", "6")))
         for bi in range(len(BODIES))
         for neg in (False, True)]


@pytest.mark.parametrize("seed,bi,neg", CASES)
def test_exists_substitution_fuzz(spark, seed, bi, neg):
    rng = random.Random(9000 * seed + 17 * bi + neg)
    store = _rand_store(rng)
    body = BODIES[bi]
    q = f"""SELECT ?x ?v ?w WHERE {{
        ?x p:d ?v . OPTIONAL {{ ?x p:o ?w }}
        FILTER {'NOT ' if neg else ''}EXISTS {{ {_render_body(body)} }}
        }}"""
    df = spark.createDataFrame(store, ["subj", "pred", "obj"])
    got = Counter((r["x"], r["v"], r["w"])
                  for r in sparql(df, q).collect())

    outer = []
    for s in _eval_bgp(store, [("?x", "p:d", "?v")]):
        ext = _eval_bgp(store, [("?x", "p:o", "?w")], s)
        outer.extend(ext if ext else [{**s, "w": None}])
    want = Counter(
        (mu["x"], mu["v"], mu["w"]) for mu in outer
        if _eval_body(store, body, mu) != neg)
    assert got == want, f"\nquery: {q}\nstore: {store}"


# ---------------------------------------------------------------- #
# SHAPED stores: term-shape builtins over substituted variables
# (the round-4 ADVICE regression zone — the shapeless fuzz above
# cannot reach it because LANG needs literal-shape columns)
# ---------------------------------------------------------------- #

# language tag is a FUNCTION of the object lexical by construction,
# so the engine's documented string-equality join discipline and the
# pure-Python model agree on every conflation
_LANG_OF = {"c0": "en", "c1": "es", "c2": None, "c3": None}


def _eval_shape_filter(f, sol, mu):
    op, a, b = f

    def val(name):
        if name in sol:
            return sol[name]
        return mu.get(name)

    v = val(a)
    if op in ("lang_eq", "lang_ne"):
        if v is None:
            return False  # LANG(unbound) is the type error
        lang = _LANG_OF.get(v) or ""
        return (lang == b) if op == "lang_eq" else (lang != b)
    if op == "isliteral":
        return v is not None  # every object term here is a literal
    return _eval_filter(f, sol, mu)


def _eval_body_shaped(store, body, mu):
    def sp(pats):
        return [tuple(_subst(t, mu) for t in pat) for pat in pats]

    sols = _eval_bgp(store, sp(body["patterns"]))
    if body.get("optional"):
        opats = sp(body["optional"])
        merged = []
        for s in sols:
            ext = _eval_bgp(store, opats, s)
            merged.extend(ext if ext else [s])
        sols = merged
    if body.get("filter"):
        sols = [s for s in sols
                if _eval_shape_filter(body["filter"], s, mu)]
    return bool(sols)


def _render_shape_filter(f):
    op, a, b = f
    return {"lang_eq": f'LANG(?{a}) = "{b}"',
            "lang_ne": f'LANG(?{a}) != "{b}"',
            "isliteral": f"ISLITERAL(?{a})",
            "eq": f"?{a} = ?{b}", "ne": f"?{a} != ?{b}",
            "bound": f"BOUND(?{a})",
            "notbound": f"!BOUND(?{a})"}[op]


SHAPED_BODIES = [
    # LANG over the certain substituted variable
    {"patterns": [("?x", "p:a", "?m")], "filter": ("lang_eq", "v", "en")},
    {"patterns": [("?x", "p:a", "?m")], "filter": ("lang_ne", "v", "")},
    # LANG over the possibly-unbound substituted variable
    {"patterns": [("?x", "p:a", "?m")], "filter": ("lang_eq", "w", "en")},
    {"patterns": [("?x", "p:a", "?m")], "filter": ("lang_ne", "w", "es")},
    # shape of a BODY-bound variable (sanity: not substituted)
    {"patterns": [("?x", "p:a", "?m")], "filter": ("lang_eq", "m", "es")},
    # ISLITERAL over substituted / possibly-unbound
    {"patterns": [("?x", "p:a", "?m")], "filter": ("isliteral", "v", "")},
    {"patterns": [("?x", "p:a", "?m")], "filter": ("isliteral", "w", "")},
    # substitution inside the body OPTIONAL combined with a shape read
    {"patterns": [("?x", "p:a", "?m")],
     "optional": [("?x", "p:c", "?v")],
     "filter": ("lang_eq", "v", "en")},
]

SHAPED_CASES = [
    (seed, bi, neg)
    for seed in range(int(os.environ.get("EXISTS_FUZZ_SEEDS", "6")))
    for bi in range(len(SHAPED_BODIES))
    for neg in (False, True)]


@pytest.mark.parametrize("seed,bi,neg", SHAPED_CASES)
def test_exists_substitution_shaped_fuzz(spark, seed, bi, neg):
    rng = random.Random(7000 * seed + 23 * bi + neg)
    store = _rand_store(rng)
    body = SHAPED_BODIES[bi]
    filt = body.get("filter")
    parts = [f"{s} {p} {o}" for s, p, o in body["patterns"]]
    if body.get("optional"):
        parts.append("OPTIONAL { " + " . ".join(
            f"{s} {p} {o}" for s, p, o in body["optional"]) + " }")
    if filt:
        parts.append(f"FILTER({_render_shape_filter(filt)})")
    q = f"""SELECT ?x ?v ?w WHERE {{
        ?x p:d ?v . OPTIONAL {{ ?x p:o ?w }}
        FILTER {'NOT ' if neg else ''}EXISTS {{ {' '.join(parts)} }}
        }}"""
    shaped = [(s, p, o, False, _LANG_OF.get(o), None)
              for s, p, o in store]
    df = spark.createDataFrame(
        shaped, "subj string, pred string, obj string, "
                "obj_is_iri boolean, obj_lang string, obj_datatype string")
    got = Counter((r["x"], r["v"], r["w"])
                  for r in sparql(df, q).collect())

    outer = []
    for s in _eval_bgp(store, [("?x", "p:d", "?v")]):
        ext = _eval_bgp(store, [("?x", "p:o", "?w")], s)
        outer.extend(ext if ext else [{**s, "w": None}])
    want = Counter(
        (mu["x"], mu["v"], mu["w"]) for mu in outer
        if _eval_body_shaped(store, body, mu) != neg)
    assert got == want, f"\nquery: {q}\nstore: {store}"


# ---------------------------------------------------------------- #
# fixed cases: outer terms that share a lexical form but not a shape
# (the fuzz above makes the tag a function of the lexical, so it can
# never produce them)
# ---------------------------------------------------------------- #

_TWO_TAGS = [("urn:a", "p:d", "hello", False, "en", None),
             ("urn:a", "p:d", "hello", False, "es", None),
             ("urn:a", "p:a", "m", False, None, None),
             ("urn:a", "p:o", "w1", False, None, None)]
_SHAPED_SCHEMA = ("subj string, pred string, obj string, "
                  "obj_is_iri boolean, obj_lang string, obj_datatype string")


@pytest.mark.parametrize("neg,want", [(False, {"en"}), (True, {"es"})])
def test_exists_substitution_keeps_outer_shapes_apart(spark, neg, want):
    # "hello"@en and "hello"@es are two outer bindings of ?v: only the
    # @en row satisfies the body filter, so EXISTS keeps it alone and
    # NOT EXISTS keeps the @es row alone
    df = spark.createDataFrame(_TWO_TAGS, _SHAPED_SCHEMA)
    q = f"""SELECT ?x ?v (LANG(?v) AS ?l) WHERE {{ ?x p:d ?v
        FILTER {'NOT ' if neg else ''}EXISTS {{
            ?x p:a ?m FILTER(LANG(?v) = "en") }} }}"""
    got = [(r["x"], r["v"], r["l"]) for r in sparql(df, q).collect()]
    assert sorted(got) == sorted(("urn:a", "hello", lg) for lg in want)


def test_exists_substitution_with_pattern_bound_shaped_variable(spark):
    # ?v is substituted AND matched by the body pattern: the seed's
    # companions win the conjoin instead of colliding with the
    # pattern's own
    df = spark.createDataFrame(_TWO_TAGS, _SHAPED_SCHEMA)
    q = """SELECT ?x ?v (LANG(?v) AS ?l) WHERE { ?x p:d ?v
        OPTIONAL { ?x p:o ?w }
        FILTER EXISTS { ?x p:d ?v FILTER(LANG(?v) = "en" && BOUND(?w)) } }"""
    got = [(r["x"], r["v"], r["l"]) for r in sparql(df, q).collect()]
    assert got == [("urn:a", "hello", "en")]
