"""Differential fuzz for the §18.5 compatibility operators.

The null-mask-decomposed operators (compat_join / leftjoin_filter /
compat_minus / compat_exists, `operators/graphops.py`) are compared
against a direct pure-Python implementation of the SPARQL semantics —
§18.5 compatible-mapping join, §6.1 leftjoin (with and without a
merged-domain filter), §8.3 MINUS, §8.1.1 EXISTS substitution — on
seeded random solution multisets with NULL (unbound) cells.  Bag
semantics throughout: results compare as multisets of row tuples.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from pyrdfa3_spark.operators import graphops as G

DOMAIN = ["m", "p", "x", "y"]


def _rand_frame(rng, cols, n, null_rate=0.35, allow_null=True):
    rows = []
    for _ in range(n):
        rows.append(tuple(
            None if allow_null and rng.random() < null_rate
            else rng.choice(DOMAIN)
            for _ in cols))
    return rows


def _to_df(spark, cols, rows):
    return spark.createDataFrame(
        rows, ", ".join(f"`{c}` string" for c in cols))


def _multiset(df, cols):
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------- #
# pure-Python SPARQL semantics
# ---------------------------------------------------------------- #

def _compatible(mu1, mu2, shared):
    return all(mu1[v] is None or mu2[v] is None or mu1[v] == mu2[v]
               for v in shared)


def _merge(mu1, mu2, lcols, rcols, shared):
    out = {}
    for c in lcols:
        out[c] = mu1[c] if (c not in shared or mu1[c] is not None) \
            else mu2[c]
    for c in rcols:
        if c not in out:
            out[c] = mu2[c]
    return out


def py_join(lrows, rrows, lcols, rcols):
    shared = [c for c in lcols if c in rcols]
    out = []
    for m1 in (dict(zip(lcols, r)) for r in lrows):
        for m2 in (dict(zip(rcols, r)) for r in rrows):
            if _compatible(m1, m2, shared):
                out.append(_merge(m1, m2, lcols, rcols, shared))
    return out


def py_leftjoin(lrows, rrows, lcols, rcols, expr=None):
    shared = [c for c in lcols if c in rcols]
    ronly = [c for c in rcols if c not in lcols]
    out = []
    for m1 in (dict(zip(lcols, r)) for r in lrows):
        matched = False
        for m2 in (dict(zip(rcols, r)) for r in rrows):
            if _compatible(m1, m2, shared):
                m = _merge(m1, m2, lcols, rcols, shared)
                if expr is None or expr(m):
                    matched = True
                    out.append(m)
        if not matched:
            out.append({**m1, **{c: None for c in ronly}})
    return out


def py_minus(lrows, rrows, lcols, rcols):
    shared = [c for c in lcols if c in rcols]
    out = []
    for m1 in (dict(zip(lcols, r)) for r in lrows):
        removed = False
        for m2 in (dict(zip(rcols, r)) for r in rrows):
            overlap = [v for v in shared
                       if m1[v] is not None and m2[v] is not None]
            if overlap and _compatible(m1, m2, shared):
                removed = True
                break
        if not removed:
            out.append(m1)
    return out


def py_exists(lrows, rrows, lcols, rcols, negate):
    # §8.1.1 with a fully-bound inner group: substitution = the inner
    # group must agree on every shared variable the solution BINDS
    shared = [c for c in lcols if c in rcols]
    out = []
    for m1 in (dict(zip(lcols, r)) for r in lrows):
        hit = any(
            all(m1[v] is None or m1[v] == m2[v] for v in shared)
            for m2 in (dict(zip(rcols, r)) for r in rrows))
        if hit != negate:
            out.append(m1)
    return out


def _as_counter(dicts, cols):
    return Counter(tuple(d[c] for c in cols) for d in dicts)


CASES = [(seed, shared_n) for seed in range(12) for shared_n in (1, 2)]


@pytest.mark.parametrize("seed,shared_n", CASES)
def test_compat_join_fuzz(spark, seed, shared_n):
    rng = random.Random(1000 * seed + shared_n)
    shared = ["a", "b"][:shared_n]
    lcols = shared + ["l1"]
    rcols = shared + ["r1"]
    lrows = _rand_frame(rng, lcols, rng.randint(0, 7))
    rrows = _rand_frame(rng, rcols, rng.randint(0, 7))
    out_cols = lcols + ["r1"]
    got = _multiset(
        G.compat_join(_to_df(spark, lcols, lrows),
                      _to_df(spark, rcols, rrows),
                      left_certain=(), right_certain=()),
        out_cols)
    want = _as_counter(py_join(lrows, rrows, lcols, rcols), out_cols)
    assert got == want


@pytest.mark.parametrize("seed,shared_n", CASES)
def test_leftjoin_filter_fuzz(spark, seed, shared_n):
    rng = random.Random(2000 * seed + shared_n)
    shared = ["a", "b"][:shared_n]
    lcols = shared + ["l1"]
    rcols = shared + ["r1"]
    lrows = _rand_frame(rng, lcols, rng.randint(0, 7))
    rrows = _rand_frame(rng, rcols, rng.randint(0, 7))
    out_cols = lcols + ["r1"]
    use_filter = rng.random() < 0.5
    filters = ["l1 > r1"] if use_filter else None

    def expr(m):
        # SQL NULL comparison -> not true (row filtered)
        return (m["l1"] is not None and m["r1"] is not None
                and m["l1"] > m["r1"])

    got = _multiset(
        G.leftjoin_filter(_to_df(spark, lcols, lrows),
                          _to_df(spark, rcols, rrows),
                          left_certain=(), right_certain=(),
                          filters=filters),
        out_cols)
    want = _as_counter(
        py_leftjoin(lrows, rrows, lcols, rcols,
                    expr=expr if use_filter else None), out_cols)
    assert got == want


@pytest.mark.parametrize("seed,shared_n", CASES)
def test_compat_minus_fuzz(spark, seed, shared_n):
    rng = random.Random(3000 * seed + shared_n)
    shared = ["a", "b"][:shared_n]
    lcols = shared + ["l1"]
    rcols = shared + ["r1"]
    lrows = _rand_frame(rng, lcols, rng.randint(0, 7))
    rrows = _rand_frame(rng, rcols, rng.randint(0, 7))
    got = _multiset(
        G.compat_minus(_to_df(spark, lcols, lrows),
                       _to_df(spark, rcols, rrows),
                       left_certain=(), right_certain=()),
        lcols)
    want = _as_counter(py_minus(lrows, rrows, lcols, rcols), lcols)
    assert got == want


@pytest.mark.parametrize("seed,shared_n", CASES)
def test_compat_exists_fuzz(spark, seed, shared_n):
    rng = random.Random(4000 * seed + shared_n)
    shared = ["a", "b"][:shared_n]
    lcols = shared + ["l1"]
    rcols = shared + ["r1"]
    lrows = _rand_frame(rng, lcols, rng.randint(0, 7))
    # the engine requires the inner group fully bound (compat_exists
    # refuses otherwise), so the right side carries no NULLs
    rrows = _rand_frame(rng, rcols, rng.randint(0, 7),
                        allow_null=False)
    negate = bool(seed % 2)
    got = _multiset(
        G.compat_exists(_to_df(spark, lcols, lrows),
                        _to_df(spark, rcols, rrows),
                        left_certain=(), right_certain=rcols,
                        negate=negate),
        lcols)
    want = _as_counter(
        py_exists(lrows, rrows, lcols, rcols, negate), lcols)
    assert got == want
