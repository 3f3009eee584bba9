"""The consumer op mix over a materialized KG, with DuckDB oracles.

One client sends ops in a closed loop from a fixed cycle; the seed
only picks each op's parameters (subjects, types, path starts) from the
KG the run just wrote.  Every answer is checked afterwards against
DuckDB over the same parquet files, the way the query registry's
oracles check Spark queries.
"""

from __future__ import annotations

import random
import zlib
from dataclasses import dataclass

S = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
NAME = S + "name"
KNOWS = S + "knows"
LABEL = "http://bench.example/label"
KG_COLS = ("subj", "pred", "obj", "obj_is_iri", "obj_lang", "obj_datatype")
_SEP, _NULL = "\x1f", "\x00"

# name -> (SPARQL kind, ops per cycle).  The weights are an assumption,
# not measured traffic: no source in this repository gives a consumer
# op mix.  Point lookups and ASKs are 14 of 23 ops so that the median
# latency lands inside that group rather than on the edge between two
# shapes; op_p50_ms therefore measures those two shapes, and the
# per-op CPU covers the whole mix.  The timed loop runs whole cycles, so
# every run sees the same mix.
CYCLE = {
    "point": ("select", 10),
    "ask": ("ask", 4),
    "typed_join": ("select", 1),
    "exists": ("select", 1),
    "not_exists": ("select", 1),
    "group_count": ("select", 1),
    "construct": ("construct", 1),
    "optional_lang": ("select", 1),
    "path_plus": ("select", 1),
    "insert_data": ("update", 1),
    "delete_where": ("update", 1),
}
CYCLE_LEN = sum(k for _, k in CYCLE.values())
KINDS = ("select", "ask", "construct", "update")


@dataclass
class Op:
    name: str
    kind: str
    text: str
    params: dict


def kg_table_sql(sink: str) -> str:
    """The KG as a set of triples, as the Spark side loads it."""
    return ("CREATE OR REPLACE TABLE kg AS SELECT DISTINCT subj, pred, obj, "
            "obj_is_iri, obj_lang, obj_datatype FROM read_parquet("
            f"'{sink}/**/*.parquet', hive_partitioning = false)")


def _col(con, sql: str, *args) -> list:
    return [r[0] for r in con.execute(sql, list(args)).fetchall()]


def plan_ops(con, seed: int, n_cycles: int) -> list[Op]:
    """A seeded op sequence: ``n_cycles`` shuffled copies of CYCLE."""
    rng = random.Random(seed)
    subjects = _col(con, "SELECT DISTINCT subj FROM kg WHERE subj LIKE "
                    "'http%' ORDER BY 1")
    named_types = _col(con, """
        SELECT t.obj FROM kg t JOIN kg n ON t.subj = n.subj
        WHERE t.pred = ? AND t.obj_is_iri AND n.pred = ?
        GROUP BY t.obj ORDER BY count(*) DESC, t.obj LIMIT 4""",
                       RDF_TYPE, NAME)
    starts = _col(con, "SELECT DISTINCT subj FROM kg WHERE pred = ? AND "
                  "subj LIKE 'http%' ORDER BY 1", KNOWS)
    if not (subjects and named_types and starts):
        raise RuntimeError("KG lacks the subjects, named types or knows "
                           "edges the op mix needs")
    ops = []
    for c in range(n_cycles):
        names = [n for n, (_, k) in CYCLE.items() for _ in range(k)]
        rng.shuffle(names)
        for i, name in enumerate(names):
            ops.append(_make(name, rng, subjects, named_types, starts,
                             f"{c}-{i}"))
    return ops


def _make(name, rng, subjects, types, starts, tag) -> Op:
    kind = CYCLE[name][0]
    s = rng.choice(subjects)
    t = rng.choice(types)
    pre = f"PREFIX s: <{S}> "
    if name == "point":
        text = f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}"
    elif name == "typed_join":
        text = pre + f"SELECT ?x ?n WHERE {{ ?x a <{t}> ; s:name ?n }}"
    elif name == "optional_lang":
        text = pre + (f"SELECT ?x ?n ?f WHERE {{ ?x a <{t}> ; s:name ?n "
                      f"OPTIONAL {{ ?x ?p ?f FILTER(LANG(?f) = \"fr\") }} }}")
    elif name == "exists":
        text = pre + (f"SELECT ?x ?n WHERE {{ ?x s:name ?n "
                      f"FILTER EXISTS {{ ?x a <{t}> }} }}")
    elif name == "not_exists":
        text = pre + ("SELECT ?x ?n WHERE { ?x s:name ?n "
                      "FILTER NOT EXISTS { ?x a ?t } }")
    elif name == "group_count":
        text = "SELECT ?t (COUNT(?x) AS ?c) WHERE { ?x a ?t } GROUP BY ?t"
    elif name == "path_plus":
        s = rng.choice(starts)
        text = pre + f"SELECT ?b WHERE {{ <{s}> s:knows+ ?b }}"
    elif name == "ask":
        if rng.random() < 0.5:
            s = f"http://absent.example/{tag}"
        text = f"ASK {{ <{s}> ?p ?o }}"
    elif name == "construct":
        text = pre + (f"CONSTRUCT {{ ?x <{LABEL}> ?n }} WHERE "
                      f"{{ ?x a <{t}> ; s:name ?n }}")
    elif name == "insert_data":
        s = f"http://bench.example/new/{tag}"
        text = f'INSERT DATA {{ <{s}> <{NAME}> "new {tag}"@en }}'
    else:
        text = f"DELETE WHERE {{ <{s}> ?p ?o }}"
    return Op(name, kind, text, {"s": s, "t": t})


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def normalize(rows) -> list[tuple]:
    """Rows (Spark Rows or DuckDB tuples) -> sorted tuples of strings."""
    return sorted((tuple(_cell(v) for v in r) for r in rows),
                  key=lambda r: tuple("" if v is None else v for v in r))


def _row_crc(row) -> int:
    return zlib.crc32(_SEP.join(_NULL if v is None else _cell(v)
                                for v in row).encode())


def multiset_digest(rows) -> list[int]:
    """Order-insensitive multiset digest of rows: [rows, sum of the
    per-row CRC32 of the cells joined by a separator].  ``graph_digest``
    computes the same digest in Spark."""
    n = h = 0
    for row in rows:
        n += 1
        h += _row_crc(row)
    return [n, h]


def graph_digest(df, cols=KG_COLS) -> list[int]:
    """``multiset_digest`` of a frame's ``cols``, by one Spark job."""
    from pyspark.sql import functions as F

    key = F.concat_ws(_SEP, *[F.coalesce(F.col(c).cast("string"),
                                         F.lit(_NULL)) for c in cols])
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.crc32(key)).alias("h")).collect()[0]
    return [r.n, r.h or 0]


def table_digest(con, where: str = "TRUE", args=()) -> list[int]:
    """``multiset_digest`` of the DuckDB ``kg`` rows matching ``where``."""
    return multiset_digest(con.execute(
        f"SELECT {', '.join(KG_COLS)} FROM kg WHERE {where}",
        list(args)).fetchall())


def run_op(kg, op: Op, tracer):
    """Run one op against the cached KG frame; returns its answer.
    Updates are applied to the base graph and materialized by
    ``graph_digest``.
    A traced op also times a separate parse of its text, so the call's
    planning time is the call minus that parse."""
    from pyrdfa3_spark.operators.sparql import (
        parse, parse_update, sparql, update,
    )

    if tracer.enabled:
        with tracer.span("sparql.parse"):
            (parse_update if op.kind == "update" else parse)(op.text)
    if op.kind == "update":
        with tracer.span("sparql.call"):
            df = update(kg, op.text)
        with tracer.span("sparql.exec"):
            return graph_digest(df)
    with tracer.span("sparql.call"):
        df = sparql(kg, op.text)
    with tracer.span("sparql.exec"):
        return normalize(df.collect())


def oracle(con, op: Op, base: list[int]):
    """DuckDB's answer to ``op`` over the ``kg`` table; ``base`` is the
    table's ``table_digest``."""
    p = op.params
    q = con.execute
    if op.name == "point":
        return normalize(q("SELECT pred, obj FROM kg WHERE subj = ?",
                           [p["s"]]).fetchall())
    if op.name in ("typed_join", "construct"):
        rows = q("""SELECT t.subj, n.obj, n.obj_is_iri, n.obj_lang,
                           n.obj_datatype
                    FROM kg t JOIN kg n ON t.subj = n.subj
                    WHERE t.pred = ? AND t.obj = ? AND t.obj_is_iri
                      AND n.pred = ?""", [RDF_TYPE, p["t"], NAME]).fetchall()
        if op.name == "typed_join":
            return normalize(r[:2] for r in rows)
        return normalize(set((r[0], LABEL) + r[1:] for r in rows))
    if op.name == "optional_lang":
        return normalize(q("""
            SELECT n.subj, n.obj, f.obj
            FROM kg t JOIN kg n ON t.subj = n.subj
            LEFT JOIN kg f ON f.subj = n.subj AND NOT f.obj_is_iri
                          AND f.obj_lang = 'fr'
            WHERE t.pred = ? AND t.obj = ? AND t.obj_is_iri AND n.pred = ?
            """, [RDF_TYPE, p["t"], NAME]).fetchall())
    if op.name in ("exists", "not_exists"):
        cond = ("t.obj = ? AND t.obj_is_iri" if op.name == "exists"
                else "TRUE")
        args = [NAME, RDF_TYPE] + ([p["t"]] if op.name == "exists" else [])
        neg = "" if op.name == "exists" else "NOT"
        return normalize(q(f"""
            SELECT n.subj, n.obj FROM kg n WHERE n.pred = ? AND {neg} EXISTS
              (SELECT 1 FROM kg t WHERE t.subj = n.subj AND t.pred = ?
               AND {cond})""", args).fetchall())
    if op.name == "group_count":
        return normalize(q("SELECT obj, count(*) FROM kg WHERE pred = ? "
                           "GROUP BY obj", [RDF_TYPE]).fetchall())
    if op.name == "path_plus":
        return normalize(q("""
            WITH RECURSIVE r(b) AS (
              SELECT obj FROM kg WHERE subj = ? AND pred = ? AND obj_is_iri
              UNION
              SELECT k.obj FROM r JOIN kg k ON k.subj = r.b
              WHERE k.pred = ? AND k.obj_is_iri)
            SELECT b FROM r""", [p["s"], KNOWS, KNOWS]).fetchall())
    if op.name == "ask":
        n = q("SELECT count(*) FROM kg WHERE subj = ?", [p["s"]]).fetchone()[0]
        return [("true" if n else "false",)]
    if op.name == "insert_data":
        tag = p["s"].rsplit("/", 1)[1]
        row = (p["s"], NAME, f"new {tag}", False, "en", None)
        return [base[0] + 1, base[1] + _row_crc(row)]
    if op.name == "delete_where":
        gone = table_digest(con, "subj = ?", [p["s"]])
        return [base[0] - gone[0], base[1] - gone[1]]
    raise ValueError(f"no oracle for op {op.name!r}")
