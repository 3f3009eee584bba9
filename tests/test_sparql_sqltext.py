"""Triple patterns compile to SQL text: quoting and planning cost.

Every pattern becomes one ``filter`` and one ``selectExpr`` over SQL
text whose constants ``graphops.sql_str`` quotes, so a constant holding a
quote, a backslash, a newline or non-ASCII text must match exactly
what DuckDB matches for the same value bound as a parameter, and a
literal shaped like SQL injection must match nothing.  The planning
budget pins the point of the SQL-text compile: planning a point lookup
or an ASK takes a few driver->JVM round trips, not one or two hundred.
"""

from __future__ import annotations

import threading

import duckdb
import pytest

from pyrdfa3_spark.operators.sparql import sparql

NAME = "http://ex.org/name"
SCHEMA = ("subj string, pred string, obj string, obj_is_iri boolean, "
          "obj_lang string, obj_datatype string")

SUBJECTS = ["http://ex.org/o'brien", "http://ex.org/café",
            "http://ex.org/日本", "http://ex.org/plain"]
LITERALS = ["it's", "back\\slash", "two\nlines", "naïve ✓",
            "a\\'b", "x", "1"]


def _rows():
    rows = []
    for i, s in enumerate(SUBJECTS):
        for j, lit in enumerate(LITERALS):
            if (i + j) % 2 == 0:
                rows.append((s, NAME, lit, False,
                             "en" if j % 3 == 0 else None, None))
        rows.append((s, "http://ex.org/knows", SUBJECTS[i - 1], True,
                     None, None))
    return rows


@pytest.fixture(scope="module")
def stores(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, SCHEMA)
    con = duckdb.connect()
    con.execute("CREATE TABLE kg (subj VARCHAR, pred VARCHAR, "
                "obj VARCHAR, obj_is_iri BOOLEAN, obj_lang VARCHAR, "
                "obj_datatype VARCHAR)")
    con.executemany("INSERT INTO kg VALUES (?, ?, ?, ?, ?, ?)", rows)
    return df, con


def _sparql_literal(s: str) -> str:
    return '"' + (s.replace("\\", "\\\\").replace('"', '\\"')
                  .replace("\n", "\\n")) + '"'


def _spark_rows(df, q):
    return sorted(tuple(r) for r in sparql(df, q).collect())


@pytest.mark.parametrize("subj", SUBJECTS)
def test_iri_constant_matches_duckdb(stores, subj):
    df, con = stores
    want = sorted(con.execute("SELECT pred, obj FROM kg WHERE subj = ?",
                              [subj]).fetchall())
    assert want  # every subject has at least its knows edge
    assert _spark_rows(df, f"SELECT ?p ?o WHERE {{ <{subj}> ?p ?o }}") \
        == want
    # the same constant in the object position
    want = sorted(con.execute(
        "SELECT subj FROM kg WHERE pred = ? AND obj = ?",
        ["http://ex.org/knows", subj]).fetchall())
    assert _spark_rows(
        df, f"SELECT ?s WHERE {{ ?s <http://ex.org/knows> <{subj}> }}") \
        == want


@pytest.mark.parametrize("lit", LITERALS)
def test_literal_constant_matches_duckdb(stores, lit):
    df, con = stores
    want = sorted(con.execute(
        "SELECT subj FROM kg WHERE pred = ? AND obj = ?",
        [NAME, lit]).fetchall())
    assert want
    q = f"SELECT ?s WHERE {{ ?s <{NAME}> {_sparql_literal(lit)} }}"
    assert _spark_rows(df, q) == want
    # a language-tagged constant adds the shape test to the filter
    want = sorted(con.execute(
        "SELECT subj FROM kg WHERE pred = ? AND obj = ? AND "
        "NOT obj_is_iri AND obj_lang = 'en'", [NAME, lit]).fetchall())
    q = f"SELECT ?s WHERE {{ ?s <{NAME}> {_sparql_literal(lit)}@en }}"
    assert _spark_rows(df, q) == want


def test_injection_shaped_literal_matches_nothing(stores):
    df, con = stores
    lit = "x' OR '1'='1"
    assert con.execute("SELECT count(*) FROM kg WHERE obj = ?",
                       [lit]).fetchone()[0] == 0
    q = f"SELECT ?s ?p WHERE {{ ?s ?p {_sparql_literal(lit)} }}"
    assert _spark_rows(df, q) == []
    ask = sparql(df, f"ASK {{ ?s ?p {_sparql_literal(lit)} }}").collect()
    assert ask[0]["result"] is False


# ------------------------------------------------------------------ #
# planning budget
# ------------------------------------------------------------------ #

class _CallCounter:
    """Counts py4j commands the calling thread sends to the JVM (the
    gateway client's ``send_command``); other threads' traffic, such as
    py4j's garbage collection of JVM references, is left out."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.thread = threading.get_ident()
        self.n = 0

    def __enter__(self):
        orig = self.client.send_command

        def counting(*args, **kwargs):
            if threading.get_ident() == self.thread:
                self.n += 1
            return orig(*args, **kwargs)

        self.client.send_command = counting
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # back to the class method


PLAN_BUDGET = 30


def test_point_and_ask_planning_budget(spark, stores):
    df, _con = stores
    kg = df.coalesce(1).cache()
    kg.count()
    point = f"SELECT ?p ?o WHERE {{ <{SUBJECTS[1]}> ?p ?o }}"
    hit = f"ASK {{ <{SUBJECTS[1]}> ?p ?o }}"
    miss = "ASK { <http://absent.example/x> ?p ?o }"
    for q in (point, hit, miss):  # first calls load lazy py4j state
        sparql(kg, q).collect()
    with _CallCounter(spark) as c:
        sparql(kg, point)
    assert c.n <= PLAN_BUDGET, f"point lookup planning took {c.n} calls"
    # an ASK answers inside the call: the count includes its execution
    with _CallCounter(spark) as c:
        sparql(kg, hit)
    assert c.n <= PLAN_BUDGET, f"ASK took {c.n} calls"


def test_ask_runs_one_job_without_shuffle(spark, stores):
    """sparql() ASK, graphops.ask and SparkGraph.ask share one eager
    limit-1 take: one job, one stage, and an answer frame that
    collects without a further job."""
    from pyrdfa3_spark.graph import SparkGraph
    from pyrdfa3_spark.operators.graphops import ask

    df, _con = stores
    kg = df.coalesce(1).cache()
    kg.count()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cases = []
    for s, want in ((SUBJECTS[0], True), ("http://absent.example/x", False)):
        cases += [
            (f"sparql {s}", lambda s=s: sparql(kg, f"ASK {{ <{s}> ?p ?o }}"),
             want),
            (f"graphops.ask {s}", lambda s=s: ask(kg, [(s, "?p", "?o")]),
             want),
            (f"SparkGraph.ask {s}",
             lambda s=s: SparkGraph(kg).ask([(s, "?p", "?o")]), want)]
    for i, (what, call, want) in enumerate(cases):
        group = f"ask-jobs-{i}"
        sc.setJobGroup(group, "ASK job count")
        try:
            res = call()
            jobs = tracker.getJobIdsForGroup(group)
            got = res if isinstance(res, bool) else \
                res.collect()[0]["result"]
            assert got is want, what
            # collecting the answer frame runs no further job
            assert tracker.getJobIdsForGroup(group) == jobs, what
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) == 1, f"{what}: {len(jobs)} jobs"
        stages = tracker.getJobInfo(jobs[0]).stageIds
        assert len(stages) == 1, f"{what}: a shuffle ({len(stages)} stages)"


def test_facade_text_ask_skips_set_dedup(spark, stores):
    """``SparkGraph.query`` and ``SparkDataset.query`` answer text ASK
    over the frame as given: existence reads the same over the bag as
    over the set, so a frame with duplicate rows gives the same answer
    in one job with one stage, without the set dedup's shuffle."""
    from pyrdfa3_spark.graph import SparkDataset, SparkGraph

    df, _con = stores
    bag = df.unionByName(df).coalesce(1).cache()
    bag.count()
    quads = bag.selectExpr("*", "CAST(NULL AS STRING) AS graph").cache()
    quads.count()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for i, (s, want) in enumerate(((SUBJECTS[1], True),
                                   ("http://absent.example/x", False))):
        text = f"ASK {{ <{s}> ?p ?o }}"
        for what, facade in (("SparkGraph", SparkGraph(bag)),
                             ("SparkDataset", SparkDataset(quads))):
            group = f"facade-ask-{what}-{i}"
            sc.setJobGroup(group, "facade ASK job count")
            try:
                got = facade.query(text).collect()[0]["result"]
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert got is want, (what, s)
            jobs = tracker.getJobIdsForGroup(group)
            assert len(jobs) == 1, f"{what}: {len(jobs)} jobs"
            stages = tracker.getJobInfo(jobs[0]).stageIds
            assert len(stages) == 1, \
                f"{what}: a shuffle ({len(stages)} stages)"
    quads.unpersist()
    bag.unpersist()


def test_facade_ask_with_subquery_counts_the_set(spark, stores):
    """An ASK whose group nests a subquery, at any depth, runs over the
    set: the subquery's COUNT and OFFSET would count duplicate rows.
    Each ASK here answers differently over the doubled frame."""
    from pyrdfa3_spark.graph import SparkDataset, SparkGraph

    df, con = stores
    s = SUBJECTS[1]
    n = con.execute("SELECT count(*) FROM kg WHERE subj = ?",
                    [s]).fetchone()[0]
    bag = df.unionByName(df).cache()
    quads = bag.selectExpr("*", "CAST(NULL AS STRING) AS graph").cache()
    count = (f"{{ SELECT (COUNT(*) AS ?n) WHERE {{ <{s}> ?p ?o }} }} "
             f"FILTER(?n = {n})")
    offset = (f"{{ SELECT ?o WHERE {{ <{s}> ?p ?o }} ORDER BY ?o "
              f"OFFSET {n} }}")
    cases = [
        (f"ASK {{ {count} }}", True),
        (f"ASK {{ {offset} }}", False),
        # nested in a UNION branch and in an EXISTS body
        (f"ASK {{ {{ {count} }} UNION {{ <urn:absent> ?p ?o }} }}", True),
        (f"ASK {{ ?x ?y ?z FILTER EXISTS {{ {count} }} }}", True),
    ]
    for text, want in cases:
        for what, facade in (("SparkGraph", SparkGraph(bag)),
                             ("SparkDataset", SparkDataset(quads))):
            got = facade.query(text).collect()[0]["result"]
            assert got is want, (what, text)
        assert sparql(bag, text).collect()[0]["result"] is not want, text
    quads.unpersist()
    bag.unpersist()
