"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG-construction pipeline (transcripts ->
RDFa triples) on sf0.001; ``queries``/``oracle_sql`` expose every
implemented operator from SURVEY.md §2 plus the training-data operators,
with DuckDB-checkable ANSI-SQL oracles for all SQL-expressible ones.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: extract (subj, pred, obj) triples from RDFa
    fragments embedded in transcript turns derived from the sf0.001
    documents table."""
    from pyrdfa3_spark.plans.extract import extract_triples
    from pyrdfa3_spark.sources.transcripts import transcripts_from_documents

    transcripts = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    return extract_triples(transcripts)


# The driver's per-round correctness window records the FIRST 50
# entries of ``queries()``.  Registry entries with no green row
# (``rows_match`` and ``hash_match`` both true) in any recorded round
# (``CORRECTNESS_r*.json`` next to this file) come first, then the
# rest; each group keeps registry order.
def _window_order(names, rounds: list[dict]) -> list[str]:
    green = {n for r in rounds for n, row in r.items()
             if row.get("rows_match") and row.get("hash_match")}
    return sorted(names, key=lambda n: n in green)


def _recorded_rounds() -> list[dict]:
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        with open(path) as fh:
            rounds.append(json.load(fh))
    return rounds


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pyrdfa3_spark.plans.queries import QUERIES

    return {n: QUERIES[n]
            for n in _window_order(QUERIES, _recorded_rounds())}


def oracle_sql() -> dict[str, str]:
    from pyrdfa3_spark.plans.queries import oracles

    return oracles()
