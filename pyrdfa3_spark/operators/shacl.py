"""SHACL-lite shape validation over triple tables — the data-quality
gate a KG-construction pipeline runs before publishing a graph
snapshot (the reference emits graphs for downstream consumers,
pyRdfa/__init__.py:646-745; at lake scale those consumers need
machine-checkable contracts on what was emitted, which W3C SHACL
standardizes and this module distills).

Implemented constraint components (the SHACL core that is pure
relational algebra — no SPARQL-based constraints, no recursive
shapes):

  * ``min_count`` / ``max_count``  — per-focus cardinality of a path
  * ``pattern``                    — value regex (Java/RE2-safe subset)
  * ``node_kind``                  — ``"iri"`` / ``"literal"``
  * ``in``                         — enumerated value set
  * ``class``                      — value must be an ``rdf:type``
    instance of the given class in the same graph
  * ``datatype``                   — literal datatype equality (needs
    the shaped store's ``obj_datatype`` column)
  * ``min/max_inclusive/exclusive`` — numeric value range (non-numeric
    lexicals violate: they cannot satisfy a numeric facet)
  * ``min_length`` / ``max_length`` — lexical length bounds
  * ``language_in`` / ``unique_lang`` — language-tag enumeration and
    per-focus tag uniqueness (need ``obj_lang``)
  * ``has_value``                  — at least one value equals the
    given term

Shapes are plain dicts (a parquet-able contract, no RDF shape graph
needed)::

    {"name": "SupplierShape",
     "target_class": "http://example.org/Supplier",
     "properties": [
         {"path": ".../name", "min_count": 1, "max_count": 1,
          "pattern": "^Supplier#"},
         {"path": ".../locatedIn", "min_count": 1,
          "class": ".../Nation"},
         {"path": ".../status", "in": ["active", "inactive"]},
     ]}

Scale shape: every constraint compiles to filters + joins over the
SAME triples scan — Catalyst reuses the exchange across constraints of
one shape.  Cardinality checks are one map-side-partial count per
(shape, path) joined back to the focus set; ``class`` checks are a
left-anti join against the class's instance set (broadcastable when
the class is dimension-sized, AQE decides); value checks are pure
scan-side filters.  The violation report is a zero-shuffle union of
narrow projections — at 100 TB the whole validation is a handful of
shuffles bounded by the focus-set cardinality, never by constraint
count.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrdfa3_spark.functions.constants import RDF_TYPE
from pyrdfa3_spark.operators.graphops import local_frame, obj_shape_cols

#: value "looks like an IRI" when the triple store carries no
#: ``obj_is_iri`` column: an RFC 3986 scheme prefix.  The extraction
#: pipeline's output DOES carry ``obj_is_iri`` (plans/extract.py), and
#: validation prefers that exact bit when present.
_IRI_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:"

_VIOLATION_COLS = ("focus", "shape", "path", "constraint", "value")


def _empty_report(spark) -> DataFrame:
    return local_frame(
        spark, [], "focus string, shape string, path string, "
            "constraint string, value string")


def shacl_validate(triples: DataFrame, shapes: list[dict]) -> DataFrame:
    """Validate ``triples`` against ``shapes``; return the violation
    report ``(focus, shape, path, constraint, value)`` — one row per
    violated constraint per focus node (``value`` is NULL for
    cardinality violations, the offending object otherwise).

    An empty report means the graph conforms.  Violations are exact,
    not sampled; set semantics (duplicate triples count once — matching
    the RDF graph model the store represents).
    """
    spark = triples.sparkSession
    has_iri_bit = "obj_is_iri" in triples.columns
    typed = (triples.filter(F.col("pred") == RDF_TYPE)
             .select("subj", "obj"))
    reports = []

    for shape in shapes:
        sname = shape["name"]
        focus = (typed.filter(F.col("obj") == shape["target_class"])
                 .select(F.col("subj").alias("focus")).distinct())
        for prop in shape.get("properties", []):
            path = prop["path"]
            shape_cols = obj_shape_cols(triples)
            # dedup on the full RDF-term identity: two rows with equal
            # lexical form but different lang/datatype/kind are DISTINCT
            # terms ("hello"@en vs "hello"@fr; "5"^^xsd:integer vs
            # "5"^^xsd:string) — keying on lexical form alone would
            # arbitrarily drop one and nondeterministically miss its
            # languageIn/datatype violation.  Plain (subj,pred,obj)
            # stores carry no shape columns, so there the lexical key
            # IS the term identity.
            vals = (triples.filter(F.col("pred") == path)
                    .select(F.col("subj").alias("focus"), "obj",
                            *shape_cols)
                    .dropDuplicates()
                    .join(focus, "focus"))

            def report(df, constraint, value_col="obj"):
                reports.append(df.select(
                    "focus", F.lit(sname).alias("shape"),
                    F.lit(path).alias("path"),
                    F.lit(constraint).alias("constraint"),
                    (F.col(value_col) if value_col else
                     F.lit(None).cast("string")).alias("value")))

            min_c, max_c = prop.get("min_count"), prop.get("max_count")
            if min_c is not None or max_c is not None:
                counts = (focus.join(
                    vals.groupBy("focus").agg(F.count("*").alias("_n")),
                    "focus", "left")
                    .withColumn("_n", F.coalesce("_n", F.lit(0))))
                if min_c is not None:
                    report(counts.filter(F.col("_n") < min_c),
                           "minCount", value_col=None)
                if max_c is not None:
                    report(counts.filter(F.col("_n") > max_c),
                           "maxCount", value_col=None)

            if "pattern" in prop:
                report(vals.filter(~F.col("obj").rlike(prop["pattern"])),
                       "pattern")
            if "node_kind" in prop:
                kind = prop["node_kind"]
                if kind not in ("iri", "literal"):
                    raise ValueError(f"node_kind must be 'iri' or "
                                     f"'literal', got {kind!r}")
                is_iri = (F.col("obj_is_iri") if has_iri_bit
                          else F.col("obj").rlike(_IRI_RE))
                report(vals.filter(~is_iri if kind == "iri" else is_iri),
                       "nodeKind")
            if "in" in prop:
                report(vals.filter(~F.col("obj").isin(list(prop["in"]))),
                       "in")
            if "class" in prop:
                instances = (typed.filter(F.col("obj") == prop["class"])
                             .select(F.col("subj").alias("obj"))
                             .distinct())
                report(vals.join(instances, "obj", "left_anti"), "class")
            if "datatype" in prop:
                if "obj_datatype" not in triples.columns:
                    raise ValueError("datatype constraint needs an "
                                     "obj_datatype column (shaped store)")
                report(vals.filter(
                    F.coalesce("obj_datatype", F.lit(""))
                    != prop["datatype"]), "datatype")
            num = F.expr("try_cast(obj AS DOUBLE)")
            for key, label, bad in (
                    ("min_inclusive", "minInclusive",
                     lambda v: num.isNull() | (num < v)),
                    ("max_inclusive", "maxInclusive",
                     lambda v: num.isNull() | (num > v)),
                    ("min_exclusive", "minExclusive",
                     lambda v: num.isNull() | (num <= v)),
                    ("max_exclusive", "maxExclusive",
                     lambda v: num.isNull() | (num >= v))):
                if key in prop:  # non-numeric values cannot satisfy
                    report(vals.filter(bad(prop[key])), label)
            if "min_length" in prop:
                report(vals.filter(F.length("obj")
                                   < prop["min_length"]), "minLength")
            if "max_length" in prop:
                report(vals.filter(F.length("obj")
                                   > prop["max_length"]), "maxLength")
            if "language_in" in prop:
                if "obj_lang" not in triples.columns:
                    raise ValueError("language_in constraint needs an "
                                     "obj_lang column (shaped store)")
                report(vals.filter(~F.coalesce("obj_lang", F.lit(""))
                                   .isin(list(prop["language_in"]))),
                       "languageIn")
            if prop.get("unique_lang"):
                if "obj_lang" not in triples.columns:
                    raise ValueError("unique_lang constraint needs an "
                                     "obj_lang column (shaped store)")
                dup = (vals.filter(F.coalesce("obj_lang", F.lit(""))
                                   != "")
                       .groupBy("focus", "obj_lang")
                       .agg(F.count(F.lit(1)).alias("_n"))
                       .filter(F.col("_n") > 1))
                report(dup, "uniqueLang", value_col="obj_lang")
            if "has_value" in prop:
                holders = (vals.filter(F.col("obj") == prop["has_value"])
                           .select("focus").distinct())
                report(focus.join(holders, "focus", "left_anti"),
                       "hasValue", value_col=None)

    if not reports:
        return _empty_report(spark)
    return reduce(DataFrame.unionByName, reports)


def conforms(triples: DataFrame, shapes: list[dict]) -> bool:
    """True when no shape is violated — the publish gate.  Plans as a
    limit(1) existence probe over the report union: Spark stops at the
    first violation instead of materializing the full report."""
    return shacl_validate(triples, shapes).limit(1).count() == 0
