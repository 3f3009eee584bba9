"""Whole-graph operators over triple DataFrames (SURVEY.md §2.6).

Everything here is declarative DataFrame algebra — joins, anti-joins,
windows, unions — so Catalyst plans it (broadcast selection, AQE skew
splitting) without custom rules.  Expected schema: at least
``subj, pred, obj`` string columns (extra columns pass through where
noted).
"""

from __future__ import annotations

import functools
import itertools
import math
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyrdfa3_spark.functions.constants import (
    RDF_TYPE, RDFA_COPY, RDFA_PATTERN,
)

#: The columns that hold a stored triple's RDF terms: the lexical
#: triple, then the object's literal shape.  rdflib's Graph is a set
#: (SURVEY E16), so these columns, compared null-safely, are a row's
#: identity as a statement; :func:`term_key` picks the ones a frame
#: carries and :func:`term_join` joins on them.
TERM_COLS = ("subj", "pred", "obj", "obj_is_iri", "obj_lang",
             "obj_datatype")

# reserved predicate namespace for materialized property-path edges
# (the SPARQL front-end unions them into its working frame); variable
# predicates and negated property sets never match them.  NUL-prefixed
# because no IRI/CURIE/literal can contain \x00 — a user predicate can
# never collide with (and be silently hidden by) the reserved space
_VIRTUAL_PRED = "\x00path"


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: backslash and quote
    escaped, every other character (newline, NUL, non-ASCII) verbatim
    — the SQL-text compilers quote every constant through here."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


@functools.lru_cache(maxsize=64)
def _ddl_schema(ddl: str) -> StructType:
    # a JVM parse of three py4j calls, ~2.4 ms of the ~14 ms a 1-row
    # local_frame costs; the frames built from one DDL share the
    # StructType, which nothing alters
    return StructType.fromDDL(ddl)


def local_frame(spark, rows, ddl: str) -> DataFrame:
    """A frame of driver-side rows: the one builder of every inline
    frame the operators and the graph facade make from literals
    (VALUES binding tables, DATA deltas, DESCRIBE node lists, BFS
    sources, walked path edges, facade rows).  The rows reach the JVM
    as one Arrow table, so the frame plans as a ``LocalTableScan`` and
    scanning it starts no Python worker; ``createDataFrame(<list>)``
    plans an ``ExistingRDD`` scan whose every task runs in one.  Build
    cost is linear in the row count.  ``ddl`` is the schema as a DDL
    string (``"subj string, pred string"``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    st = _ddl_schema(ddl)
    width = len(st.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(f"row {r!r} has {len(r)} cells; the "
                             f"schema has {width}")
    cols = list(zip(*rows)) if rows else [()] * width
    table = pa.table([pa.array(c, type=to_arrow_type(f.dataType))
                      for c, f in zip(cols, st.fields)],
                     names=st.fieldNames())
    return spark.createDataFrame(table, st)


def term_key(left: DataFrame, right: DataFrame | None = None,
             quad: bool = False) -> list[str]:
    """The set key of ``left`` (of ``left`` and ``right`` when both are
    given): the :data:`TERM_COLS` every given frame carries.  That is
    the triple key of the graph algebra and :func:`graph_diff`;
    ``quad=True`` gives the quad key of SPARQL UPDATE and the graph
    facades' set frames, which adds ``graph`` when every given frame
    carries it."""
    names = (TERM_COLS[:3] + ("graph",) + TERM_COLS[3:] if quad
             else TERM_COLS)
    have = set(left.columns)
    if right is not None:
        have &= set(right.columns)
    return [c for c in names if c in have]


def term_join(left: DataFrame, right: DataFrame, how: str,
              key: list[str]) -> DataFrame:
    """The rows of ``left`` that have (``how="left_semi"``) or lack
    (``"left_anti"``) a ``right`` row equal on every ``key`` column,
    NULL matching NULL: ``obj_lang``/``obj_datatype`` are NULL on
    plain literals and IRIs, and a plain ``=`` would match none of
    them.  The one null-safe semi/anti join; its condition is one SQL
    expression (a Column per key costs driver->JVM round trips), and
    ``<=>`` conjuncts are equi-keys, so the plan is a hash join that
    AQE broadcasts when ``right`` is small (a broadcast hint on
    ``right`` carries through).  ``right`` is not deduplicated: a
    semi or anti join's answer does not depend on duplicates on its
    build side, and a dedup would cost a shuffle.  Both sides are
    aliased, so ``g - g`` (shared lineage) stays unambiguous."""
    if how not in ("left_semi", "left_anti"):
        raise ValueError(f"term_join how={how!r}")
    cond = " AND ".join(f"__tj_l.{c} <=> __tj_r.{c}"
                        for c in map(_sql_ident, key))
    return left.alias("__tj_l").join(
        right.select(*key).alias("__tj_r"), F.expr(cond), how)


def keyless_exists(sols: DataFrame, grp: DataFrame,
                   how: str) -> DataFrame:
    """``sols`` whole when ``grp`` has a row (``how="left_semi"``) or
    when it has none (``"left_anti"``), else empty: a limit-1 flag
    joined on a constant key, a broadcast of at most one row.  The
    existence test of an EXISTS that substitutes no variable and of a
    ground triple pattern."""
    flag = grp.limit(1).selectExpr("1 AS __ek")
    return (sols.withColumn("__ek", F.lit(1))
            .join(F.broadcast(flag), "__ek", how).drop("__ek"))


def dedup_triples(triples: DataFrame, per_document: bool = True) -> DataFrame:
    """RDF set semantics (E16; rdflib Graph is a set).  Per-document by
    default — matching the reference's one-graph-per-source scoping —
    global when ``per_document=False``."""
    cols = term_key(triples)
    if per_document:
        cols = ["conv_id", "turn_idx"] + cols
    return triples.dropDuplicates(cols)


def handle_prototypes(triples: DataFrame) -> DataFrame:
    """rdfa:Pattern / rdfa:copy expansion (G1; reference:
    pyRdfa/transform/prototype.py:26-37).

    For every (x, rdfa:copy, P) where (P, rdf:type, rdfa:Pattern):
    copy all (P, p, y) onto x, then remove the copy triples, the type
    triples, and the pattern's own triples.  Pure join/anti-join algebra:
    the pattern side is tiny relative to the corpus, so Catalyst
    broadcast-joins it.
    """
    extra = [c for c in ("conv_id", "turn_idx") if c in triples.columns]
    data_cols = [c for c in triples.columns if c not in ("subj", "pred", "obj")]

    # prototypes: subjects typed rdfa:Pattern (scoped per document when
    # provenance columns exist, matching the reference's per-graph pass)
    patterns = (triples
                .filter((F.col("pred") == RDF_TYPE)
                        & (F.col("obj") == RDFA_PATTERN))
                .select(*extra, F.col("subj").alias("proto"))
                .dropDuplicates())

    # (x, rdfa:copy, P) references whose P is a known pattern
    copies = (triples.filter(F.col("pred") == RDFA_COPY)
              .select(*extra, F.col("subj").alias("x"),
                      F.col("obj").alias("proto"))
              .join(patterns, [*extra, "proto"], "inner"))

    referenced = copies.select(*extra, "proto").dropDuplicates()

    # body triples of each referenced prototype, minus its Pattern typing
    bodies = (triples
              .withColumnRenamed("subj", "proto")
              .join(referenced, [*extra, "proto"], "inner")
              .filter(~((F.col("pred") == RDF_TYPE)
                        & (F.col("obj") == RDFA_PATTERN))))

    expanded = (copies.join(bodies, [*extra, "proto"], "inner")
                .withColumnRenamed("x", "subj")
                .select("subj", "pred", "obj", *data_cols)
                .select(*triples.columns))

    # remove: every triple of a referenced prototype (its Pattern typing
    # and body) and every rdfa:copy reference to one
    kept = (triples
            .join(referenced.withColumnRenamed("proto", "subj"),
                  [*extra, "subj"], "left_anti"))
    kept = kept.join(
        copies.select(*extra, F.col("x").alias("subj"),
                      F.lit(RDFA_COPY).alias("pred"),
                      F.col("proto").alias("obj")),
        [*extra, "subj", "pred", "obj"], "left_anti")
    return kept.unionByName(expanded)


def subtract_graph(triples: DataFrame, other: DataFrame) -> DataFrame:
    """Set difference on the triple key (G5; reference:
    pyRdfa/rdfs/process.py:300) — left_anti join, broadcastable."""
    return term_join(triples, other, "left_anti",
                     term_key(triples, other))


def intersect_graphs(triples: DataFrame, other: DataFrame) -> DataFrame:
    """Set intersection on the triple key — left_semi twin of
    :func:`subtract_graph`."""
    return term_join(triples, other, "left_semi",
                     term_key(triples, other))


def xor_graphs(triples: DataFrame, other: DataFrame) -> DataFrame:
    """Symmetric difference on the triple key — rdflib's
    ``Graph.__xor__``: triples in exactly one of the two graphs.
    Two anti-joins (each broadcastable when its right side is small)
    unioned; no extra dedup pass — each side is already key-distinct
    in a set-semantics graph, and the two sides are disjoint by
    construction."""
    return union_graphs(subtract_graph(triples, other),
                        subtract_graph(other, triples))


def union_graphs(*graphs: DataFrame) -> DataFrame:
    """Graph merge (E15/G3; reference: pyRdfa/__init__.py:483-487)."""
    out = graphs[0]
    for g in graphs[1:]:
        out = out.unionByName(g, allowMissingColumns=True)
    return out


def transitive_closure(edges: DataFrame, max_iterations: int = 20,
                       strategy: str = "seminaive") -> DataFrame:
    """Fixpoint closure of a binary relation (G4 core; reference:
    MiniOWL ``closure`` pyRdfa/rdfs/process.py:155-183 and the
    transitivity rules 209-231).

    ``edges``: DataFrame(src, dst).  Returns all (src, dst) in the
    transitive closure.  Driver-side loop — Catalyst has no recursion —
    ``cache`` + ``localCheckpoint`` keep lineage from exploding.

    Strategies:
      * ``seminaive`` (default): per-round delta ⋈ edges — reaches path
        length r+1 after r rounds; each round shuffles only the frontier.
        Right for shallow schema graphs (the MiniOWL case).
      * ``doubling``: delta ⋈ closure — reachable path length *doubles*
        per round, so a depth-d graph needs O(log d) shuffled rounds
        instead of O(d).  Rounds are heavier (frontier joins the whole
        closure); right for deep chains at scale.

    Raises ``RuntimeError`` when ``max_iterations`` rounds pass with the
    frontier still growing — returning a silently truncated closure
    would drop exactly the deepest derivations.
    """
    if strategy not in ("seminaive", "doubling"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # eager localCheckpoint, not cache(): materialized once for the
    # loop's repeated consumers, blocks self-release on GC (no
    # CacheManager entry to leak or double-register)
    base = edges.select("src", "dst").dropDuplicates() \
        .localCheckpoint(eager=True)
    closure = base
    delta = base
    converged = False
    for _ in range(max_iterations):
        right = base if strategy == "seminaive" else closure
        step = (delta.alias("d")
                .join(right.alias("e"), F.col("d.dst") == F.col("e.src"))
                .select(F.col("d.src").alias("src"),
                        F.col("e.dst").alias("dst"))
                .dropDuplicates())
        prev_delta = delta
        # the frontier must be lineage-truncated too (not just cached):
        # its plan otherwise nests one join level per round and the
        # driver's plan handling blows up long before the data does
        delta = step.join(closure, ["src", "dst"], "left_anti") \
            .localCheckpoint(eager=True)
        if delta.isEmpty():
            converged = True
            break
        closure = closure.unionByName(delta).localCheckpoint(eager=True)
        if prev_delta is not base:   # superseded frontier: free its store
            prev_delta.unpersist()
    if not converged:
        raise RuntimeError(
            f"transitive_closure frontier still growing after "
            f"{max_iterations} {strategy} rounds; raise max_iterations "
            f"or use strategy='doubling' for deep graphs")
    return closure


OWL_SUBPROP = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
OWL_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
OWL_EQPROP = "http://www.w3.org/2002/07/owl#equivalentProperty"
OWL_EQCLASS = "http://www.w3.org/2002/07/owl#equivalentClass"


def _schema_maps(vocab_rows):
    """Driver-side schema closure (tiny vocab graphs by construction;
    reference pre-closes them the same way 'to speed up processing',
    pyRdfa/rdfs/process.py:209-226, 287-290).

    Returns (prop_map, class_map) as lists of (from, to) pairs with
    from != to: subPropertyOf/subClassOf closed transitively,
    equivalentProperty/equivalentClass expanded to connected-component
    pairs (the fixpoint of the reference's symmetric rules,
    process.py:228-249).  Both are :func:`_bfs` from every node, the
    components over the pairs taken in both directions."""
    def closed(pairs, symmetric=False):
        if symmetric:
            pairs = pairs + [(b, a) for a, b in pairs]
        successors = _successors(pairs)
        return {(a, b) for a in {a for a, _ in pairs}
                for b in _bfs(successors, [a], plus=True) if a != b}

    sub_p, eq_p, sub_c, eq_c = [], [], [], []
    for s, p, o in vocab_rows:
        if p == OWL_SUBPROP:
            sub_p.append((s, o))
        elif p == OWL_EQPROP:
            eq_p.append((s, o))
        elif p == OWL_SUBCLASS:
            sub_c.append((s, o))
        elif p == OWL_EQCLASS:
            eq_c.append((s, o))
    prop_map = closed(sub_p) | closed(eq_p, symmetric=True)
    class_map = closed(sub_c) | closed(eq_c, symmetric=True)
    return sorted(prop_map), sorted(class_map)


def miniowl_expand(data: DataFrame, vocab: DataFrame,
                   max_iterations: int = 10) -> DataFrame:
    """Vocabulary expansion (G4; reference: MiniOWL + process_rdfa_sem,
    pyRdfa/rdfs/process.py:140-303): OWL-RL rules prp-spo1, prp-eqp1/2,
    cax-sco, cax-eqc1/2 applied to ``data`` to fixpoint.

    Scale shape: the vocab graph is a small dim -> its closure is
    computed on the driver and joined via ``F.broadcast``; the data side
    iterates delta-only (semi-naive), so each round shuffles only newly
    derived triples.  Output = data + derived instance triples (schema
    triples are never mixed in, mirroring the reference's final
    subtraction, process.py:300)."""
    spark = data.sparkSession
    vocab_rows = [(r[0], r[1], r[2])
                  for r in vocab.select("subj", "pred", "obj").collect()]
    prop_map, class_map = _schema_maps(vocab_rows)

    pm = local_frame(spark, prop_map, "f string, t string")
    cm = local_frame(spark, class_map, "f string, t string")

    base = data.select("subj", "pred", "obj").dropDuplicates() \
        .localCheckpoint(eager=True)  # see transitive_closure: no cache leak
    all_t = base
    delta = base
    converged = False
    for _ in range(max_iterations):
        d1 = (delta.join(F.broadcast(pm), delta["pred"] == pm["f"])
              .select("subj", F.col("t").alias("pred"), "obj"))
        d2 = (delta.filter(F.col("pred") == RDF_TYPE)
              .join(F.broadcast(cm), delta["obj"] == cm["f"])
              .select("subj", "pred", F.col("t").alias("obj")))
        new = (d1.unionByName(d2).dropDuplicates()
               .join(all_t, ["subj", "pred", "obj"], "left_anti")
               .localCheckpoint(eager=True))  # truncate frontier lineage
        if new.isEmpty():
            converged = True
            break
        all_t = all_t.unionByName(new).localCheckpoint(eager=True)
        if delta is not base:        # superseded frontier: free its store
            delta.unpersist()
        delta = new
    if not converged:
        raise RuntimeError(
            f"miniowl_expand still deriving new triples after "
            f"{max_iterations} rounds — the schema maps are pre-closed, "
            f"so this indicates a pathological vocab; raise "
            f"max_iterations if intentional")
    return all_t


def rdf_list_chain(items: DataFrame, origin_col: str = "origin",
                   pred_col: str = "pred", value_col: str = "value",
                   pos_col: str = "pos") -> DataFrame:
    """Materialize ordered (origin, pred, value*) groups as
    rdf:first/rdf:rest/rdf:nil cons chains (E12; reference:
    pyRdfa/parse.py:303-316) using window + lead — the distributed
    equivalent of the engine's in-document list builder, for lists whose
    members arrive as rows.

    Head IRIs are deterministic skolems of (origin, pred, pos).
    Output: (subj, pred, obj) triples.

    Plan shape: ONE window pass — the three output kinds (rdf:first,
    rdf:rest, list anchor) are emitted as an in-row struct array and
    exploded, instead of a 3-way union of projections that would plan
    the window's shuffle+sort three times.  (A windowless
    groupBy+collect_list+in-row-chain variant was A/B-measured 3x
    slower at sf0.1: element_at over a lazily-computed heads array
    re-evaluates the skolem sha2 per access — quadratic in list
    length — while the window's partition sort is cheap on
    short-list-heavy data.)
    """
    from pyspark.sql import Window

    w = Window.partitionBy(origin_col, pred_col).orderBy(pos_col)
    head = F.concat(F.lit("_:l"), F.sha2(F.concat_ws(
        "\x1f", F.col(origin_col), F.col(pred_col),
        F.col(pos_col).cast("string")), 256).substr(1, 24))
    nxt = F.lead(head, 1).over(w)
    first_pos = F.row_number().over(w)
    df = items.select(
        F.col(origin_col), F.col(pred_col), F.col(value_col),
        head.alias("head"),
        F.coalesce(nxt, F.lit("rdf:nil-placeholder")).alias("rest"),
        first_pos.alias("rn"))
    rest_iri = F.when(F.col("rest") == "rdf:nil-placeholder",
                      F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#nil")
                      ).otherwise(F.col("rest"))

    def t(s, p, o):
        return F.struct(s.alias("subj"), p.alias("pred"), o.alias("obj"))

    triples = F.array(
        t(F.col("head"),
          F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#first"),
          F.col(value_col)),
        t(F.col("head"),
          F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"),
          rest_iri),
        F.when(F.col("rn") == 1,
               t(F.col(origin_col), F.col(pred_col), F.col("head"))),
    )
    return (df.select(F.explode(triples).alias("tr"))
            .filter(F.col("tr").isNotNull())
            .select("tr.subj", "tr.pred", "tr.obj"))


def rdfa_semantic_expansion(triples: DataFrame,
                            vocab_dim: DataFrame) -> DataFrame:
    """The full ``process_rdfa_sem`` flow (reference:
    pyRdfa/rdfs/process.py:253-303): collect the graph's
    rdfa:usesVocabulary IRIs (step 1), select those vocabularies from
    the prefetched dimension table (steps 2 — the lake-native
    replacement for the HTTP fetch / pickle cache), then
    :func:`miniowl_expand` performs the schema closure, data expansion
    and vocab-triple subtraction (steps 3-6).

    ``vocab_dim``: (vocab, subj, pred, obj) — one row per triple of each
    prefetched vocabulary, keyed by the vocabulary IRI.
    """
    from pyrdfa3_spark.functions.constants import RDFA_USES_VOCABULARY

    used = (triples
            .filter(F.col("pred") == RDFA_USES_VOCABULARY)
            .select(F.col("obj").alias("vocab"))
            .distinct())
    vocab_graph = (vocab_dim
                   .join(F.broadcast(used), "vocab")
                   .select("subj", "pred", "obj")
                   .dropDuplicates())
    data = triples.select("subj", "pred", "obj")
    return miniowl_expand(data, vocab_graph)


# Hidden literal-shape companion columns: a variable listed in
# ``shape_vars`` binds with three extra columns carrying the term's
# shape so SPARQL's term-model builtins (LANG / DATATYPE / ISIRI /
# ISLITERAL / ...) compile to plain column expressions.  The prefix is
# reserved: SPARQL variable names can't start with "__shape_" here
# (the front-end validates names), so companions never shadow a
# binding.  Companions ride along unreferenced until final projection
# drops them — Catalyst prunes the unread ones out of the scan.
SHAPE_PREFIX = "__shape_"


def shape_names(var: str) -> tuple[str, str, str]:
    return (f"{SHAPE_PREFIX}{var}_iri", f"{SHAPE_PREFIX}{var}_lang",
            f"{SHAPE_PREFIX}{var}_dt")


def _lexical_is_iri_sql(expr: str) -> str:
    """Best-effort shape for frames without shape columns, as SQL text
    over ``expr``: a term with an IRI scheme or a bnode label is a
    term, anything else a plain literal (same inference the serializer
    facade uses)."""
    return (f"({expr} RLIKE '^[A-Za-z][A-Za-z0-9+.-]*:' "
            f"OR startswith({expr}, '_:'))")


def _lexical_is_iri(name: str):
    """:func:`_lexical_is_iri_sql` as a Column over column ``name``."""
    return F.expr(_lexical_is_iri_sql(_sql_ident(name)))


def ensure_shape_companions(df: DataFrame, shape_vars) -> DataFrame:
    """Add lexically-inferred companions for any tracked variable that
    is bound but shapeless (VALUES-introduced bindings, frames built
    outside the matcher)."""
    for v in shape_vars or ():
        iri, lang, dt = shape_names(v)
        if v in df.columns and iri not in df.columns:
            df = (df.withColumn(iri, _lexical_is_iri(v))
                  .withColumn(lang, F.lit(None).cast("string"))
                  .withColumn(dt, F.lit(None).cast("string")))
    return df


def repair_adopted_companions(df: DataFrame, shape_vars) -> DataFrame:
    """After a §18.5 compatibility join ADOPTS a binding into a cell
    whose companions were NULL (the unmatched-OPTIONAL shape), the
    companions still say unknown — re-infer them lexically for rows
    where the variable is bound but its shape companion is not.
    Restricted by the caller to VALUES-introduced variables, whose
    documented posture is lexical inference."""
    for v in shape_vars or ():
        iri, _lang, _dt = shape_names(v)
        if v in df.columns and iri in df.columns:
            df = df.withColumn(
                iri,
                F.when(F.col(iri).isNull() & F.col(v).isNotNull(),
                       _lexical_is_iri(v))
                .otherwise(F.col(iri)))
    return df


def set_shape_companions(df: DataFrame, var: str,
                         shape: tuple) -> DataFrame:
    """Stamp a variable's companions with a KNOWN constant shape — a
    BIND whose whole body is a term constructor (IRI / STRLANG / STRDT
    / UUID / ...) knows the result's term kind at parse time."""
    iri, lang, dt = shape_names(var)
    is_iri, lg, d = shape
    return (df.withColumn(iri, F.lit(bool(is_iri)))
            .withColumn(lang, F.lit(lg).cast("string"))
            .withColumn(dt, F.lit(d).cast("string")))


def fill_null_companions(df: DataFrame, shape_vars) -> DataFrame:
    """Add NULL companions for tracked variables that are bound but
    carry no shape anywhere (BIND-defined, subquery-projected): the
    term-shape builtins read NULL = unknown and return NULL — the row
    filters out rather than misclassifying.  No-op where the matcher
    already bound companions."""
    for v in shape_vars or ():
        iri, lang, dt = shape_names(v)
        if v in df.columns and iri not in df.columns:
            df = (df.withColumn(iri, F.lit(None).cast("boolean"))
                  .withColumn(lang, F.lit(None).cast("string"))
                  .withColumn(dt, F.lit(None).cast("string")))
    return df


def drop_dup_companions(right: DataFrame, left_cols) -> DataFrame:
    """Before joining two solution frames, drop the right side's
    companion columns that the left already carries (the left frame's
    shape wins — part of the documented string-equality join
    simplification)."""
    dup = [c for c in right.columns
           if c.startswith(SHAPE_PREFIX) and c in left_cols]
    return right.drop(*dup) if dup else right


class SparqlError(ValueError):
    """Malformed query text."""


class SparqlUnsupported(SparqlError):
    """Syntactically valid SPARQL outside the implemented subset."""


def filter_reads(expr: str, names) -> list[str]:
    """The variables among ``names`` that the SQL filter text ``expr``
    reads (whole-word match: ``n`` is not read by ``name``), sorted."""
    return sorted(v for v in names
                  if re.search(rf"\b{re.escape(v)}\b", expr))


# SPARQL §18.5 compatibility joins on possibly-unbound variables.
#
# An unbound (NULL) cell is compatible with ANY binding and the merge
# adopts the bound side's value — semantics a plain equi-join cannot
# express (SQL NULL keys never match).  Instead of refusing, the
# operators below DECOMPOSE each side into its null-mask buckets over
# the possibly-unbound shared variables: within a bucket the nullity of
# every risky column is KNOWN, so each (left-bucket, right-bucket) pair
# reduces to an ordinary equi-join on the variables non-NULL on both
# sides (plus the always-certain keys), with the one-sided variables
# merged by ``coalesce``.  Buckets partition the input, so every
# compatible row pair appears exactly once — bag semantics preserved.
#
# Every operator takes the variables CERTAINLY bound (never NULL) on
# each side — what the callers track — and derives the shared columns
# and their possibly-unbound subsets itself through :func:`nullable`,
# the one place the cap below is checked, before any checkpoint or job.
#
# Scale shape: 2^k buckets per side (k capped at COMPAT_MAX_NULLABLE,
# larger shapes refuse with SparqlUnsupported), each branch a proper
# shuffle/broadcast hash join Catalyst plans independently; the inputs
# are localCheckpointed first so the per-bucket re-filters scan the
# materialized rows instead of recomputing the subtree 2^k times.  The
# only non-equi branch is a bucket whose shared variables are ALL
# unbound — per SPARQL that really is compatible-with-everything (a
# product); such rows come from OPTIONAL misses / absent union-branch
# bindings and are the minority, and AQE picks a broadcast nested loop
# when the bucket is small.
COMPAT_MAX_NULLABLE = 2


def shared_vars(left: DataFrame, right: DataFrame) -> list[str]:
    """The variables two solution frames share, in ``left``'s column
    order; shape companions join along with their variable, never as
    keys of their own."""
    return [c for c in left.columns
            if c in right.columns and not c.startswith(SHAPE_PREFIX)]


def nullable(shared, left_certain, right_certain):
    """The possibly-unbound subsets ``(left, right)`` of ``shared``:
    the variables outside each side's certain set, sorted.  Raises
    :class:`SparqlUnsupported` when either exceeds COMPAT_MAX_NULLABLE
    — the null-mask decomposition's cap, checked here only."""
    ln = sorted(v for v in shared if v not in left_certain)
    rn = sorted(v for v in shared if v not in right_certain)
    if max(len(ln), len(rn)) > COMPAT_MAX_NULLABLE:
        raise SparqlUnsupported(
            f"joining on possibly-unbound variable(s) "
            f"{sorted(set(ln) | set(rn))}: the §18.5 null-mask "
            f"decomposition is capped at {COMPAT_MAX_NULLABLE} "
            "variables per side — bind them in the sibling operands "
            "first")
    return ln, rn


def _null_mask_buckets(df: DataFrame, risky: list[str]):
    """Partition ``df`` into its ``2^len(risky)`` null-mask buckets
    over the possibly-unbound columns.  Every row lands in exactly one
    bucket (NULL-ness of each risky column is a total predicate)."""
    buckets = []
    for bits in range(1 << len(risky)):
        nullset = frozenset(v for i, v in enumerate(risky)
                            if bits >> i & 1)
        cond = F.lit(True)
        for v in risky:
            cond = cond & (F.col(v).isNull() if v in nullset
                           else F.col(v).isNotNull())
        buckets.append((nullset, df.filter(cond)))
    return buckets


def compat_join(left: DataFrame, right: DataFrame,
                left_certain, right_certain,
                how: str = "inner",
                _left_ready: bool = False) -> DataFrame:
    """Join two solution frames on their shared variables under SPARQL
    §18.5 compatibility: a NULL cell on either side agrees with any
    value and the merged solution adopts the bound one.

    ``left_certain`` / ``right_certain`` name the variables certainly
    bound on that side; a shared variable outside a side's set may be
    NULL there (OPTIONAL-bound, absent from a union branch, UNDEF-able
    VALUES, NULL-able BIND).  With every shared variable certain on
    both sides this is exactly the plain equi-join on them.  Past the
    cap it raises :class:`SparqlUnsupported` before any job runs.

    ``how="left"`` implements the SPARQL leftjoin (OPTIONAL): left
    rows with no compatible partner survive with NULLs for the
    right-only variables.  The right side must be certain on every
    shared variable — :func:`leftjoin_filter` routes here only then —
    because per-bucket left joins would otherwise duplicate unmatched
    rows across right buckets."""
    if how not in ("inner", "left"):
        raise ValueError(f"compat_join how={how!r}")
    right = drop_dup_companions(right, left.columns)
    shared = shared_vars(left, right)
    ln, rn = nullable(shared, left_certain, right_certain)
    if how == "left" and rn:
        raise ValueError("compat_join(how='left') needs a certain "
                         f"right side; got nullable {rn}")
    if not ln and not rn:
        return left.join(right, shared, how)
    if ln and not _left_ready:
        # _left_ready: the caller already checkpointed the frame
        # (leftjoin_filter stamps + checkpoints it for the id
        # restore) — don't materialize it a second time
        left = left.localCheckpoint(eager=True)
    if rn:
        right = right.localCheckpoint(eager=True)
    right_only = [c for c in right.columns if c not in left.columns]
    out = None
    for lnull, lb in _null_mask_buckets(left, ln):
        for rnull, rb in _null_mask_buckets(right, rn):
            keys = [c for c in shared
                    if c not in lnull and c not in rnull]
            adopt = [c for c in shared if c not in keys]
            r2 = rb
            ren = {c: f"__cj_{c}" for c in adopt}
            for c, t in ren.items():
                r2 = r2.withColumnRenamed(c, t)
            if keys:
                j = lb.join(r2, keys, how)
            elif how == "left":
                # keyless left bucket: every right row is compatible;
                # an empty right side keeps the left rows (NULL-padded)
                j = lb.join(r2, F.lit(True), "left")
            else:
                j = lb.crossJoin(r2)
            part = j.select(
                *[(F.coalesce(F.col(c), F.col(ren[c])).alias(c)
                   if c in ren else F.col(c))
                  for c in left.columns],
                *[F.col(c) for c in right_only])
            out = part if out is None else out.unionByName(part)
    return out


def leftjoin_filter(sols: DataFrame, sub: DataFrame,
                    left_certain, right_certain,
                    filters: list[str] | None = None) -> DataFrame:
    """SPARQL §6.1 leftjoin (OPTIONAL) — the one left-join entry.  The
    certain sets are :func:`compat_join`'s, and so is the cap check.
    With no ``filters`` and a right side certain on every shared
    variable it is the plain ``compat_join(how="left")``.

    Otherwise the FILTER is evaluated over the MERGED solution (the
    filter may read variables bound outside the OPTIONAL group): a
    matched row that fails the filter reverts to UNMATCHED — the left
    row survives with NULLs for the group-only variables — it does not
    disappear.  Shape: the left side is stamped with a row id and
    localCheckpointed (ids frozen — re-reads see the same values),
    the inner compatibility join + filter computes the surviving
    matches, and one duplicate-free anti-join on the id restores the
    left rows with no surviving partner.  Same shuffle count as a
    plain left join plus one broadcastable id anti-join."""
    _ln, rn = nullable(shared_vars(sols, sub), left_certain,
                       right_certain)
    if not filters and not rn:
        return compat_join(sols, sub, left_certain, right_certain,
                           how="left")
    sols = (sols.withColumn("__ljid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True))
    merged = compat_join(sols, sub, left_certain, right_certain,
                         how="inner", _left_ready=True)
    for e in filters or []:
        merged = merged.filter(e)
    unmatched = sols.join(merged.select("__ljid"), "__ljid", "left_anti")
    return (merged.unionByName(unmatched, allowMissingColumns=True)
            .drop("__ljid"))


def compat_minus(sols: DataFrame, neg: DataFrame,
                 left_certain, right_certain) -> DataFrame:
    """SPARQL §8.3 MINUS tolerating possibly-unbound shared variables
    on either side (certain sets and cap as in :func:`compat_join`): a
    solution is removed iff some ``neg`` row is compatible with it AND
    their bound domains overlap.  Per null-mask bucket pair the
    overlapping bound domain is exactly the shared variables non-NULL
    on BOTH sides, so each pair is one duplicate-free left-anti join
    (they chain — removal by any pair removes); a pair with no
    commonly-bound shared variable has disjoint domains and removes
    nothing, and so does a ``neg`` sharing no variable."""
    shared = shared_vars(sols, neg)
    if not shared:
        return sols
    ln, rn = nullable(shared, left_certain, right_certain)
    if not ln and not rn:
        return sols.join(neg.select(*shared), shared, "left_anti")
    if ln:
        sols = sols.localCheckpoint(eager=True)
    if rn:
        neg = neg.localCheckpoint(eager=True)
    out = None
    for lnull, lb in _null_mask_buckets(sols, ln):
        part = lb
        for rnull, rb in _null_mask_buckets(neg, rn):
            keys = [c for c in shared
                    if c not in lnull and c not in rnull]
            if keys:
                part = part.join(rb.select(*keys), keys, "left_anti")
        out = part if out is None else out.unionByName(part)
    return out


def compat_exists(sols: DataFrame, grp: DataFrame,
                  left_certain, right_certain,
                  negate: bool = False) -> DataFrame:
    """SPARQL §8.1.1 FILTER (NOT) EXISTS tolerating possibly-unbound
    shared variables on the solution side (certain sets and cap as in
    :func:`compat_join`): only BOUND bindings substitute into the inner
    group — an unbound shared variable is FREE inside EXISTS.  Per
    left null-mask bucket the substituted variables are the shared
    ones non-NULL in the bucket, so each bucket is a semi/anti join on
    those keys (projecting ``grp`` onto them leaves the free variables
    unconstrained); a bucket with no bound shared variable degenerates
    to the corpus-level does-the-group-match-at-all boolean (a
    limit-1 flag joined on a constant key — a broadcast of at most one
    row).  The group must bind every shared variable in every
    solution — an unbound group cell would match any substituted
    binding, which no semi-join key expresses — so a shared variable
    outside ``right_certain`` raises :class:`SparqlUnsupported`."""
    shared = shared_vars(sols, grp)
    loose = sorted(v for v in shared if v not in right_certain)
    if loose:
        raise SparqlUnsupported(
            f"FILTER {'NOT ' if negate else ''}EXISTS whose group "
            f"may leave shared variable(s) {loose} unbound "
            "(an unbound group cell matches any substituted "
            "binding — not a semi-join key); make the group bind "
            "them in every branch")
    ln, _rn = nullable(shared, left_certain, right_certain)
    how = "left_anti" if negate else "left_semi"
    if ln:
        sols = sols.localCheckpoint(eager=True)
    out = None
    for lnull, lb in _null_mask_buckets(sols, ln):
        keys = [c for c in shared if c not in lnull]
        part = (lb.join(grp.select(*keys), keys, how) if keys
                else keyless_exists(lb, grp, how))
        out = part if out is None else out.unionByName(part)
    return out


def bgp_match(triples: DataFrame,
              patterns: list[tuple[str, str, str]],
              optional: list[tuple[str, str, str]] | None = None,
              filters: list[str] | None = None,
              shape_vars=None, path_edges: bool = True) -> DataFrame:
    """Basic-graph-pattern matching — the SPARQL SELECT core the
    reference's consumers run over its emitted graphs (pyrdfa3 hands an
    rdflib Graph to SPARQL; this is the lake-side equivalent over the
    triples table).  Each pattern is an (s, p, o) string triple where a
    leading ``?`` marks a variable; the result carries one column per
    variable and one row per solution mapping (bag semantics, matching
    SPARQL's default).

    ``optional`` patterns implement SPARQL's OPTIONAL: each left-joins
    onto the required solution on its shared variables, so unmatched
    solutions survive with NULL bindings for the optional-only
    variables.

    ``filters`` are SPARQL FILTER expressions as SQL boolean strings
    over the variable columns (e.g. ``"name > 'K'"``); they apply as
    SQL text (``filter(str)``) so Catalyst folds them into the join
    tree — a filter touching one pattern's variables is pushed below
    the joins all the way to the scan.

    Spark-first shape: each pattern compiles to ONE filter and ONE
    projection of the SAME triples frame, both as SQL text (constant
    positions become scan predicates — pushed down to parquet), and
    patterns join pairwise on their shared variables.  Catalyst plans
    the join order/strategy; AQE broadcasts selective patterns and
    splits skewed join keys at runtime.  Patterns are greedily
    reordered so every join shares at least one variable with the
    frame built so far — a disjoint pattern would be a cartesian
    product and raises instead.

    ``path_edges=False`` promises that the frame holds none of the
    reserved NUL-prefixed virtual edges the SPARQL front end's
    property-path expansion unions into its working frame, so a
    variable predicate needs no filter excluding them.
    """
    return _match(triples, ("subj", "pred", "obj"), patterns,
                  optional, filters, shape_vars, path_edges)


def bgp_match_quads(quads: DataFrame,
                    patterns: list[tuple[str, str, str, str]],
                    optional: list[tuple[str, str, str, str]] | None = None,
                    filters: list[str] | None = None,
                    shape_vars=None) -> DataFrame:
    """SPARQL GRAPH-clause matching over a quad store: each pattern is
    an (s, p, o, g) 4-tuple whose fourth term scopes the triple pattern
    to a named graph — constant (``GRAPH <g> {...}``) or variable
    (``GRAPH ?g {...}``, binding the provenance graph into the
    solution).  In the transcript lake the graph term is the
    conversation/turn IRI the extraction stamps on every triple, so
    this is how consumers query *where* a fact was said.

    Same compilation as :func:`bgp_match` — a constant graph term
    becomes a scan predicate (partition-prunable when the store is
    written partitioned by graph), a variable joins like any other.
    """
    return _match(quads, ("subj", "pred", "obj", "graph"), patterns,
                  optional, filters, shape_vars)


def _match(frame, positions, patterns, optional, filters,
           shape_vars=None, path_edges=True):
    shape = frozenset(shape_vars or ())
    shaped = "obj_is_iri" in frame.columns

    def companions(pos: str, var: str) -> list[str]:
        """The three shape columns for a tracked variable, by binding
        position: the object carries the store's shape (or the lexical
        inference on a shapeless frame); subject / predicate / graph
        terms are IRIs-or-bnodes by the data model."""
        iri, lang, dt = (_sql_ident(c) for c in shape_names(var))
        null = "CAST(NULL AS STRING)"
        if pos == "obj":
            if shaped:
                return [f"obj_is_iri AS {iri}", f"obj_lang AS {lang}",
                        f"obj_datatype AS {dt}"]
            return [f"{_lexical_is_iri_sql('obj')} AS {iri}",
                    f"{null} AS {lang}", f"{null} AS {dt}"]
        return [f"true AS {iri}", f"{null} AS {lang}", f"{null} AS {dt}"]

    def compile_one(pat):
        """One pattern -> ONE filter and ONE projection, both as SQL
        text: building a Column costs a dozen driver->JVM round trips
        per call and every intermediate DataFrame is analysed eagerly,
        while ``filter(str)`` / ``selectExpr`` cost one call each.
        Constants are quoted by :func:`sql_str`."""
        if len(pat) != len(positions):
            raise ValueError(
                f"pattern {pat} has {len(pat)} terms; expected "
                f"{len(positions)} {positions}")
        conds = []
        cols = []
        seen: dict[str, str] = {}
        for pos, term in zip(positions, pat):
            if term.startswith("?"):
                var = term[1:]
                # a variable PREDICATE ranges over the graph's real
                # predicates only — never the reserved \x00path*
                # virtual edges a sibling property-path pattern
                # materialized into the shared working frame
                if pos == "pred" and path_edges:
                    conds.append(
                        f"NOT startswith(pred, {sql_str(_VIRTUAL_PRED)})")
                if var in seen:      # repeated variable inside a pattern
                    conds.append(f"{pos} = {seen[var]}")
                else:
                    seen[var] = pos
                    cols.append(f"{pos} AS {_sql_ident(var)}")
                    if var in shape:
                        cols.extend(companions(pos, var))
            else:
                conds.append(f"{pos} = {sql_str(str(term))}")
                # an EXPLICITLY tagged literal ("x"@en / "x"^^<dt>)
                # constrains the term shape, not just the lexical form
                # (implicit grammar shapes — bare 42 — stay lexical,
                # the documented matching model)
                lg = getattr(term, "lang", None)
                d = getattr(term, "dt", None)
                if ((lg or d) and pos == "obj"
                        and not getattr(term, "implicit", False)):
                    if not shaped:
                        raise ValueError(
                            f"shape-tagged literal pattern {pat} "
                            "needs a frame with literal-shape columns "
                            "(obj_is_iri/obj_lang/obj_datatype)")
                    conds.append("NOT obj_is_iri")
                    if lg:
                        conds.append(
                            f"lower(obj_lang) = {sql_str(lg.lower())}")
                    else:
                        conds.append("obj_lang IS NULL AND "
                                     f"obj_datatype = {sql_str(d)}")
        df = frame.filter(" AND ".join(conds)) if conds else frame
        # a ground pattern binds nothing: its rows only say whether
        # the triple exists
        return set(seen), df.selectExpr(*cols) if cols else df

    compiled = [compile_one(p) for p in patterns]
    ground = [df for vs, df in compiled if not vs]
    rest = [c for c in compiled if c[0]]
    if rest:
        bound, out = rest.pop(0)
    else:
        # only ground patterns: one empty solution when they all exist
        bound, out = set(), ground.pop(0).limit(1).select()
    while rest:
        idx = next((i for i, (vs, _) in enumerate(rest) if vs & bound),
                   None)
        if idx is None:
            raise ValueError(
                "disjoint basic graph pattern: no shared variable with "
                f"{sorted(bound)} — a cartesian product at corpus scale; "
                "split the query instead")
        vs, df = rest.pop(idx)
        out = out.join(drop_dup_companions(df, out.columns),
                       sorted(vs & bound), "inner")
        bound |= vs
    for df in ground:
        out = keyless_exists(out, df, "left_semi")
    # required-pattern variables are certain (never NULL); variables a
    # previous OPTIONAL bound may be NULL, and a later OPTIONAL joining
    # on one needs §18.5 compatibility, not an equi-join
    certain = set(bound)
    for grp in optional or []:
        if isinstance(grp, tuple):
            # back-compat shorthand: a bare pattern is a 1-pattern group
            grp = {"patterns": [grp], "filters": None}
        if not grp["patterns"]:
            raise ValueError(
                "OPTIONAL group without triple patterns (an empty or "
                "FILTER-only OPTIONAL binds nothing)")
        # a multi-pattern OPTIONAL matches as a UNIT (SPARQL left-join
        # of the whole group), so the group solves internally first.
        # FILTERs over group-visible variables apply pre-join (equal
        # to the left-join condition); a filter READING an outer
        # variable is §6.1's expression-over-the-merged-domain form
        # and leftjoin_filter evaluates it over the merge
        gvars = {term[1:] for pat in grp["patterns"] for term in pat
                 if isinstance(term, str) and term.startswith("?")}
        if not gvars:
            # a ground group evaluates to {μ0} or {}: LeftJoin with
            # either keeps every outer solution unchanged (§18.5)
            continue
        inner_f, outer_f = [], []
        for e in grp.get("filters") or []:
            (outer_f if filter_reads(e, bound - gvars)
             else inner_f).append(e)
        try:
            sub = _match(frame, positions, grp["patterns"], None,
                         inner_f or None, shape, path_edges)
        except AnalysisException as exc:
            # an unresolved column: the filter references a variable
            # bound in NEITHER the group nor the outer operands
            raise ValueError(
                "OPTIONAL FILTER references an unknown variable: "
                f"{exc}") from exc
        vs = {c for c in sub.columns
              if not c.startswith(SHAPE_PREFIX)}
        if not vs & bound:
            raise ValueError(
                f"optional group {grp['patterns']} shares no variable "
                f"with {sorted(bound)}")
        out = leftjoin_filter(out, sub, certain, vs, filters=outer_f)
        bound |= vs
    for expr in filters or []:
        out = out.filter(expr)
    return out


def bgp_union(triples: DataFrame,
              branches: list[dict],
              shape_vars=None) -> DataFrame:
    """SPARQL UNION: each branch is a kwargs dict for :func:`bgp_match`
    (``patterns`` required; ``optional`` / ``filters`` as needed).
    Branch solutions concatenate; variables bound in only some branches
    come back NULL elsewhere (SPARQL's unbound), via
    ``unionByName(allowMissingColumns=True)``.

    Scale shape: branches are independent subplans over the same scan —
    Catalyst reuses the exchange where the patterns overlap, and the
    union is a zero-shuffle concatenation.
    """
    if not branches:
        raise ValueError("bgp_union needs at least one branch")
    outs = [bgp_match(triples, shape_vars=shape_vars, **b)
            for b in branches]
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o, allowMissingColumns=True)
    return result


def bgp_minus(triples: DataFrame,
              patterns: list[tuple[str, str, str]],
              minus: list[tuple[str, str, str]],
              filters: list[str] | None = None) -> DataFrame:
    """SPARQL MINUS: solutions of ``patterns`` that have NO match for
    the ``minus`` group on their shared variables — :func:`bgp_match`
    plus :func:`compat_minus` with both sides certain, so one left-anti
    join on the shared variables (the same shuffle an inner join would
    take, with Catalyst free to broadcast whichever side is small).
    A group sharing no variable removes nothing per SPARQL and raises.
    """
    base = bgp_match(triples, patterns, filters=filters)
    neg = bgp_match(triples, minus)
    if not shared_vars(base, neg):
        raise ValueError(
            "MINUS group shares no variable with the base pattern — "
            "per SPARQL semantics that removes nothing; drop the MINUS")
    return compat_minus(base, neg, base.columns, neg.columns)


def bgp_exists(triples: DataFrame,
               patterns: list[tuple[str, str, str]],
               exists: list[tuple[str, str, str]],
               negate: bool = False,
               filters: list[str] | None = None) -> DataFrame:
    """SPARQL ``FILTER EXISTS { ... }`` / ``FILTER NOT EXISTS { ... }``:
    keep solutions of ``patterns`` for which the ``exists`` group does
    (does not, with ``negate``) match under the solution's bindings.

    This is NOT the same operator as :func:`bgp_minus` — the two
    diverge exactly where SPARQL says they do (spec §8.3.3): when the
    inner group shares no variable with the base, MINUS removes nothing
    (disjoint domains), while NOT EXISTS substitutes the (irrelevant)
    bindings and so degenerates to a corpus-level boolean — the group
    either matches at all (drop every solution) or never matches (keep
    every solution).  ``bgp_minus`` refuses the disjoint case; this
    operator implements it.

    :func:`bgp_match` plus :func:`compat_exists` with both sides
    certain.  Scale shape: shared variables -> one ``left_semi`` /
    ``left_anti`` join on them (duplicate-free probe side,
    broadcastable).  Disjoint group -> the existence test collapses to
    a 0-or-1-row frame (``limit(1)``; executes a partial scan with
    early stop, never a full count) that joins on a constant key — a
    broadcast of at most one row, no data shuffle.
    """
    base = bgp_match(triples, patterns, filters=filters)
    grp = bgp_match(triples, exists)
    return compat_exists(base, grp, base.columns, grp.columns,
                         negate=negate)


def bind(sols: DataFrame, var: str, expr: str) -> DataFrame:
    """SPARQL ``BIND(expr AS ?var)``: extend every solution with a
    computed binding.  ``expr`` is a SQL expression over the bound
    variable columns, compiled via ``F.expr`` so it stays inside
    whole-stage codegen — a pure projection, zero shuffle.

    SPARQL forbids rebinding an in-scope variable (spec §10.1); this
    raises rather than silently shadowing.
    """
    if var in sols.columns:
        raise ValueError(
            f"BIND target ?{var} is already bound — SPARQL forbids "
            "rebinding an in-scope variable; pick a fresh name")
    return sols.withColumn(var, F.expr(expr))


def construct(triples: DataFrame,
              patterns: list[tuple[str, str, str]],
              template: list[tuple[str, str, str]],
              optional: list[tuple[str, str, str]] | None = None,
              filters: list[str] | None = None,
              shape_vars=None,
              obj_shapes: list | None = None) -> DataFrame:
    """SPARQL CONSTRUCT — rule-based triple derivation, the KG-
    construction primitive: match ``patterns``, instantiate every
    ``template`` (s, p, o) per solution (``?var`` positions substitute
    bindings, other positions are constants), emit the derived graph
    with set semantics.

    Template rows containing a variable that is NULL in a solution
    (possible via ``optional``) are skipped for that solution, matching
    SPARQL's incomplete-triple rule.

    Scale shape: the solution frame fans out through an in-row array of
    template structs + explode — one narrow map over the join output,
    no extra shuffle; the final distinct is the only added exchange
    (set semantics, same as every other graph op here).
    """
    sols = bgp_match(triples, patterns, optional=optional,
                     filters=filters, shape_vars=shape_vars)
    return construct_solutions(sols, template,
                               obj_shapes=obj_shapes).dropDuplicates()


def construct_solutions(sols: DataFrame,
                        template: list[tuple[str, str, str]],
                        obj_shapes: list[tuple] | None = None,
                        graphs: list | None = None) -> DataFrame:
    """The instantiation half of :func:`construct`: explode every
    ``template`` (s, p, o) per solution row (``?var`` positions
    substitute bindings, NULL-binding rows are skipped per the
    incomplete-triple rule).  Exposed separately so callers holding an
    already-solved frame (e.g. SPARQL UPDATE instantiating both a
    DELETE and an INSERT template from ONE WHERE match) don't re-run
    the pattern join per template.

    The output is a bag: one row per solution and template entry.
    Callers that need a set deduplicate it themselves (CONSTRUCT and
    UPDATE's INSERT side); UPDATE's DELETE side hands it to an anti
    join as it is, whose answer duplicates cannot change.

    ``graphs`` (one entry per template entry, SPARQL UPDATE's
    QuadPattern instantiation) additionally emits a ``graph`` column:
    each entry is ``None`` (the default graph — a NULL cell), a
    constant graph IRI, or a ``?var`` whose per-row binding supplies
    the target — an UNBOUND graph variable instantiates nothing for
    that row, like any other template position.

    ``obj_shapes`` (one entry per template entry) additionally emits
    the literal-shape columns — SPARQL UPDATE and shaped CONSTRUCT use
    it so derived rows land with real term shapes instead of the
    all-IRI default.  Each entry is either a constant
    ``(is_iri, lang, datatype)`` triple (template constants carry
    their parse-time shape) or the string ``"binding"``: the object is
    a variable and its shape is read per-row from the solution frame's
    hidden ``__shape_<var>_*`` companion columns (ask the matcher for
    them via ``shape_vars``)."""
    def term(t):
        t = str(t)  # parser terms may be str subclasses
        # BIND/aggregate-bound variables are typed columns; the
        # lexical triple model stores the string form
        return (f"CAST({_sql_ident(t[1:])} AS STRING)"
                if t.startswith("?") else sql_str(t))

    def opt_str(v):
        return "CAST(NULL AS STRING)" if v is None else sql_str(v)

    if obj_shapes is not None and len(obj_shapes) != len(template):
        raise ValueError("obj_shapes must align with template")
    if graphs is not None and len(graphs) != len(template):
        raise ValueError("graphs must align with template")

    # the instantiation is SQL text (one selectExpr), like the
    # matcher's patterns: a Column per template field would cost a
    # dozen driver->JVM round trips each
    def fields(i, s, p, o):
        subj = term(s)
        if graphs is not None and str(graphs[i]).startswith("?"):
            # unbound graph binding -> no instantiation for this row:
            # poison the subject so the incomplete-row filter drops it
            subj = (f"CASE WHEN {_sql_ident(str(graphs[i])[1:])} "
                    f"IS NOT NULL THEN {subj} END")
        out = [("subj", subj), ("pred", term(p)), ("obj", term(o))]
        if graphs is not None:
            gt = graphs[i]
            out.append(("graph", term(gt) if str(gt).startswith("?")
                        else opt_str(gt)))
        if obj_shapes is not None:
            if obj_shapes[i] == "binding":
                iri, lang, dt = (_sql_ident(c)
                                 for c in shape_names(str(o)[1:]))
                # a NULL companion (BIND/subquery-bound value — shape
                # unknown) falls back to the engine-wide lexical
                # inference: NULL obj_is_iri would serialize as an
                # IRI, silently corrupting derived literals
                out += [("obj_is_iri",
                         f"coalesce(CAST({iri} AS BOOLEAN), "
                         f"{_lexical_is_iri_sql(term(o))})"),
                        ("obj_lang", f"CAST({lang} AS STRING)"),
                        ("obj_datatype", f"CAST({dt} AS STRING)")]
            else:
                is_iri, lang, dtype = obj_shapes[i]
                out += [("obj_is_iri", "true" if is_iri else "false"),
                        ("obj_lang", opt_str(lang)),
                        ("obj_datatype", opt_str(dtype))]
        return "named_struct(" + ", ".join(
            f"'{name}', {e}" for name, e in out) + ")"

    rows = ", ".join(fields(i, s, p, o)
                     for i, (s, p, o) in enumerate(template))
    return (sols.selectExpr(f"explode(array({rows})) AS t")
            .selectExpr("t.*")
            .filter("subj IS NOT NULL AND pred IS NOT NULL "
                    "AND obj IS NOT NULL"))


def path_closure(triples: DataFrame, pred: str,
                 out_pred: str | None = None,
                 strategy: str = "seminaive") -> DataFrame:
    """SPARQL property path ``pred+``: the transitive closure of one
    predicate's edges, rematerialized as triples under ``out_pred``
    (default: ``pred`` itself).  Join the result into :func:`bgp_match`
    patterns to query ``?x pred+ ?y`` — the path becomes an ordinary
    virtual predicate, so the BGP planner (and Catalyst) treat it like
    any other pattern.

    The predicate filter is pushed to the scan before the fixpoint, so
    the closure only ever shuffles that predicate's edge set — at corpus
    scale that's the difference between closing a hierarchy (millions of
    edges) and closing the whole graph (trillions).
    """
    edges = (triples.filter(F.col("pred") == pred)
             .select(F.col("subj").alias("src"),
                     F.col("obj").alias("dst")))
    closed = transitive_closure(edges, strategy=strategy)
    return closed.select(F.col("src").alias("subj"),
                         F.lit(out_pred or pred).alias("pred"),
                         F.col("dst").alias("obj"))


def obj_shape_cols(df: DataFrame) -> list[str]:
    """The literal-shape columns present on a frame.  The single-hop
    path forms (alt / negated / seq's last hop / inverse) keep them so
    term-shape builtins still see a path-bound object's shape; the
    closure forms don't (a multi-hop endpoint's shape is unknown by
    construction and reads as NULL)."""
    return [c for c in TERM_COLS[3:] if c in df.columns]


def path_seq(triples: DataFrame, preds: list[str],
             out_pred: str) -> DataFrame:
    """SPARQL sequence path ``p1/p2/.../pn`` as a virtual predicate:
    endpoints connected by following each predicate in order.  Compiles
    to n-1 equi-joins over per-predicate scan slices (each predicate
    filter pushes down); Catalyst picks broadcast vs shuffle per hop.
    """
    if not preds:
        raise ValueError("path_seq needs at least one predicate")
    sh = obj_shape_cols(triples)
    hops = []
    for i, p in enumerate(preds):
        cols = [F.col("subj").alias(f"_n{i}"),
                F.col("obj").alias(f"_n{i + 1}")]
        if i == len(preds) - 1:  # the endpoint keeps its shape
            cols += [F.col(c) for c in sh]
        hops.append(triples.filter(F.col("pred") == p).select(*cols))
    out = hops[0]
    for i, h in enumerate(hops[1:], start=1):
        out = out.join(h, f"_n{i}")
    return (out.select(F.col("_n0").alias("subj"),
                       F.lit(out_pred).alias("pred"),
                       F.col(f"_n{len(preds)}").alias("obj"), *sh)
            .dropDuplicates())


def path_alt(triples: DataFrame, preds: list[str],
             out_pred: str) -> DataFrame:
    """SPARQL alternative path ``p1|p2|...`` — one scan with an IN
    filter, rewritten under the virtual predicate (set semantics)."""
    if not preds:
        raise ValueError("path_alt needs at least one predicate")
    return (triples.filter(F.col("pred").isin(preds))
            .select("subj", F.lit(out_pred).alias("pred"), "obj",
                    *obj_shape_cols(triples))
            .dropDuplicates())


def path_inverse(triples: DataFrame, pred: str,
                 out_pred: str) -> DataFrame:
    """SPARQL inverse path ``^p`` — subject/object swap under the
    virtual predicate (a projection; zero shuffle).  The new object is
    the original SUBJECT, an IRI-or-bnode by the data model."""
    out = (triples.filter(F.col("pred") == pred)
           .select(F.col("obj").alias("subj"),
                   F.lit(out_pred).alias("pred"),
                   F.col("subj").alias("obj")))
    if obj_shape_cols(triples):
        out = (out.withColumn("obj_is_iri", F.lit(True))
               .withColumn("obj_lang", F.lit(None).cast("string"))
               .withColumn("obj_datatype", F.lit(None).cast("string")))
    return out


def path_negated(triples: DataFrame, preds: list[str],
                 out_pred: str) -> DataFrame:
    """SPARQL negated property set ``!(p1|p2|...)`` — every edge whose
    predicate is NOT in the excluded set, rewritten under the virtual
    predicate.  One scan with a NOT-IN filter (pushed down); set
    semantics like the other path operators."""
    if not preds:
        raise ValueError("path_negated needs at least one excluded "
                         "predicate (use the triples frame directly "
                         "for the empty set)")
    return (triples.filter(~F.col("pred").isin(preds)
                           & ~F.col("pred").startswith(_VIRTUAL_PRED))
            .select("subj", F.lit(out_pred).alias("pred"), "obj",
                    *obj_shape_cols(triples))
            .dropDuplicates())


def path_negated_set(triples: DataFrame, fwd: list[str],
                     inv: list[str], out_pred: str) -> DataFrame:
    """SPARQL §9.1 negated property set WITH inverse members:
    ``!(p1|..|^q1|..)`` matches (x, y) when a FORWARD edge x->y has a
    predicate outside {p1..}, or a REVERSE edge y->x has a predicate
    outside {q1..} — each edge direction is excluded against its own
    set, the spec's NPS translation.  Two NOT-IN scans of the same
    frame plus a projection flip — zero joins; flipped rows' objects
    are original subjects (IRI-or-bnode by the data model), stamped
    accordingly when shape columns ride along.  Set semantics over
    full rows, like :func:`path_negated` (a pair reached through two
    distinct object TERMS stays two solutions)."""
    if not fwd and not inv:
        raise ValueError("path_negated_set needs a nonempty "
                         "exclusion set")
    base = triples.filter(~F.col("pred").startswith(_VIRTUAL_PRED))
    shape = obj_shape_cols(triples)
    parts = []
    if fwd:
        parts.append(
            base.filter(~F.col("pred").isin(fwd))
            .select("subj", F.lit(out_pred).alias("pred"), "obj",
                    *shape))
    if inv:
        flipped = (base.filter(~F.col("pred").isin(inv))
                   .select(F.col("obj").alias("subj"),
                           F.lit(out_pred).alias("pred"),
                           F.col("subj").alias("obj")))
        if shape:
            flipped = (flipped
                       .withColumn("obj_is_iri", F.lit(True))
                       .withColumn("obj_lang",
                                   F.lit(None).cast("string"))
                       .withColumn("obj_datatype",
                                   F.lit(None).cast("string")))
        parts.append(flipped)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()


def graph_terms(triples: DataFrame) -> DataFrame:
    """All RDF terms appearing in subject or object position — the
    domain SPARQL gives zero-length property paths.  One column
    ``node``; a union of two projections of the same scan (Catalyst
    reuses the exchange), distinct."""
    return (triples.select(F.col("subj").alias("node"))
            .unionByName(triples.select(F.col("obj").alias("node")))
            .dropDuplicates())


def path_zero_or_one(triples: DataFrame, pred: str,
                     out_pred: str) -> DataFrame:
    """SPARQL path ``p?``: the predicate's edges plus the zero-length
    path (t, t) for every term in the graph — per the SPARQL spec the
    zero-length path relates each graph term to itself, independent of
    the predicate."""
    edges = (triples.filter(F.col("pred") == pred)
             .select("subj", F.lit(out_pred).alias("pred"), "obj"))
    zero = graph_terms(triples).select(
        F.col("node").alias("subj"), F.lit(out_pred).alias("pred"),
        F.col("node").alias("obj"))
    return edges.unionByName(zero).dropDuplicates()


def path_zero_or_more(triples: DataFrame, pred: str,
                      out_pred: str | None = None,
                      strategy: str = "seminaive") -> DataFrame:
    """SPARQL path ``p*``: :func:`path_closure` (``p+``) unioned with
    the zero-length (t, t) pairs over every graph term.  The closure
    only shuffles the predicate's edge slice; the zero pairs are a
    narrow distinct over the scan."""
    out = out_pred or pred
    plus = path_closure(triples, pred, out_pred=out, strategy=strategy)
    zero = graph_terms(triples).select(
        F.col("node").alias("subj"), F.lit(out).alias("pred"),
        F.col("node").alias("obj"))
    return plus.unionByName(zero).dropDuplicates()


#: The budgets of :func:`_reach`: an edge slice of at most
#: ``_SLICE_ROWS`` rows is collected once and searched on the driver;
#: a larger one is walked one ``IN``-list job per hop while at most
#: ``_WALK_MAX_NODES`` nodes have been reached (a hop's ``IN`` list of
#: 1,000 keys costs ~90 ms, of 10,000 keys ~400 ms, local[2]).
_SLICE_ROWS = 100_000
_WALK_MAX_NODES = 1_000


def _successors(pairs):
    """The successor function of driver-side ``(src, dst)`` pairs: a
    frontier's set of nodes one edge away."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    return lambda frontier: {b for a in frontier for b in adj.get(a, ())}


_TOO_DEEP = "reachability frontier still expanding after {} hops; " \
    "raise max_hops"


def _bfs(successors, seeds, plus: bool, max_hops: float = math.inf,
         budget: float = math.inf) -> dict | None:
    """Breadth-first search on the driver: ``{node: dist}``, the fewest
    hops from any of ``seeds``; ``successors(frontier)`` gives the
    nodes one edge away from a set of nodes.  With ``plus`` a path has
    an edge (SPARQL ``p+``), so a seed is in the answer only when a
    cycle leads back to it; else every seed is at distance 0 (``p*``).
    Raises when a node lies more than ``max_hops`` hops away (a
    truncated answer would drop exactly the boundary asked for);
    returns None once more than ``budget`` nodes are reached."""
    dist = {} if plus else dict.fromkeys(seeds, 0)
    frontier, hop = set(seeds), 0
    while frontier := {n for n in successors(frontier) if n not in dist}:
        hop += 1
        if hop > max_hops:
            raise RuntimeError(_TOO_DEEP.format(max_hops))
        dist.update(dict.fromkeys(frontier, hop))
        if len(dist) > budget:
            return None
    return dist


def _reach(edges: DataFrame, seeds, plus: bool,
           max_hops: float = math.inf) -> DataFrame:
    """The one reachability evaluator: ``(node, dist)`` for every node
    a path over the ``(src, dst)`` edges leads to from ``seeds``, with
    its fewest hops (``plus``, ``max_hops`` as in :func:`_bfs`).  Only
    what the seeds reach is searched (magic sets, Bancilhon et al.,
    PODS 1986), in one of three regimes: (1) one Arrow collect of at
    most ``_SLICE_ROWS + 1`` edges; a slice that fits is searched on
    the driver, one job in all; (2) a larger slice is walked from the
    seeds, one ``IN``-list job per hop (a hash set in the scan; no
    shuffle), while at most ``_WALK_MAX_NODES`` nodes are reached;
    (3) past that, :func:`_reach_frames` restarts from the seeds, the
    one regime that holds no reached set on the driver.  Regimes 1
    and 2 answer with a :func:`local_frame`."""
    e = edges.selectExpr("src", "dst").filter("dst IS NOT NULL")
    seeds = sorted(set(seeds))
    # one job: an Arrow collect runs the limit's shuffle to one
    # partition inside its job; collect() scans partitions in rounds
    s = e.limit(_SLICE_ROWS + 1).toArrow()
    if s.num_rows <= _SLICE_ROWS:
        dist = _bfs(_successors(zip(s.column(0).to_pylist(),
                                    s.column(1).to_pylist())),
                    seeds, plus, max_hops)
    else:
        def walk(frontier):
            keys = ", ".join(map(sql_str, sorted(frontier)))
            return {r[0] for r in e.filter(f"src IN ({keys})")
                    .select("dst").collect()}
        dist = _bfs(walk, seeds, plus, max_hops, budget=_WALK_MAX_NODES)
        if dist is None:
            return _reach_frames(e, seeds, plus, max_hops)
    return local_frame(e.sparkSession, sorted(dist.items()),
                       "node string, dist bigint")


def _reach_frames(e: DataFrame, seeds: list[str], plus: bool,
                  max_hops: float) -> DataFrame:
    """:func:`_bfs` as frames: one join, dedup and anti-join against
    the reached set per hop, so a node is expanded once (first reach
    IS the fewest hops, by layer order); frontier and answer are
    lineage-truncated per hop."""
    spark = e.sparkSession
    frontier = local_frame(spark, [(n,) for n in seeds], "node string")
    out = (local_frame(spark, [], "node string, dist bigint") if plus
           else frontier.selectExpr("node", "CAST(0 AS bigint) AS dist"))
    for hop in itertools.count(1):
        nxt = (e.join(frontier.selectExpr("node AS src"), "src")
               .selectExpr("dst AS node")
               .dropDuplicates()
               .join(out.select("node"), "node", "left_anti")
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            return out
        if hop > max_hops:
            raise RuntimeError(_TOO_DEEP.format(max_hops))
        out = out.unionByName(nxt.selectExpr(
            "node", f"CAST({hop} AS bigint) AS dist"
        )).localCheckpoint(eager=True)
        frontier = nxt


def path_walk(triples: DataFrame, pred: str, start: str, out_pred: str,
              reverse: bool = False, zero_length: bool = False
              ) -> DataFrame:
    """SPARQL ``<start> pred+ ?x`` (with ``reverse``: ``?x pred+
    <start>``) searched from the constant end by :func:`_reach`.
    Returns the ``(subj, pred, obj)`` edges of :func:`path_closure`
    filtered to ``start``, under ``out_pred``: ``(start, out_pred,
    x)`` for every ``x`` one or more hops away (reversed: ``(x,
    out_pred, start)``), so ``start`` only when a cycle leads back to
    it.  With ``zero_length`` it is ``pred*``, whose answer also holds
    ``(start, start)``, whether or not ``start`` is a graph term
    (SPARQL 1.1 §18.4, ALP with a bound start)."""
    src, dst = ("obj", "subj") if reverse else ("subj", "obj")
    edges = triples.filter(f"pred = {sql_str(pred)}").selectExpr(
        f"{src} AS src", f"{dst} AS dst")
    ends = ("node", sql_str(start)) if reverse else (sql_str(start), "node")
    return _reach(edges, [start], plus=not zero_length).selectExpr(
        f"{ends[0]} AS subj", f"{sql_str(out_pred)} AS pred",
        f"{ends[1]} AS obj")


def bgp_values(triples: DataFrame,
               patterns: list[tuple[str, str, str]],
               var_names: list[str],
               rows: list[tuple],
               optional: list[tuple[str, str, str]] | None = None,
               filters: list[str] | None = None,
               shape_vars=None, path_edges: bool = True) -> DataFrame:
    """SPARQL VALUES: constrain (and extend) BGP solutions with an
    inline binding table.  ``var_names`` are the VALUES variables (no
    ``?``), ``rows`` their bindings; ``None`` is UNDEF — that variable
    is unconstrained for that row, per the spec's compatible-mapping
    rule.

    :func:`bgp_match` plus :func:`join_values`, with the required
    patterns' variables as the known-bound set: a VALUES variable they
    bind is a broadcast hash-join key, while one only an OPTIONAL binds
    joins on ``IS NULL OR =`` and an unbound cell adopts the row's
    value (§18.5).  A filter that reads a VALUES variable the required
    patterns don't bind (OPTIONAL-only or extension) applies after the
    join (§18.2.2: filters apply at group end).
    """
    if not var_names:
        raise ValueError("bgp_values needs at least one variable")
    bound = {t[1:] for pat in patterns for t in pat
             if isinstance(t, str) and t.startswith("?")}
    unbound = [v for v in var_names if v not in bound]
    held = [e for e in filters or () if filter_reads(e, unbound)]
    sols = bgp_match(triples, patterns, optional=optional,
                     filters=[e for e in filters or () if e not in held]
                     or None,
                     shape_vars=shape_vars, path_edges=path_edges)
    if not any(v in sols.columns for v in var_names):
        raise ValueError(
            "VALUES shares no variable with the pattern group — the "
            "binding table would cross-join every solution")
    out = join_values(sols, var_names, rows, bound=bound,
                      shape_vars=shape_vars)
    for e in held:
        out = out.filter(e)
    return out


def join_values(sols: DataFrame, names: list[str], rows: list[tuple],
                bound=(), shape_vars=None) -> DataFrame:
    """Join a SPARQL VALUES table onto a solution frame — the one
    VALUES join, serving :func:`bgp_values` and every VALUES form of
    the SPARQL front end (group, pattern-less and trailing).

    ``names`` are the VALUES variables and ``rows`` their bindings;
    ``None`` is UNDEF and constrains nothing.  ``bound`` names the
    columns of ``sols`` the caller knows are never NULL.  Rows group by
    their defined-cell mask and each group joins its own broadcast
    binding table:

    * a defined shared column in ``bound`` is an equi-join key, so the
      plan is a broadcast hash join that never shuffles ``sols``;
    * any other defined shared column matches on ``IS NULL OR =`` and
      an unbound (NULL) cell adopts the row's value (§18.5
      compatibility); with no key column this is a broadcast nested
      loop, bounded by the inline table's size;
    * a name absent from ``sols`` is an extension variable: it binds
      the row's value (NULL where the row says UNDEF).

    VALUES joins as a bag: a solution compatible with several rows
    multiplies, and a row with no defined cell keeps every solution
    once per row.  Bindings the table introduces or adopts for a
    variable in ``shape_vars`` carry lexically-inferred shape
    companions."""
    for r in rows:
        if len(r) != len(names):
            raise ValueError(f"VALUES row {r} arity != {names}")
    new = [n for n in names if n not in sols.columns]
    null = "CAST(NULL AS STRING)"

    def s(c):
        return f"__vj_s.{_sql_ident(c)}"

    def v(c):
        return f"__vj_v.{_sql_ident(c)}"

    groups: dict[tuple[int, ...], list[tuple]] = {}
    for r in rows:
        groups.setdefault(tuple(i for i, c in enumerate(r)
                                if c is not None), []).append(r)
    out = None
    for mask, rs in groups.items():
        cols = [names[i] for i in mask]
        if not cols:
            one = sols.selectExpr(
                "*", *[f"{null} AS {_sql_ident(c)}" for c in new])
            part = one
            for _ in rs[1:]:
                part = part.unionByName(one)
        else:
            lit = local_frame(
                sols.sparkSession,
                [tuple(str(r[i]) for i in mask) for r in rs],
                ", ".join(f"{_sql_ident(c)} string" for c in cols))
            left = sols.alias("__vj_s")
            right = F.broadcast(lit.alias("__vj_v"))
            conds = [(f"{s(c)} = {v(c)}" if c in bound
                      else f"({s(c)} IS NULL OR {s(c)} = {v(c)})")
                     for c in cols if c in sols.columns]
            joined = (left.join(right, F.expr(" AND ".join(conds)))
                      if conds else left.crossJoin(right))
            part = joined.selectExpr(
                *[(f"coalesce({s(c)}, {v(c)}) AS {_sql_ident(c)}"
                   if c in cols and c not in bound else s(c))
                  for c in sols.columns],
                *[(v(c) if c in cols else f"{null} AS {_sql_ident(c)}")
                  for c in new])
        out = part if out is None else out.unionByName(part)
    if out is None:  # empty binding table: joins away every solution
        out = sols.limit(0).selectExpr(
            "*", *[f"{null} AS {_sql_ident(c)}" for c in new])
    tracked = [v for v in shape_vars or () if v in names]
    out = ensure_shape_companions(out, tracked)
    return repair_adopted_companions(
        out, [v for v in tracked if v in sols.columns and v not in bound])


_SQL_KEYWORDS = frozenset(
    "and or not case when then else end null true false is in like "
    "as cast distinct asc desc between".split())


def _sql_column_refs(expr: str) -> set[str]:
    """Best-effort column references of a SQL expression: bare
    identifiers that aren't function calls, keywords or inside string
    literals.  Used only to REJECT ambiguous shapes early — a false
    positive surfaces as a clear error, never a wrong answer."""
    stripped = re.sub(r"'(?:[^'\\]|\\.)*'", "", expr)
    return {m.group(1)
            for m in re.finditer(r"\b([A-Za-z_]\w*)\b(?!\s*\()",
                                 stripped)
            if m.group(1).lower() not in _SQL_KEYWORDS}


def select_solutions(sols: DataFrame,
                     order_by: list[str] | None = None,
                     limit: int | None = None,
                     offset: int = 0,
                     distinct: bool = False,
                     project: list[str] | None = None) -> DataFrame:
    """SPARQL solution modifiers: SELECT projection, DISTINCT,
    ORDER BY (``"var"`` ascending, ``"-var"`` descending, or an
    ``("asc"|"desc", sql_expr)`` pair for expression order
    conditions), LIMIT / OFFSET.  Without DISTINCT the sort runs
    BEFORE projection, so order conditions may reference
    non-projected variables (§18.2.4.4); with DISTINCT they must use
    projected columns only — anything else is rejected, never an
    arbitrary pick.

    Scale shape: ORDER BY + LIMIT plans as TakeOrdered — each partition
    keeps its local top (limit+offset) and only those rows reach the
    driver-side merge; no global sort materializes.  An ORDER BY with
    no LIMIT is an honest full sort (range-partitioned exchange),
    because that is what the query asks for.
    """
    out = sols
    keys = [(F.expr(k[1]).desc() if k[0] == "desc"
             else F.expr(k[1])) if isinstance(k, tuple)
            else (F.col(k[1:]).desc() if k.startswith("-")
                  else F.col(k))
            for k in order_by or []]
    if distinct:
        # DISTINCT collapses the PROJECTED solutions, so the sort can
        # only come after it and must use projected columns — ordering
        # by a non-projected variable under DISTINCT is ambiguous (the
        # collapsed row has no single source value).  Validated HERE
        # because Spark's ResolveMissingReferences would silently pull
        # the missing column through dropDuplicates and return an
        # arbitrary, partition-dependent "order"
        if project:
            bad = [r for k in order_by or []
                   for r in _sql_column_refs(
                       k[1] if isinstance(k, tuple) else k.lstrip("-"))
                   if r not in project]
            if bad:
                raise ValueError(
                    f"ORDER BY references non-projected columns {bad} "
                    "under DISTINCT — project them or drop DISTINCT")
            if out.columns != project:
                out = out.select(*project)
        out = out.dropDuplicates()
        if keys:
            out = out.orderBy(*keys)
    else:
        # ORDER BY precedes projection in the SPARQL algebra
        # (§18.2.4.4 Slice∘Project∘OrderBy), so order conditions may
        # reference non-projected variables; the narrow projection
        # afterwards preserves the sort
        if keys:
            out = out.orderBy(*keys)
        if project and out.columns != project:
            out = out.select(*project)
    if offset:
        if not order_by:
            raise ValueError("OFFSET without ORDER BY is "
                             "non-deterministic; add order_by")
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def solution_agg(sols: DataFrame, group_by: list[str],
                 aggs: dict[str, tuple],
                 having: str | None = None) -> DataFrame:
    """SPARQL aggregates over a solution frame.  ``aggs`` maps output
    column -> (kind, var) or (kind, var, separator) for group_concat.
    Kinds: count (var ``*`` for COUNT(*)), count_distinct, sum, avg,
    min, max, sample, group_concat.  ``having`` is a SPARQL HAVING
    clause as a SQL boolean over the OUTPUT columns (group keys +
    aggregate aliases), applied after the aggregation — Catalyst keeps
    the partial (map-side) aggregation intact and filters post-merge,
    which is the only correct placement for a predicate over aggregate
    values.

    Determinism: SPARQL leaves SAMPLE's choice and GROUP_CONCAT's order
    implementation-defined; here SAMPLE is the minimum and GROUP_CONCAT
    sorts its values, so results are stable across runs and partition
    layouts — required for the lake's reproducibility contract.

    One hash aggregation with map-side partials; group_concat's
    collect_list is bounded by the group's solution count (document
    cardinality), not the corpus.
    """
    exprs = []
    for name, spec in aggs.items():
        kind, var = spec[0], spec[1]
        if kind == "count":
            e = F.count(F.lit(1)) if var == "*" else F.count(var)
        elif kind == "count_distinct":
            e = F.countDistinct(var)
        elif kind == "sum":
            e = F.sum(var)
        elif kind == "sum_distinct":
            e = F.sum_distinct(F.col(var))
        elif kind == "avg":
            e = F.avg(var)
        elif kind == "avg_distinct":
            e = F.expr(f"avg(DISTINCT `{var}`)")
        elif kind == "min":
            e = F.min(var)
        elif kind == "max":
            e = F.max(var)
        elif kind == "sample":
            e = F.min(var)
        elif kind in ("group_concat", "group_concat_distinct"):
            sep = spec[2] if len(spec) > 2 else " "
            vals = (F.collect_set(var) if kind.endswith("_distinct")
                    else F.collect_list(var))
            e = F.array_join(F.array_sort(vals), sep)
        else:
            raise ValueError(f"unknown aggregate kind {kind!r}")
        exprs.append(e.alias(name))
    # GROUP BY without an aggregate is a distinct projection of the
    # group keys (§18.2.4.1)
    out = (sols.groupBy(*group_by).agg(*exprs) if exprs
           else sols.select(*group_by).dropDuplicates())
    if having:
        out = out.filter(having)
    return out


GENID = "/.well-known/genid/"


def skolemize(triples: DataFrame,
              base: str = "http://transcript.local") -> DataFrame:
    """Replace blank-node labels with RDF 1.1 skolem IRIs
    (``<base>/.well-known/genid/<label>``) in subject and object
    position — the spec's mechanism for making bnodes stable across
    graph merges, exactly what a lake needs before cross-document joins
    or sinks.  The extraction UDF already emits per-document
    deterministic labels (keyed on conv_id/turn_idx), so the rewrite is
    collision-free corpus-wide.

    Pure column algebra (two conditional string concats) — zero
    shuffle, stays inside whole-stage codegen.  ``obj_is_iri`` is left
    untouched: in this term model it means "reference, not literal",
    which covers bnodes and skolem IRIs alike, so it is invariant under
    the rewrite (and the inverse).
    """
    prefix = base + GENID

    def sk(col):
        return F.when(col.startswith("_:"),
                      F.concat(F.lit(prefix), col.substr(F.lit(3),
                                                         F.length(col)))
                      ).otherwise(col)

    return triples.withColumn("subj", sk(F.col("subj"))) \
        .withColumn("obj", sk(F.col("obj")))


def deskolemize(triples: DataFrame,
                base: str = "http://transcript.local") -> DataFrame:
    """Inverse of :func:`skolemize`: genid IRIs under ``base`` become
    ``_:`` labels again (for serializers whose consumers expect
    bnodes).  Same zero-shuffle column algebra; ``obj_is_iri`` is
    invariant (see :func:`skolemize`)."""
    prefix = base + GENID

    def unsk(col):
        return F.when(
            col.startswith(prefix),
            F.concat(F.lit("_:"),
                     col.substr(F.lit(len(prefix) + 1), F.length(col)))
        ).otherwise(col)

    return triples.withColumn("subj", unsk(F.col("subj"))) \
        .withColumn("obj", unsk(F.col("obj")))


def ask(triples: DataFrame,
        patterns: list[tuple[str, str, str]],
        filters: list[str] | None = None) -> DataFrame:
    """SPARQL ASK: one row, one boolean ``result`` column — does the
    pattern group have any solution (see :func:`ask_solutions`)."""
    return ask_solutions(bgp_match(triples, patterns, filters=filters))


def ask_solutions(sols: DataFrame) -> DataFrame:
    """Answer ASK over a solution frame with one eager limit-1 take
    (``isEmpty``): the scan stops at the first solution and runs no
    shuffle, where a lazy ``limit(1).agg(count)`` plans a
    single-partition exchange that costs a second job.  The answer is
    a one-row local relation, which collects without a job."""
    hit = not sols.isEmpty()
    return sols.sparkSession.sql(
        f"VALUES ({str(hit).lower()}) AS t(result)")


def describe(triples: DataFrame, nodes: list[str],
             max_hops: int = 10) -> DataFrame:
    """SPARQL DESCRIBE as a Concise Bounded Description: every triple
    whose subject is a requested node, recursing through blank-node
    objects (a bnode has no global identity, so its description belongs
    to the describing resource) up to ``max_hops`` levels.

    Scale shape: the frontier is per-entity-sized (the seeds plus their
    bnode children), so each hop is a broadcast semi-join against the
    triple scan — no shuffle of the corpus; the frontier is
    lineage-truncated per hop.  Raises if bnode chains outrun
    ``max_hops`` rather than returning a silently truncated
    description.
    """
    if not nodes:
        raise ValueError("describe needs at least one node")
    frontier = local_frame(triples.sparkSession,
                           [(n,) for n in sorted(set(nodes))],
                           "subj string")
    return _describe_loop(triples, frontier, max_hops, hint=True)


def describe_frame(triples: DataFrame, nodes: DataFrame,
                   node_col: str = "node",
                   max_hops: int = 10) -> DataFrame:
    """:func:`describe` driven by a node FRAME instead of a literal
    list — the ``DESCRIBE ?x WHERE {...}`` form, where the solution
    set picks the resources.  Unlike the list form the frontier is not
    broadcast-hinted: a solution-driven node set can be large, so the
    join strategy is left to Catalyst/AQE (which still broadcasts
    small frontiers from runtime stats)."""
    frontier = nodes.select(F.col(node_col).alias("subj")) \
        .filter(F.col("subj").isNotNull()).dropDuplicates()
    return _describe_loop(triples, frontier, max_hops, hint=False)


def _describe_loop(triples: DataFrame, frontier: DataFrame,
                   max_hops: int, hint: bool) -> DataFrame:
    seen = frontier
    out = None
    for _ in range(max_hops):
        f = F.broadcast(frontier) if hint else frontier
        hop = triples.join(f, "subj", "inner")
        out = hop if out is None else out.unionByName(hop)
        frontier = (hop.filter(F.col("obj").startswith("_:"))
                    .select(F.col("obj").alias("subj"))
                    .dropDuplicates()
                    .join(seen, "subj", "left_anti")
                    .localCheckpoint(eager=True))
        if frontier.isEmpty():
            return out.dropDuplicates()
        seen = seen.unionByName(frontier).localCheckpoint(eager=True)
    raise RuntimeError(
        f"describe: blank-node chain deeper than {max_hops} hops; "
        "raise max_hops")


def bfs_distances(edges: DataFrame, sources: list[str],
                  max_hops: int = 20) -> DataFrame:
    """Multi-source BFS over directed ``(src, dst)`` edges: for every
    reachable node, the fewest hops from ANY source — the "within k
    hops of these entities" neighborhood query KG curation runs to
    scope subgraphs around seed entities.  Output: ``(node, dist)``
    with sources at distance 0.

    Scale shape: :func:`_reach` — one job when the edge slice fits
    on the driver, else one per hop.  Raises when a node lies more
    than ``max_hops`` hops away.
    """
    if not sources:
        raise ValueError("bfs_distances needs at least one source")
    return _reach(edges, sources, plus=False, max_hops=max_hops)


def triangles(edges: DataFrame) -> DataFrame:
    """Enumerate each triangle of the undirected graph ``(src, dst)``
    exactly once; returns ``(u, v, w)`` with the endpoints in
    degree-rank order.  Self-loops drop; parallel/reversed edges count
    once (simple-graph semantics).

    Scale shape (the MapReduce triangle-counting strategy of Suri &
    Vassilvitskii, WWW'11): orient every edge from its lower
    ``(degree, id)`` endpoint to the higher, generate wedges only at
    each vertex's oriented OUT-neighbours, and close them against the
    oriented edge set.  Orientation bounds per-vertex wedge fan-out by
    O(sqrt(m)) regardless of max degree — a star hub that would
    generate deg² wedges under naive enumeration generates none,
    because all its edges point INTO it.  Three shuffles total (degree
    count, wedge join, closing join); the closing join is equi-keyed on
    both wedge endpoints.
    """
    canon = (edges
             .select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
             .filter(F.col("a") != F.col("b"))
             .dropDuplicates())
    deg = (canon.select(F.col("a").alias("node"))
           .unionByName(canon.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    ranked = (canon
              .join(deg.withColumnsRenamed({"node": "a", "deg": "da"}),
                    "a")
              .join(deg.withColumnsRenamed({"node": "b", "deg": "db"}),
                    "b"))
    rank_a = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    rank_b = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    oriented = ranked.select(
        F.when(rank_a < rank_b, F.col("a")).otherwise(F.col("b"))
        .alias("u"),
        F.when(rank_a < rank_b, F.col("b")).otherwise(F.col("a"))
        .alias("v"),
        F.when(rank_a < rank_b, rank_b).otherwise(rank_a)
        .alias("rank_v"))
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"),
                         F.col("rank_v").alias("rank_x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"),
                         F.col("rank_v").alias("rank_y"))
    wedges = e1.join(e2, "u").filter(F.col("rank_x") < F.col("rank_y"))
    closing = oriented.select(F.col("u").alias("x"),
                              F.col("v").alias("y"))
    return (wedges.join(closing, ["x", "y"], "left_semi")
            .select(F.col("u"), F.col("x").alias("v"),
                    F.col("y").alias("w")))


def triangle_count(edges: DataFrame,
                   per_vertex: bool = False) -> DataFrame:
    """Triangle counts over the undirected ``(src, dst)`` graph — the
    clustering/community signal KG curation uses to separate organic
    entity neighbourhoods from boilerplate link farms.

    Returns a 1-row ``(n_triangles)`` frame, or with ``per_vertex``
    one ``(node, n_tri)`` row per vertex that participates in at least
    one triangle.  Built on :func:`triangles`; the per-vertex rollup is
    an in-row 3-way fan-out + one map-side-partial count.
    """
    tri = triangles(edges)
    if not per_vertex:
        return tri.agg(F.count("*").alias("n_triangles"))
    return (tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
            .groupBy("node").agg(F.count("*").alias("n_tri")))


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over (src, dst) edges — the KG
    centrality signal curation pipelines use to weight entities (and
    the canonical iterative-algorithm shape alongside
    :func:`transitive_closure`).

    Returns (node, rank) for every node appearing in the edge list;
    ranks sum to 1.  Dangling nodes (no out-edges) redistribute their
    mass uniformly each round, per the standard formulation.

    Scale shape per round: one shuffle to aggregate contributions by
    destination (map-side partial sums) plus one broadcast of the
    1-row dangling-mass aggregate; the rank frame is
    ``localCheckpoint``ed so lineage stays flat across rounds (same
    discipline as :func:`transitive_closure`).  Out-degrees are
    computed once, outside the loop.
    """
    e = edges.select("src", "dst").dropDuplicates() \
        .localCheckpoint(eager=True)  # see transitive_closure: no cache leak
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .dropDuplicates().localCheckpoint(eager=True))
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = (e.groupBy(F.col("src").alias("node"))
              .agg(F.count(F.lit(1)).alias("outdeg"))
              .localCheckpoint(eager=True))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        with_deg = ranks.join(outdeg, "node", "left")
        # dangling mass: a 1-row aggregate, broadcast onto every node
        dm = with_deg.filter(F.col("outdeg").isNull()) \
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        contribs = (with_deg.filter(F.col("outdeg").isNotNull())
                    .join(e, F.col("node") == F.col("src"))
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum(F.col("rank") / F.col("outdeg"))
                         .alias("contrib")))
        prev = ranks
        ranks = (nodes.join(contribs, "node", "left")
                 .join(F.broadcast(dm))
                 .select("node",
                         (F.lit(base)
                          + F.lit(damping)
                          * (F.coalesce(F.col("contrib"), F.lit(0.0))
                             + F.col("_dm") / n)).alias("rank"))
                 .localCheckpoint(eager=True))
        if prev is not None and prev.is_cached:
            prev.unpersist()
    return ranks


def property_table(triples: DataFrame,
                   predicates: list[str]) -> DataFrame:
    """Subject × predicate pivot: the classic KG 'property table'
    materialization (one wide row per subject, one column per chosen
    predicate) that downstream feature pipelines and entity views read
    instead of self-joining the triple store per attribute.

    Column names are the predicates' local names (after ``#`` / last
    ``/``).  Multi-valued predicates keep the MINIMUM object so the
    table is deterministic under any partitioning.

    Scale shape: ONE hash aggregation on subj (map-side partial min per
    predicate — conditional aggregation, no joins, no pivot shuffle per
    column); the predicate IN-filter prunes the scan.
    """
    def local_name(p: str) -> str:
        tail = (p.rsplit("#", 1)[-1].rsplit("/", 1)[-1]
                .rsplit(":", 1)[-1])
        return tail or p

    names = [local_name(p) for p in predicates]
    if len(set(names)) != len(names):
        raise ValueError(f"predicate local names collide: {names}")
    aggs = [F.min(F.when(F.col("pred") == p, F.col("obj")))
            .alias(name) for p, name in zip(predicates, names)]
    return (triples
            .filter(F.col("pred").isin(predicates))
            .groupBy("subj")
            .agg(*aggs))


def apply_diff(snapshot: DataFrame, diff: DataFrame) -> DataFrame:
    """Replay a :func:`graph_diff` changelog onto a snapshot — the
    consumer half of the CDC loop: ``apply_diff(old, graph_diff(old,
    new))`` reproduces ``new`` exactly (set semantics).  Idempotent:
    replaying the same diff twice is a no-op, so at-least-once delivery
    of the changelog is safe.

    Scale shape: one left-anti join (removals) + a union with the
    additions; both shuffle on the same triple key, AQE broadcasts the
    diff side when a run's changelog is small — the common case for
    incremental extraction.  The anti join is NULL-SAFE on
    ``obj_lang``/``obj_datatype`` (NULL for plain literals and IRIs) —
    a plain ``=`` key would never match those rows and removals would
    silently no-op.
    """
    on = term_key(snapshot)
    removed = diff.filter(F.col("op") == "removed")
    added = diff.filter(F.col("op") == "added").select(on)
    return (term_join(snapshot.select(on), removed, "left_anti", on)
            .unionByName(added)
            .dropDuplicates())


def graph_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot delta between two graph versions: one row per triple
    that was added or removed, tagged ``op`` ('added' / 'removed') —
    the primitive an incremental KG pipeline publishes per run so
    downstream consumers replay changes instead of re-reading the full
    table (the lake-side analogue of an Iceberg changelog scan).

    Scale shape: two left-anti joins on the triple key; both sides
    shuffle-partition on the same key so AQE coalesces/splits
    symmetrically.  Output is exact — no sketches — because diffs feed
    idempotent MERGEs.  Joins are NULL-SAFE on the nullable key columns
    (``obj_lang``/``obj_datatype`` are NULL for plain literals and
    IRIs) — with a plain ``=`` key every such triple would come back as
    both added AND removed when diffing identical graphs.
    """
    on = term_key(old, new)
    added = (term_join(new.select(on), old, "left_anti", on)
             .select(F.lit("added").alias("op"), *on))
    removed = (term_join(old.select(on), new, "left_anti", on)
               .select(F.lit("removed").alias("op"), *on))
    return added.unionByName(removed)


def wl_colors(triples: DataFrame, rounds: int = 3) -> DataFrame:
    """Weisfeiler-Leman color refinement over the graph's nodes:
    ``(node, color)`` after ``rounds`` of hashing each node's previous
    color together with the sorted multiset of (direction, predicate,
    neighbor color) messages.  Ground terms start as their own color,
    blank nodes all start equal — so final bnode colors encode pure
    structure, the basis of bnode-insensitive graph comparison
    (rdflib ``compare``'s approach, and the per-document WL check the
    parity harness uses, distributed).

    Scale shape: per round, two equi-joins of the edge set against the
    (node, color) dim plus one partial-aggregated groupBy — bounded
    rounds, no cartesian, no window.  In-row message lists are bounded
    by node degree; a super-hub's list is large but single-row (cap
    upstream if a corpus has 10^8-degree hubs)."""
    edges = triples.select("subj", "pred", "obj")
    nodes = (edges.select(F.col("subj").alias("node"))
             .unionByName(edges.select(F.col("obj").alias("node")))
             .dropDuplicates())
    colors = nodes.select(
        "node",
        F.when(F.col("node").startswith("_:"), F.lit("b"))
        .otherwise(F.col("node")).alias("color"))
    for _ in range(rounds):
        c_s = colors.select(F.col("node").alias("subj"),
                            F.col("color").alias("c_s"))
        c_o = colors.select(F.col("node").alias("obj"),
                            F.col("color").alias("c_o"))
        with_c = edges.join(c_s, "subj").join(c_o, "obj")
        msgs = (with_c.select(
                    F.col("subj").alias("node"),
                    F.concat(F.lit("o|"), F.col("pred"), F.lit("|"),
                             F.col("c_o")).alias("m"))
                .unionByName(with_c.select(
                    F.col("obj").alias("node"),
                    F.concat(F.lit("i|"), F.col("pred"), F.lit("|"),
                             F.col("c_s")).alias("m"))))
        agg = (msgs.groupBy("node")
               .agg(F.concat_ws(",", F.array_sort(F.collect_list("m")))
                    .alias("ms")))
        colors = (colors.join(agg, "node", "left")
                  .select("node",
                          F.sha2(F.concat_ws(
                              "|", F.col("color"),
                              F.coalesce(F.col("ms"), F.lit(""))), 256)
                          .alias("color")))
    return colors


def wl_fingerprint(triples: DataFrame, rounds: int = 3) -> DataFrame:
    """One-row bnode-insensitive canonical fingerprint of the graph:
    blank nodes are replaced by their :func:`wl_colors` color and the
    resulting triple multiset reduces to (n_triples, fp) where ``fp``
    is the order-independent sum of a 32-bit md5-prefix hash per
    canonical triple.  Two isomorphic graphs always agree; like
    rdflib's ``isomorphic`` this is a WL approximation, so adversarial
    highly-regular bnode structures can collide — treat a match as
    near-certain, a mismatch as definite non-isomorphism.  ``fp`` is
    emitted as a decimal-digit STRING (the exact sum, no precision
    loss): the wide sum is decimal(38,0) internally, but decimal cells
    round-trip differently through downstream normalizers (r04 driver
    hash-red), so the output cell type is normalization-proof text."""
    bcol = wl_colors(triples, rounds=rounds).filter(
        F.col("node").startswith("_:"))
    canon = (triples.select("subj", "pred", "obj")
             .join(bcol.select(F.col("node").alias("subj"),
                               F.col("color").alias("c_s")),
                   "subj", "left")
             .join(bcol.select(F.col("node").alias("obj"),
                               F.col("color").alias("c_o")),
                   "obj", "left")
             .select(F.coalesce("c_s", "subj").alias("s"),
                     F.col("pred").alias("p"),
                     F.coalesce("c_o", "obj").alias("o")))
    row = F.md5(F.concat_ws("\x01", "s", "p", "o"))
    h = F.conv(F.substring(row, 1, 8), 16, 10).cast("decimal(38,0)")
    return canon.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triples"),
        F.sum(h).cast("decimal(38,0)").cast("string").alias("fp"))


def slice_offsets(slice_tot: DataFrame, tot_col: str) -> DataFrame:
    """``(slice, tot)`` -> ``(slice, off)`` where ``off`` is the sum
    of ``tot`` over all smaller slice ids — the broadcast offsets dim
    of the two-phase distributed prefix sum, computed WITHOUT a
    window: the per-slice totals (bounded by the shuffle-partition
    count) pack into one sorted array and each offset is a prefix
    aggregate over it.  A constant-partition window
    (``partitionBy(lit(0))``) constant-folds to an empty partition
    spec, so WindowExec logs the "No Partition Defined" warning on
    every run — safe on a slice dim but cry-wolf noise in a real
    cluster's logs; this shape emits none.  O(slices²) adds inside
    one row: hundreds of slices, negligible."""
    packed = slice_tot.agg(F.array_sort(F.collect_list(
        F.struct(F.col("slice").alias("slice"),
                 F.col(tot_col).alias("tot")))).alias("a"))
    return (packed
            .select(F.posexplode("a").alias("pos", "s"), F.col("a"))
            .select(F.col("s.slice").alias("slice"),
                    F.aggregate(F.slice("a", 1, F.col("pos")),
                                F.lit(0).cast("bigint"),
                                lambda acc, x: acc + x["tot"])
                    .alias("off")))


def _undirected(edges: DataFrame) -> DataFrame:
    """Symmetrized, deduplicated, self-loop-free edge frame — the
    shared undirected-graph prologue of label_propagation / k_core /
    adamic_adar, localCheckpointed because every caller reuses it
    across rounds or join arms."""
    return (edges.select("src", "dst")
            .unionByName(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates().localCheckpoint(eager=True))

def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over undirected (src, dst) edges — the cheap community
    signal curation pipelines use to group related entities when full
    modularity optimization is overkill.

    Deterministic formulation (no random visit order): every node
    starts labelled with itself; each round every node adopts the most
    frequent label among its neighbours, ties broken by the
    lexicographically smallest label; all nodes update simultaneously.
    Returns (node, label) after ``rounds`` rounds for every endpoint
    of the edge list.

    Scale shape per round: one equi-join carrying labels onto edges
    (hash-partitioned on the join key every round, so AQE reuses the
    exchange) and two partially-aggregated groupBys — (node, label)
    frequency, then per-node argmax via ``min_by`` over a
    ``(-count, label)`` struct (no ranking window; a hub's fan-in
    collapses map-side).  The label frame is ``localCheckpoint``ed
    per round (flat lineage, same discipline as :func:`pagerank`).
    """
    e = _undirected(edges)
    labels = (e.select(F.col("src").alias("node")).dropDuplicates()
              .withColumn("lab", F.col("node")))
    for _ in range(rounds):
        nb = (e.join(labels.withColumnRenamed("node", "src"), "src")
              .select(F.col("dst").alias("node"), "lab"))
        cnt = nb.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("c"))
        labels = (cnt.groupBy("node")
                  .agg(F.min_by(
                      "lab", F.struct((-F.col("c")).alias("nc"),
                                      F.col("lab").alias("lab")))
                      .alias("lab"))
                  .localCheckpoint(eager=True))
    return labels.select("node", F.col("lab").alias("label"))


def k_core(edges: DataFrame, k: int = 3, max_rounds: int = 30) -> DataFrame:
    """k-core subgraph via iterative peeling: repeatedly drop nodes of
    degree < k (over undirected, deduplicated, self-loop-free edges)
    until the degree floor holds everywhere — the standard
    dense-substructure filter for entity graphs (spam rings, hub
    cores) complementing :func:`triangle_count`.

    Returns (node, degree) for every node of the k-core, with its
    degree INSIDE the core.  Deterministic: the peel is simultaneous
    each round, so no visit order exists.  Raises if the peel has not
    converged within ``max_rounds`` (convergence-honest, same rule as
    :func:`transitive_closure` — never silently returns a
    part-peeled graph).

    Scale shape per round: one partially-aggregated degree groupBy
    plus two left-semi equi-joins filtering edges to surviving
    endpoints; the edge frame is ``localCheckpoint``ed per round
    (flat lineage).  The convergence probe is the edge count already
    materialized by the checkpoint.  Rounds are data-dependent but
    bounded by the peel depth, not the node count — degenerate chains
    peel O(diameter) and the guard raises rather than looping
    unbounded.
    """
    alive = _undirected(edges)
    n_edges = alive.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src") \
            .localCheckpoint(eager=True)
        nxt = (alive.join(keep, "src", "left_semi")
               .join(keep.withColumnRenamed("src", "dst"), "dst",
                     "left_semi")
               .localCheckpoint(eager=True))
        n_next = nxt.count()
        if n_next == n_edges:
            alive = nxt
            return (alive.groupBy(F.col("src").alias("node"))
                    .agg(F.count(F.lit(1)).alias("degree")))
        alive, n_edges = nxt, n_next
    if n_edges == 0:
        return (alive.groupBy(F.col("src").alias("node"))
                .agg(F.count(F.lit(1)).alias("degree")))
    raise RuntimeError(
        f"k_core: peel did not converge within {max_rounds} rounds - "
        "raise max_rounds (returning a part-peeled graph silently "
        "would be the correctness bug)")


def adamic_adar(edges: DataFrame, max_degree: int = 64) -> DataFrame:
    """Link-prediction candidate scoring over an undirected entity
    graph: for every NON-adjacent pair sharing at least one common
    neighbour: the common-neighbour count, the Adamic-Adar score
    ``sum over common z of 1/ln(deg(z))``, and the neighbourhood
    Jaccard coefficient ``cn / (deg_a + deg_b - cn)`` — the classic
    KG-completion signals (which missing edges does the graph itself
    suggest?).

    ``max_degree`` is a MODEL parameter, not a silent cap: wedge
    centers above it are excluded from scoring (mirrored identically
    in any oracle).  That is both the standard practice — a hub
    shared by everyone carries ~no information, and its weight
    1/ln(deg) is the smallest anyway — and the scale bound: per-row
    wedge fan-out is at most C(max_degree, 2), so no O(hub-degree²)
    blowup exists in the plan.

    The cap applies to ``jaccard`` too, and asymmetrically: ``cn``
    counts only common neighbours with degree in [2, max_degree],
    while ``deg_a``/``deg_b`` in the denominator are FULL degrees —
    so for pairs whose shared neighbours include hubs the emitted
    value is a LOWER BOUND on the true neighbourhood Jaccard
    coefficient, not the coefficient itself.  This is deliberate: the
    exact coefficient would need a second, UNCAPPED wedge join, which
    is exactly the O(hub-degree²) plan the cap exists to forbid — a
    single 10^6-degree hub would emit ~5·10^11 wedge rows.  Pair
    RECALL is also cap-bounded: a pair whose only common neighbours
    are hubs does not appear at all.  Oracles mirror the capped
    semantics exactly, so the value is deterministic and
    cross-engine stable — just read it as "capped-wedge Jaccard".

    Scale shape: one degree groupBy, one self-equi-join on the wedge
    center (fan-out capped as above), one partially-aggregated pair
    groupBy with DECIMAL sums (terms ``round(1/ln(deg), 9)`` — the
    module's cross-engine float discipline), and one left-anti join
    removing already-adjacent pairs.  No windows, no cartesian.
    """
    e = _undirected(edges)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ctr = (deg.filter((F.col("deg") >= 2)
                      & (F.col("deg") <= max_degree))
           .withColumn("term",
                       F.round(1.0 / F.log(F.col("deg")
                                           .cast("double")), 9)))
    wedge = (e.join(ctr, "src")
             .select(F.col("src").alias("z"), F.col("dst"),
                     F.col("term")))
    a = wedge.select("z", F.col("dst").alias("node_a"), "term")
    b = wedge.select("z", F.col("dst").alias("node_b"))
    pairs = (a.join(b, "z")
             .filter(F.col("node_a") < F.col("node_b"))
             .groupBy("node_a", "node_b")
             .agg(F.count(F.lit(1)).alias("cn"),
                  F.sum(F.col("term").cast("decimal(38,12)"))
                  .alias("aa_dec")))
    adjacent = e.select(F.col("src").alias("node_a"),
                        F.col("dst").alias("node_b"))
    # capped-wedge Jaccard = cn / (deg_a + deg_b - cn): cn is counted
    # over capped wedge centers only while the degrees are full, so
    # this is a lower bound on the true coefficient (see docstring)
    da = deg.select(F.col("src").alias("node_a"),
                    F.col("deg").alias("_da"))
    db = deg.select(F.col("src").alias("node_b"),
                    F.col("deg").alias("_db"))
    return (pairs.join(adjacent, ["node_a", "node_b"], "left_anti")
            .join(da, "node_a").join(db, "node_b")
            .select("node_a", "node_b", "cn",
                    F.round(F.col("aa_dec").cast("double"), 4)
                    .alias("aa"),
                    F.round(F.col("cn") /
                            (F.col("_da") + F.col("_db") - F.col("cn")),
                            4).alias("jaccard")))


def negative_samples(triples: DataFrame, k: int = 2,
                     rank_partitions: int | None = None) -> DataFrame:
    """FILTERED negative sampling for KG-embedding training (the
    corrupted-triple generator of TransE-family pipelines, Bordes et
    al. 2013): for every (subj, pred, obj) triple, ``k`` candidate
    corruptions replace the tail with an entity drawn uniformly from
    the graph's entity pool; candidates that collide with ANY real
    triple are dropped (the standard 'filtered' setting — that also
    removes self-collisions).  Output: (subj, pred, neg_obj, j).

    Deterministic: the draw index is md5(s|p|o|j) mod pool-size, so
    the training set is reproducible run-to-run and across engines.
    The entity pool gets dense ranks 0..N-1 WITHOUT a global ranking
    window via the two-phase pattern of ``plans/maintenance.py``:
    range-repartition by entity, rank inside each slice, add
    broadcast slice offsets.  The draw then binds via one equi-join
    on the rank, and the filter is one left-anti join against the
    real triples.  Only the pool size N is collected.
    """
    from pyspark.sql import Window

    base = (triples.select("subj", "pred", "obj")
            .dropDuplicates().localCheckpoint(eager=True))
    ents = (base.select(F.col("subj").alias("e"))
            .unionByName(base.select(F.col("obj").alias("e")))
            .dropDuplicates())
    if rank_partitions is None:
        rank_partitions = int(triples.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
    # materialize the slice assignment BEFORE deriving anything from
    # it: repartitionByRange samples its bounds and spark_partition_id
    # is execution-dependent, so two independent evaluations of this
    # subtree could disagree.  The eager checkpoint pins ONE partition
    # assignment that both the offsets branch and the ranked join read
    # (correctness must not hinge on Catalyst exchange reuse).
    sliced = (ents.repartitionByRange(rank_partitions, "e")
              .withColumn("slice", F.spark_partition_id())
              .localCheckpoint(eager=True))
    slice_tot = sliced.groupBy("slice").agg(F.count(F.lit(1)).alias("n"))
    offsets = slice_offsets(slice_tot, "n")
    w_local = Window.partitionBy("slice").orderBy("e")
    ranked = (sliced.join(F.broadcast(offsets), "slice")
              .select("e", (F.col("off") + F.row_number().over(w_local)
                            - 1).cast("bigint").alias("rank"))
              .localCheckpoint(eager=True))
    n_pool = ranked.count()
    if n_pool == 0:
        return base.limit(0).select(
            "subj", "pred", F.col("obj").alias("neg_obj"),
            F.lit(0).alias("j"))
    draw = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.col("subj"), F.col("pred"), F.col("obj"),
        F.col("j").cast("string"))), 1, 15), 16, 10) \
        .cast("bigint") % n_pool
    cand = (base
            .select("subj", "pred", "obj",
                    F.explode(F.array(*[F.lit(j) for j in range(k)]))
                    .alias("j"))
            .select("subj", "pred", "obj", "j", draw.alias("rank"))
            .join(ranked, "rank")
            .select("subj", "pred", F.col("e").alias("neg_obj"), "j"))
    real = base.select("subj", "pred", F.col("obj").alias("neg_obj"))
    return cand.join(real, ["subj", "pred", "neg_obj"], "left_anti")


def hits(edges: DataFrame, iterations: int = 8) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over directed
    (src, dst) edges — the bipartite-role twin of :func:`pagerank`
    for citation/link-shaped entity graphs (a good hub POINTS AT
    good authorities; a good authority IS POINTED AT by good hubs).

    Fixed-iteration power method with L1 normalization each round
    (L1 keeps the normalizer a plain SUM — a single broadcast 1-row
    aggregate, no sqrt of a sum whose float error would need
    taming).  Returns (node, hub, auth) rounded at 9 dp.

    Scale shape per round: two partially-aggregated groupBys (auth
    from in-edge hub mass, hub from out-edge auth mass), each one
    shuffle keyed on an edge endpoint, plus two broadcast 1-row
    normalizers; scores ``localCheckpoint``ed per round — identical
    discipline to :func:`pagerank`.
    """
    e = edges.select("src", "dst").dropDuplicates() \
        .localCheckpoint(eager=True)
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .dropDuplicates().localCheckpoint(eager=True))
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("hub", F.lit(0.0)) \
                    .withColumn("auth", F.lit(0.0))
    scores = nodes.select("node", F.lit(1.0 / n).alias("hub"),
                          F.lit(1.0 / n).alias("auth"))
    for _ in range(iterations):
        # auth(v) = sum of hub(u) over edges u -> v, then L1-normalize
        a_raw = (e.join(scores.select(F.col("node").alias("src"),
                                      "hub"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("hub").alias("a_raw")))
        a_tot = a_raw.agg(F.sum("a_raw").alias("_t"))
        auth = (nodes.join(a_raw, "node", "left")
                .join(F.broadcast(a_tot))
                .select("node",
                        (F.coalesce(F.col("a_raw"), F.lit(0.0))
                         / F.col("_t")).alias("auth")))
        # hub(u) = sum of NEW auth(v) over edges u -> v, normalized
        h_raw = (e.join(auth.select(F.col("node").alias("dst"),
                                    "auth"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("auth").alias("h_raw")))
        h_tot = h_raw.agg(F.sum("h_raw").alias("_t"))
        hub = (nodes.join(h_raw, "node", "left")
               .join(F.broadcast(h_tot))
               .select("node",
                       (F.coalesce(F.col("h_raw"), F.lit(0.0))
                        / F.col("_t")).alias("hub")))
        scores = (hub.join(auth, "node")
                  .select("node", "hub", "auth")
                  .localCheckpoint(eager=True))
    return scores.select("node", F.round("hub", 9).alias("hub"),
                         F.round("auth", 9).alias("auth"))
