"""Physical-plan quality guards.

At 100 TB the plan *shape* is the product: these tests pin the
properties the scale design depends on — column pruning reaching the
parquet scan, small dimensions broadcast instead of shuffled, exactly
one Python boundary in the extraction pipeline, and partial (map-side)
aggregation in front of every wide groupBy — so an innocent refactor
that regresses one of them fails CI instead of the cluster bill.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

# The guards assert plan PROPERTIES (pushdown, broadcast, single
# Python boundary, partial agg, no cartesian), which must hold at
# every scale — override the input to re-run them against a stepped-
# up corpus (scripts/gen_sf.py): PLAN_GUARD_SF_DIR=BENCH/sf1 pytest
# tests/test_plans.py
SF = os.environ.get("PLAN_GUARD_SF_DIR", "/root/testdata/sf0.001")


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_extraction_plan_single_python_boundary_and_pruning(spark):
    from pyrdfa3_spark.plans.extract import extract_triples
    from pyrdfa3_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, SF)
    df = extract_triples(t)
    simple = _plan(df, mode="simple")
    assert simple.count("MapInArrow") == 1     # exactly one Python boundary
    assert "MapInPandas" not in simple
    plan = _plan(df)
    # the prefilter must sit scan-side, not after the UDF, and test for
    # "<" ahead of the RLIKE so prose never reaches the regex
    nodes = re.split(r"\n\((?=\d+\) )", plan)
    arrow = next(i for i, n in enumerate(nodes)
                 if re.match(r"\d+\) MapInArrow\b", n))
    cond = next(ln for n in nodes[:arrow] if re.match(r"\d+\) Filter\b", n)
                for ln in n.splitlines() if ln.startswith("Condition"))
    assert 0 <= cond.find("Contains(") < cond.find("RLIKE("), cond
    # column pruning: the documents scan must not read unused columns
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and all("lang" not in ln and "kind" not in ln
                        for ln in scan), scan


def test_topk_plan_broadcasts_dimensions(spark):
    from pyrdfa3_spark.plans.queries import q_nation_revenue_topk

    plan = _plan(q_nation_revenue_topk(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2   # customer + nation
    assert "SortMergeJoin" not in plan


def test_pricing_plan_prunes_and_partially_aggregates(spark):
    from pyrdfa3_spark.plans.queries import q_pricing_summary

    plan = _plan(q_pricing_summary(spark, SF))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # 16-column lineitem: only the 5 used columns may be read
    assert scan and "l_comment" not in scan[0] and "l_shipdate" not in scan[0]
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_anti_join_stays_broadcast(spark):
    from pyrdfa3_spark.plans.queries import q_customers_without_orders

    plan = _plan(q_customers_without_orders(spark, SF))
    assert "LeftAnti" in plan


def test_entity_link_plan_no_global_window(spark):
    """The lexicon top-n must be TakeOrderedAndProject (parallel
    per-partition top-n), never a partition-less window ranking the
    whole token vocabulary through a single task (the 100 TB killer
    VERDICT r1 flagged)."""
    from pyrdfa3_spark.plans.queries import q_entity_link

    df = q_entity_link(spark, SF)
    simple = _plan(df, mode="simple")
    assert "Window" not in simple, simple
    assert "TakeOrderedAndProject" in simple, simple


def test_entity_disambiguate_plan_shape(spark):
    """Disambiguation winner-per-mention must be ONE min_by hash
    aggregation (map-side combinable), never a ranking window over the
    candidate fan-out; alias + prior dims stay broadcast so the corpus
    side never shuffles for the joins."""
    from pyrdfa3_spark.plans.queries import q_entity_disambiguate

    df = q_entity_disambiguate(spark, SF)
    simple = _plan(df, mode="simple")
    # lexicon top-n contributes TakeOrderedAndProject; no window at all
    assert "Window" not in simple, simple
    assert "BroadcastHashJoin" in simple, simple
    assert "CartesianProduct" not in simple, simple


def test_minhash_plan_no_cartesian_no_double_scan(spark):
    from pyrdfa3_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = _plan(minhash_lsh_candidates(docs))
    assert "CartesianProduct" not in plan
    # bucket-local pair generation: the corpus parquet is scanned once
    assert plan.count("documents.parquet") <= 1 or \
        plan.count("Scan parquet") <= 1, plan


def test_curation_mix_plans_scale_shape(spark):
    """pack_sequences / quota_mix windows must be PARTITIONED (shard /
    stratum) — a partition-less window would serialize the whole corpus
    through one task at 100 TB; decontaminate's eval side must broadcast
    and its per-doc count keep map-side partial aggregation;
    stratified_sample must stay a pure scan (no shuffle at all)."""
    from pyrdfa3_spark.operators.curation import (
        decontaminate, pack_sequences, quota_mix, stratified_sample,
    )

    docs = spark.read.parquet(SF + "/documents.parquet")

    simple = _plan(pack_sequences(docs), mode="simple")
    win_lines = [ln for ln in simple.splitlines() if "Window [" in ln]
    assert win_lines, simple
    # partitioned windows print three bracket groups
    # "Window [exprs], [partition], [ordering]"; a global window
    # prints only two ("Window [exprs], [ordering]")
    for ln in win_lines:
        assert ln.count("], [") >= 2, ln

    # quota_mix: two-phase top-k — no window at all, partial aggregation
    simple = _plan(quota_mix(docs), mode="simple")
    assert "Window" not in simple, simple
    assert "partial" in _plan(quota_mix(docs)).lower()

    plan = _plan(decontaminate(docs, docs.filter("doc_id % 7 = 0")))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan

    simple = _plan(stratified_sample(
        docs, {"short": 1.0, "medium": 0.5, "long": 0.1}), mode="simple")
    assert "Exchange" not in simple, simple


def test_span_dsir_semdedup_plans_scale_shape(spark, monkeypatch):
    """duplicate_spans: in-row window hashing — exactly one Generate
    (the cross-document explode), partial aggregation, no window, no
    join.  dsir_weights: the bucket dims broadcast onto the corpus
    side, never cartesian.  semantic_dedup: equi-joined candidate
    pairs only — no CartesianProduct/NestedLoop anywhere."""
    from pyrdfa3_spark.operators.curation import dsir_weights
    from pyrdfa3_spark.operators.dedup import duplicate_spans
    from pyrdfa3_spark.operators.similarity import (
        ivf_train_local, semantic_dedup,
    )

    docs = spark.read.parquet(SF + "/documents.parquet")

    simple = _plan(duplicate_spans(docs), mode="simple")
    assert simple.count("Generate") == 1, simple
    assert "Window" not in simple and "Join" not in simple, simple
    assert "partial" in _plan(duplicate_spans(docs)).lower()

    from pyrdfa3_spark.operators.dedup import remove_duplicate_spans

    simple = _plan(remove_duplicate_spans(docs), mode="simple")
    # the cut is a LEFT ANTI equi-join; no ranking window, no
    # cartesian, and reassembly is an ordinary hash aggregate
    assert "LeftAnti" in simple, simple
    assert "Window" not in simple, simple
    assert "CartesianProduct" not in simple, simple

    plan = _plan(dsir_weights(docs.filter("doc_id % 10 != 0"),
                              docs.filter("doc_id % 10 = 0")))
    assert "BroadcastHashJoin" in plan, plan
    # the totals crossJoin is a broadcast of one row, never a cartesian
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    cents = ivf_train_local(SF, n_cells=4, iters=1)
    simple = _plan(semantic_dedup(emb, cents), mode="simple")
    assert "CartesianProduct" not in simple, simple
    assert "Window" not in simple, simple

    from pyrdfa3_spark.operators.curation import lm_perplexity

    plan = _plan(lm_perplexity(docs))
    assert "BroadcastHashJoin" in plan, plan  # model dims broadcast
    assert "CartesianProduct" not in plan and "Window" not in plan

    from pyrdfa3_spark.operators.textops import chunk_documents

    simple = _plan(chunk_documents(docs), mode="simple")
    assert "Exchange" not in simple, simple   # chunking never shuffles
    assert simple.count("Generate") == 1, simple

    from pyrdfa3_spark.operators import graphops as G
    from pyrdfa3_spark.operators.graphops import bfs_distances

    # no edge slice and no node fits on the driver, and the sources
    # reach nodes: the plan is the frame loop's, not a LocalTableScan
    # of a driver-side answer
    monkeypatch.setattr(G, "_SLICE_ROWS", 0)
    monkeypatch.setattr(G, "_WALK_MAX_NODES", 0)
    e = docs.selectExpr("CAST(doc_id AS string) AS src",
                        "CAST(doc_id % 7 AS string) AS dst")
    simple = _plan(bfs_distances(e, ["8", "9"], max_hops=4),
                   mode="simple")
    assert "CartesianProduct" not in simple and "Window" not in simple
    assert "LocalTableScan" not in simple, simple


def test_ntriples_reader_plan_scan_side(spark, tmp_path):
    """The N-Triples parse must be pure scan-side column algebra: no
    shuffle, no Python boundary, no join — a 100 TB dump parses at
    scan speed or the reader is wrong."""
    from pyrdfa3_spark.plans.serialize import to_ntriples
    from pyrdfa3_spark.sources.ntriples import read_ntriples

    df = spark.read.parquet(SF + "/nation.parquet")
    triples = df.selectExpr(
        "concat('urn:n:', n_nationkey) AS subj",
        "'urn:p:name' AS pred", "n_name AS obj",
        "false AS obj_is_iri",
        "CAST(NULL AS string) AS obj_lang",
        "CAST(NULL AS string) AS obj_datatype")
    path = str(tmp_path / "dump.nt")
    to_ntriples(triples).write.text(path)
    simple = _plan(read_ntriples(spark, path), mode="simple")
    assert "Exchange" not in simple, simple
    assert "MapInArrow" not in simple and "MapInPandas" not in simple
    assert "Join" not in simple, simple


def test_jsonld_reader_plan_scan_side(spark, tmp_path):
    """The JSON-LD-lines parse must be pure scan-side column algebra
    (from_json + explodes): no shuffle, no Python boundary, no join."""
    from pyrdfa3_spark.plans.serialize import to_jsonld
    from pyrdfa3_spark.sources.jsonld import read_jsonld

    df = spark.read.parquet(SF + "/nation.parquet")
    triples = df.selectExpr(
        "concat('urn:n:', n_nationkey) AS subj",
        "'urn:p:name' AS pred", "n_name AS obj",
        "false AS obj_is_iri",
        "CAST(NULL AS string) AS obj_lang",
        "CAST(NULL AS string) AS obj_datatype")
    path = str(tmp_path / "dump.jsonl")
    to_jsonld(triples).write.text(path)
    simple = _plan(read_jsonld(spark, path), mode="simple")
    assert "Exchange" not in simple, simple
    assert "MapInArrow" not in simple and "MapInPandas" not in simple
    assert "Join" not in simple, simple


def test_kg_query_plans(spark, tmp_path):
    """BGP joins must be hash joins (never cartesian) and, over a
    parquet-backed triple store, the constant pattern positions must
    push down into the scan; property_table must partially aggregate
    map-side (one shuffle keyed on subj)."""
    from pyrdfa3_spark.operators.graphops import bgp_match
    from pyrdfa3_spark.plans.queries import q_bgp_match, q_property_table

    plan = _plan(q_bgp_match(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" \
        not in plan, plan

    # parquet-backed store: pred constants reach the scan as pushed
    # filters (the property a 100 TB triple table lives or dies by)
    store = str(tmp_path / "triples")
    spark.createDataFrame(
        [("a", "p:knows", "b"), ("b", "p:name", "Bob")],
        ["subj", "pred", "obj"]).write.parquet(store)
    t = spark.read.parquet(store)
    plan = _plan(bgp_match(t, [("?x", "p:knows", "?y"),
                               ("?y", "p:name", "?n")]))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("pred" in ln and "p:knows" in ln
                          for ln in pushed), plan

    plan = _plan(q_property_table(spark, SF))
    assert "partial_min" in plan or "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan


def test_new_sparql_surface_plans(spark, tmp_path):
    """Plan guards for the round-2 SPARQL additions: quad patterns with
    a constant graph must push the graph filter into a parquet scan
    (partition-prunable layout); VALUES joins must broadcast the
    binding table; kg_topk must plan as TakeOrdered (partition-local
    top-k), not a global sort; bm25 must stay JVM-side with exactly one
    1-row stats broadcast."""
    from pyrdfa3_spark.operators.graphops import (
        bgp_match_quads, bgp_values,
    )
    from pyrdfa3_spark.operators.textops import bm25_score
    from pyrdfa3_spark.plans.queries import q_bgp_values, q_kg_topk

    store = str(tmp_path / "quads")
    spark.createDataFrame(
        [("a", "p:name", "x", "urn:g:1"), ("b", "p:name", "y", "urn:g:2")],
        ["subj", "pred", "obj", "graph"]).write.parquet(store)
    q = spark.read.parquet(store)
    plan = _plan(bgp_match_quads(q, [("?s", "p:name", "?n", "urn:g:1")]))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("graph" in ln and "urn:g:1" in ln
                          for ln in pushed), plan

    plan = _plan(q_bgp_values(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the required patterns bind ?r, so the VALUES join is an equi-join
    assert "BroadcastNestedLoopJoin" not in plan, plan

    plan = _plan(q_kg_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", ""), plan

    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = _plan(bm25_score(docs, ["spark", "window"]))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan \
        and "FlatMapsInPandas" not in plan, plan
    # the only join is the 1-row corpus-stats broadcast — never a
    # shuffled join of the corpus against itself
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Broadcast" in plan, plan


def test_exists_having_plan_shape(spark):
    """bgp_exists must plan its disjoint-group fork as a broadcast of
    the 0-or-1-row existence flag (never a cartesian product or a
    corpus shuffle), and solution_agg+HAVING must keep the map-side
    partial aggregation with the filter after the merge."""
    from pyrdfa3_spark.operators.graphops import bgp_exists
    from pyrdfa3_spark.plans.queries import q_kg_having

    t = spark.createDataFrame(
        [("a", "p:name", "x"), ("b", "p:knows", "a")],
        ["subj", "pred", "obj"])
    plan = _plan(bgp_exists(t, [("?x", "p:name", "?n")],
                            exists=[("?q", "p:knows", "?z")]))
    assert "CartesianProduct" not in plan, plan
    assert "Broadcast" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    plan = _plan(q_kg_having(spark, SF))
    assert "partial_" in plan, plan          # map-side partial agg kept
    assert "CartesianProduct" not in plan, plan


def test_triangle_plan_shape(spark):
    """Triangle counting must stay equi-join relational algebra: no
    cartesian products, no global window, no Python evaluation — the
    rank comparison rides as a post-join filter on the equi-keyed
    wedge join."""
    from pyrdfa3_spark.plans.queries import q_triangle_count

    plan = _plan(q_triangle_count(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "WindowExec" not in plan and "Window [" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_shacl_plan_shape(spark):
    """The SHACL validation report must stay one-scan-per-constraint
    relational algebra: no cartesian products, no Python evaluation,
    and the dimension-sized focus/class joins broadcast."""
    from pyrdfa3_spark.plans.queries import q_shacl_report

    plan = _plan(q_shacl_report(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "Broadcast" in plan, plan


def test_pagerank_describe_plan_shape(spark):
    """pagerank's per-round joins must never go cartesian (the 1-row
    dangling-mass frame joins via broadcast nested-loop by design — a
    single-row build side, constant cost); describe's frontier join
    must broadcast the frontier, not shuffle the corpus."""
    from pyspark.sql import functions as F

    from pyrdfa3_spark.operators.graphops import describe, pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"])
    pr = pagerank(edges, iterations=1)
    plan = _plan(pr)
    assert "CartesianProduct" not in plan, plan

    g = spark.createDataFrame(
        [("e1", "p", "_:b"), ("_:b", "p", "v")], ["subj", "pred", "obj"])
    plan = _plan(describe(g, ["e1"]))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_transcript_operator_plans(spark):
    """Conversation-level operators must be one partially-aggregated
    shuffle on conv_id: no window exchange (ordering is in-row array
    sort), no join, no cartesian."""
    from pyrdfa3_spark.operators.transcripts import (
        conversation_stats, stitch_conversations, turn_latency,
    )
    from pyrdfa3_spark.sources.transcripts import synth_transcripts

    tr = synth_transcripts(spark, n_conv=20, turns_per_conv=5)
    for op in (conversation_stats, stitch_conversations, turn_latency):
        simple = _plan(op(tr), mode="simple")
        assert "Window" not in simple, (op.__name__, simple)
        assert "Join" not in simple, (op.__name__, simple)
        assert simple.count("Exchange") <= 2, (op.__name__, simple)
        assert ("partial" in simple or "ObjectHashAggregate" in simple
                or "HashAggregate" in simple), (op.__name__, simple)


def test_rdfdocs_reader_plan_single_python_boundary(spark):
    """The per-document block-format reader is exactly one Arrow
    mapInPandas over the scan: no shuffle, no join, one Python
    boundary."""
    from pyrdfa3_spark.sources.rdfdocs import parse_rdf_documents

    docs = spark.createDataFrame(
        [(1, "<urn:s> <urn:p> <urn:o> .")], ["doc_id", "text"])
    for fmt in ("turtle", "trig"):
        simple = _plan(parse_rdf_documents(docs, fmt=fmt), mode="simple")
        assert simple.count("MapInPandas") == 1, (fmt, simple)
        assert "Exchange" not in simple and "Join" not in simple, simple


def test_update_data_forms_no_shuffle(spark):
    """INSERT DATA / DELETE DATA apply the ground delta via broadcast
    joins: the CORPUS side must never reshuffle — at 100 TB a ground
    update must not repartition the lake.  DELETE DATA shows zero
    Exchange; INSERT DATA is allowed exactly ONE hashpartitioning
    exchange, the matched-key distinct whose input is the broadcast
    semi-join's output (bounded by the rows matching the tiny delta),
    not the corpus."""
    from pyrdfa3_spark.operators.sparql import update

    base = spark.createDataFrame(
        [("s%d" % i, "p", "o%d" % i) for i in range(100)],
        ["subj", "pred", "obj"])
    for text, allowed_hash in (
            ('INSERT DATA { <n1> <p> "v" . <n2> <p> "v" }', 1),
            ('DELETE DATA { <s1> <p> "o1" }', 0)):
        simple = _plan(update(base, text), mode="simple")
        assert simple.count("Exchange hashpartitioning") <= allowed_hash, \
            (text, simple)
        for shuffle in ("Exchange rangepartitioning",
                        "Exchange SinglePartition"):
            assert shuffle not in simple, (text, simple)
        assert "BroadcastHashJoin" in simple, (text, simple)
        if allowed_hash:
            # the one exchange must sit above the LeftSemi probe of the
            # broadcast delta, i.e. the corpus scan feeds a broadcast
            # join, not the exchange
            assert "LeftSemi" in simple, (text, simple)


def test_jsonld_compact_reader_plan_scan_side(spark):
    """The compacted-lines parse (variant-typed elements) must stay
    pure scan-side column algebra like the expanded reader: no
    shuffle, no Python boundary, no join."""
    from pyrdfa3_spark.sources.jsonld import parse_jsonld_compact

    lines = spark.createDataFrame(
        [('{"@id":"p:n1","p:name":["x"]}',)], ["jsonld"])
    simple = _plan(parse_jsonld_compact(lines, {"p": "urn:p:"}),
                   mode="simple")
    assert "Exchange" not in simple, simple
    assert "MapInArrow" not in simple and "MapInPandas" not in simple
    assert "Join" not in simple, simple


def test_wl_fingerprint_plan_shape(spark):
    """WL refinement must stay join+partial-agg per round: no window,
    no cartesian, and the message aggregation keeps map-side partials
    (ObjectHashAggregate for the collect_list)."""
    from pyrdfa3_spark.operators.graphops import wl_fingerprint

    t = spark.createDataFrame(
        [("_:a", "p", "_:b"), ("_:b", "p", "c")],
        ["subj", "pred", "obj"])
    simple = _plan(wl_fingerprint(t, rounds=2), mode="simple")
    assert "Window" not in simple, simple
    assert "CartesianProduct" not in simple, simple
    assert ("ObjectHashAggregate" in simple
            or "partial" in _plan(wl_fingerprint(t, rounds=2)).lower())


def test_classifier_score_plan_shape(spark):
    """Classifier inference must broadcast the model dim and keep the
    dot product map-side partial — no window, no cartesian, no
    sort-merge of the corpus against a 1024-row model."""
    from pyrdfa3_spark.operators.curation import classifier_score

    docs = spark.read.parquet(SF + "/documents.parquet")
    from pyspark.sql import functions as F
    w = spark.range(64).select(
        F.col("id").alias("b"), (F.col("id") % 3 / 10.0).alias("weight"))
    plan = _plan(classifier_score(docs, w, n_buckets=64))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    simple = _plan(classifier_score(docs, w, n_buckets=64), "simple")
    assert "Window" not in simple and "CartesianProduct" not in simple
    assert "partial" in plan.lower()


def test_conv_dedup_plan_shape(spark):
    """The stitch->fingerprint->keeper composition: one aggregation
    pass per stage with map-side partials, keeper dim broadcast, no
    window, no cartesian."""
    from pyrdfa3_spark.plans.queries import q_conv_dedup

    df = q_conv_dedup(spark, SF)
    simple = _plan(df, mode="simple")
    assert "Window" not in simple and "CartesianProduct" not in simple
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "partial" in plan.lower() or "ObjectHashAggregate" in plan


def test_compat_join_plan_no_cartesian(spark):
    """The §18.5 compatibility machinery decomposes into equi-join
    branches: a compat-heavy query (union-bound nullable variable
    conjoined, then MINUS'd) must plan ZERO CartesianProducts — the
    only non-equi branches are the all-unbound buckets, which appear
    as bounded BroadcastNestedLoopJoins, never a shuffled cartesian."""
    from pyrdfa3_spark.operators.sparql import sparql

    t = spark.createDataFrame(
        [("s%d" % i, "p:knows" if i % 2 else "p:name",
          "v%d" % i) for i in range(64)],
        ["subj", "pred", "obj"])
    out = sparql(t, """SELECT ?s WHERE {
        ?s p:name ?x .
        { ?s p:knows ?y . OPTIONAL { ?y p:name ?x } }
        UNION { ?s p:type ?t }
        MINUS { ?s p:knows ?x } }""")
    simple = _plan(out, mode="simple")
    assert "CartesianProduct" not in simple, simple
    # every branch either hash-joins or is the bounded nested loop
    assert ("BroadcastHashJoin" in simple
            or "SortMergeJoin" in simple), simple


def test_trailing_values_joins_certain_variables_by_hash(spark):
    """A trailing VALUES on variables the WHERE group certainly binds
    (for an aggregated query: its certain GROUP BY keys) joins them as
    broadcast hash-join keys, never a nested loop on ``IS NULL OR =``,
    with the same answers as the compatibility form."""
    from pyrdfa3_spark.operators.sparql import sparql

    kg = spark.createDataFrame(
        [("a", "p:name", "Ada"), ("b", "p:name", "Bob"),
         ("b", "p:name", "Bobby"), ("a", "p:knows", "b")],
        ["subj", "pred", "obj"])
    values = 'VALUES (?s ?k) { ("a" "1") ("b" "2") ("z" "3") }'
    cases = [
        ("SELECT ?s ?n ?k WHERE { ?s <p:name> ?n } " + values,
         [("a", "Ada", "1"), ("b", "Bob", "2"), ("b", "Bobby", "2")]),
        ("SELECT ?s (COUNT(?n) AS ?c) WHERE { ?s <p:name> ?n } "
         "GROUP BY ?s " + values, [("a", 1), ("b", 2)]),
        ("CONSTRUCT { ?s <p:k> ?k } WHERE { ?s <p:name> ?n } " + values,
         [("a", "p:k", "1"), ("b", "p:k", "2")]),
    ]
    for text, want in cases:
        out = sparql(kg, text)
        plan = _plan(out)
        assert "BroadcastHashJoin" in plan, (text, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (text, plan)
        assert sorted(tuple(r) for r in out.collect()) == want, text


def test_results_serializer_plans_scan_side(spark):
    """Every SPARQL results serializer must be a single narrow
    projection over the solutions frame: no shuffle, no Python
    boundary, no join — result export at 100 TB runs at scan speed
    (the 1-row header union adds a scan, never an Exchange)."""
    from pyrdfa3_spark.operators.graphops import bgp_match
    from pyrdfa3_spark.plans.results import (
        to_results_csv, to_results_json_bindings, to_results_tsv,
        to_results_xml_bindings,
    )

    df = spark.read.parquet(SF + "/nation.parquet")
    triples = df.selectExpr(
        "concat('urn:n:', n_nationkey) AS subj",
        "'urn:p:name' AS pred", "n_name AS obj",
        "false AS obj_is_iri", "'en' AS obj_lang",
        "CAST(NULL AS string) AS obj_datatype")
    sols = bgp_match(triples, [("?s", "?p", "?o")], shape_vars={"o"})
    for ser in (to_results_csv, to_results_tsv,
                to_results_json_bindings, to_results_xml_bindings):
        simple = _plan(ser(sols, columns=["s", "p", "o"]),
                       mode="simple")
        assert "Exchange" not in simple, (ser.__name__, simple)
        assert "MapInArrow" not in simple and \
            "MapInPandas" not in simple, (ser.__name__, simple)
        assert "Join" not in simple, (ser.__name__, simple)


def test_stream_signature_plan_in_row(spark):
    """The streaming MinHash signature/banding stage is stateless
    in-row algebra — run in batch mode it must show zero Exchange and
    zero Python boundary (the same no-explode-no-shuffle shape the
    batch signatures were rebuilt around in round 2)."""
    import datetime as dt

    from pyrdfa3_spark.streaming.near_dup import stream_band_members

    docs = spark.createDataFrame(
        [("1", "some text", dt.datetime(2026, 1, 1))],
        "doc_id string, text string, ts timestamp")
    simple = _plan(stream_band_members(docs), mode="simple")
    assert "Exchange" not in simple, simple
    assert "MapInArrow" not in simple and "MapInPandas" not in simple


def test_round3_sparql_surface_plans(spark, tmp_path):
    """Plan guards for the round-3 additions: the strict Dataset
    posture must push the graph IS NULL scope into the parquet scan
    (partition-prunable), never add a join for the scoping; the §17.5
    casts must stay pure column algebra (no Python boundary, no
    join, no shuffle beyond the explicit ORDER BY)."""
    from pyrdfa3_spark.graph import SparkDataset
    from pyrdfa3_spark.plans.queries import q_sparql_xsd_cast

    store = str(tmp_path / "quads")
    spark.createDataFrame(
        [("a", "p:name", "x", None), ("b", "p:name", "y", "urn:g:2")],
        "subj string, pred string, obj string, graph string"
    ).write.parquet(store)
    ds = SparkDataset(spark.read.parquet(store))
    plan = _plan(ds.query("SELECT ?s WHERE { ?s <p:name> ?n }"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("IsNull(graph)" in ln for ln in pushed), plan
    assert "Join" not in plan, plan

    plan = _plan(q_sparql_xsd_cast(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan \
        and "FlatMapsInPandas" not in plan, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_pii_and_repetition_plans_are_single_scan(spark):
    """The PII scrub and repetition filters must stay zero-shuffle
    scan-side column algebra: no Exchange, no Python boundary, whole
    plan in one codegen stage over the documents scan."""
    from pyrdfa3_spark.operators.textops import (
        pii_redact, pii_scan, repetition_stats,
    )

    docs = spark.read.parquet(SF + "/documents.parquet")
    for fn in (pii_scan, pii_redact, repetition_stats):
        simple = _plan(fn(docs), mode="simple")
        assert "Exchange" not in simple, (fn.__name__, simple)
        assert "Python" not in simple and "InPandas" not in simple \
            and "MapInArrow" not in simple, (fn.__name__, simple)


def test_correctness_window_puts_never_green_entries_first():
    import __spark_entry__ as entrymod
    from pyrdfa3_spark.plans.queries import QUERIES

    assert set(entrymod.queries()) == set(QUERIES)
    names = list(QUERIES)
    green = {"rows_match": True, "hash_match": True}
    # names[1] is missing from every round; names[2] was only ever red
    rounds = [{n: green for n in names if n not in names[1:3]},
              {names[2]: {"rows_match": True, "hash_match": False}},
              {names[2]: {"rows_match": None, "hash_match": None}}]
    order = entrymod._window_order(names, rounds)
    assert order[:2] == [names[1], names[2]]
    assert order[2:] == [n for n in names if n not in names[1:3]]


def test_inline_frames_plan_local_scans(spark):
    """Frames built from driver literals — DATA deltas, VALUES and
    initBindings tables, DESCRIBE node lists, facade rows, a walked
    path's edges — plan as a LocalTableScan, never as an ExistingRDD
    scan, whose every task starts a Python worker.  The base graph is
    a Range projection, so any local scan comes from the code under
    test.  (A localCheckpoint frame also scans as ExistingRDD, JVM
    side; DESCRIBE's resource has no blank-node objects, so its
    frontier walk stops before checkpointing one.)"""
    from pyrdfa3_spark.graph import SparkGraph
    from pyrdfa3_spark.operators.sparql import sparql, update

    base = spark.range(20).selectExpr(
        "concat('s', id) AS subj", "'p:k' AS pred",
        "concat('s', id + 1) AS obj")
    cases = {
        "INSERT DATA": update(base, 'INSERT DATA { <n1> <p> "v" }'),
        "DELETE DATA": update(base, "DELETE DATA { <s1> <p:k> <s2> }"),
        "VALUES-only group": sparql(
            base, "SELECT ?x WHERE { VALUES ?x { <a> <b> } }"),
        "trailing VALUES": sparql(
            base, "SELECT ?s ?o WHERE { ?s <p:k> ?o } "
                  "VALUES ?s { <s1> <s2> }"),
        "initBindings": sparql(base, "SELECT ?o WHERE { ?s <p:k> ?o }",
                               init_bindings={"s": "s3"}),
        "DESCRIBE <iri>": sparql(base, "DESCRIBE <s4>"),
        "SparkGraph.add": SparkGraph(base).add(("x", "p:k", "y")).df,
        "bound + path": sparql(base, "SELECT ?b WHERE { <s15> <p:k>+ ?b }"),
    }
    for what, df in cases.items():
        df.collect()
        plan = _plan(df)
        assert "LocalTableScan" in plan, (what, plan)
        assert "ExistingRDD" not in plan, (what, plan)


def _build_sides(df) -> list:
    """The build-side subtrees (JVM ``SparkPlan``s) of every LeftSemi
    and LeftAnti join in ``df``'s executed plan, query stages
    included; ``df`` must have run, so AQE's plan is final."""
    def kids(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return [p.executedPlan()]
        if name.endswith("QueryStageExec"):
            return [p.plan()]
        seq = p.children()
        return [seq.apply(i) for i in range(seq.size())]

    def walk(p):
        yield p
        for k in kids(p):
            yield from walk(k)

    out = []
    for p in walk(df._jdf.queryExecution().executedPlan()):
        if ("Join" in p.nodeName()
                and p.joinType().toString() in ("LeftSemi", "LeftAnti")):
            right = p.buildSide().toString() == "BuildRight"
            out.append(list(walk(p.right() if right else p.left())))
    return out


def test_semi_anti_build_sides_not_shuffled(spark):
    """The EXISTS, NOT EXISTS, MINUS and DELETE WHERE shapes hand their
    build side to the semi or anti join as it is: no shuffle exchange
    (a dedup's) sits under the build side of any LeftSemi/LeftAnti
    join, whose answer does not depend on duplicates there."""
    from pyrdfa3_spark.operators.sparql import sparql, update

    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    base = spark.range(60).selectExpr(
        "concat('x', id DIV 2) AS subj",
        f"CASE WHEN id % 2 = 0 THEN 's:name' ELSE '{rdf_type}' END"
        " AS pred",
        "CASE WHEN id % 2 = 0 THEN concat('n', id)"
        " ELSE concat('T', id % 3) END AS obj")
    cases = {
        "exists": sparql(base, "SELECT ?x ?n WHERE { ?x s:name ?n "
                               "FILTER EXISTS { ?x a <T1> } }"),
        "not_exists": sparql(base, "SELECT ?x ?n WHERE { ?x s:name ?n "
                                   "FILTER NOT EXISTS { ?x a ?t } }"),
        "minus": sparql(base, "SELECT ?x ?n WHERE { ?x s:name ?n "
                              "MINUS { ?x a <T1> } }"),
        "delete_where": update(base, "DELETE WHERE { <x4> ?p ?o }"),
    }
    for what, df in cases.items():
        df.collect()
        sides = _build_sides(df)
        assert sides, (what, _plan(df, mode="simple"))
        for side in sides:
            names = [p.getClass().getSimpleName() for p in side]
            assert not [n for n in names if "Shuffle" in n], (what, names)
