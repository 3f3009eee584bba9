"""The measured process of one benchmark run.

``run.py`` starts this script in a fresh process on inputs that
``gen.py`` already wrote.  It drives the pipeline only through its
public entry points (``session.build_session``; ``extract_tagged`` ->
``split_outputs`` -> ``write_triples``, as ``scripts/submit_extract.py``
composes them with ``--diagnostics``; ``operators.sparql.sparql`` /
``update``) and writes one JSON result file:

1. set-up: session build plus one untimed pass over the lake (Python
   worker start, codegen and the steepest part of the JIT warm-up land
   here);
2. timed extraction passes: scan -> extract -> sink -> read-back,
   repeated over the whole lake for ``PASS_SHARE`` of the run;
3. the last pass's sink is loaded and cached as the KG; one op of each
   shape runs untimed (the first run of a shape costs 2-3x a warm one);
4. timed ops: one client, closed loop, whole op cycles for the rest of
   the run;
5. outside every timed window: the output gate and, in traced mode,
   the layer probes.

Every timed window (a pass, an op cycle) records the host's CPU steal.
A window in which other guests took more than ``STEAL_MAX`` of the
host's CPU does not count while enough clean ones exist; the run
measures up to ``STEAL_EXTRA_PASSES`` more passes and
``STEAL_EXTRA_CYCLES`` more op cycles to replace stolen ones.

In traced mode passes and op cycles run untraced, traced, traced,
untraced (ABBA), so a warm-up trend cancels out of the tracing
overhead.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import sys
import time
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq

from ops import (
    CYCLE_LEN, KG_COLS, KINDS, kg_table_sql, multiset_digest, oracle,
    plan_ops, run_op, table_digest,
)
from proctree import host_ticks, snapshot, steal_share
from spans import Tracer
from sparkstats import job_group_metrics

SLOTS = 2             # Spark slots; below nproc so passes stay steady
PASS_SHARE = 0.4      # share of --seconds spent on extraction passes
MIN_PASSES = 3
MAX_PASSES = 10
SINK_BUCKETS = 16     # submit_extract.py's default
MAX_OP_CYCLES = 6
TRACE_WINDOWS = 4     # passes and op cycles of a traced run: U T T U
STEAL_MAX = 0.06      # host CPU share stolen by other guests
STEAL_EXTRA_PASSES = 2
STEAL_EXTRA_CYCLES = 1
REPLAY_PASSES = 2     # in-process layer replays (traced mode)
TRIPLE_COLS = ("conv_id", "turn_idx") + KG_COLS


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[measure {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


# -- extraction ---------------------------------------------------------------

def tree_cpu() -> dict:
    return snapshot(os.getpid())["cpu"]


def cpu_since(before: dict) -> tuple[float, float]:
    """(process-tree CPU seconds, of which JIT compiler threads) since
    the ``tree_cpu()`` reading ``before``."""
    now = tree_cpu()
    total = sum(now[k] - before[k] for k in ("main", "jvm", "py"))
    return total, now["jit"] - before["jit"]


def traced_window(i: int) -> bool:
    """Windows 1 and 2 of every 4 are traced in a traced run (ABBA)."""
    return i % 4 in (1, 2)


def steal_done(windows: list[dict], need: int, extra: int) -> bool:
    """Whether ``need`` clean windows were measured, or ``extra`` more
    than ``need`` windows in all."""
    clean = sum(w["steal"] <= STEAL_MAX for w in windows)
    return clean >= need or len(windows) >= need + extra


def least_stolen(windows: list[dict], k: int) -> list[dict]:
    """The windows with at most ``STEAL_MAX`` steal, or, when fewer than
    ``k`` are that clean, the ``k`` least stolen."""
    clean = [w for w in windows if w["steal"] <= STEAL_MAX]
    if len(clean) >= k:
        return clean
    return sorted(windows, key=lambda w: w["steal"])[:k]


def run_pass(spark, lake: str, out: str, tracer: Tracer) -> dict:
    """One scan -> extract -> sink -> read-back pass over ``lake``."""
    from pyspark.sql import functions as F

    from pyrdfa3_spark.plans.extract import (
        extract_tagged, split_outputs, write_triples,
    )

    ticks0 = host_ticks()
    cpu0 = tree_cpu()
    t0 = time.perf_counter()
    with tracer.span("pass"):
        with tracer.span("extract.plan"):
            tagged = extract_tagged(spark.read.parquet(lake)).persist()
            triples, diags = split_outputs(tagged)
        with tracer.span("sink.write"):
            write_triples(triples, f"{out}/triples", buckets=SINK_BUCKETS)
        with tracer.span("diags.write"):
            diags.write.mode("overwrite").parquet(f"{out}/diags")
        with tracer.span("read_back"):
            n_triples = spark.read.parquet(f"{out}/triples").count()
            rows = (spark.read.parquet(f"{out}/diags")
                    .groupBy("severity", "code")
                    .agg(F.count("*").alias("n"),
                         F.countDistinct("conv_id", "turn_idx").alias("docs"))
                    .collect())
        tagged.unpersist()
    wall = time.perf_counter() - t0
    cpu_s, jit_s = cpu_since(cpu0)
    cpu1 = tree_cpu()
    steal = steal_share(ticks0, host_ticks())
    files = [os.path.join(d, f) for d, _, fs in os.walk(f"{out}/triples")
             for f in fs if f.endswith(".parquet")]
    return {
        "wall_s": wall,
        "steal": steal,
        "cpu_s": cpu_s,
        "cpu_jit_s": jit_s,
        "cpu_jvm_s": cpu1["jvm"] - cpu0["jvm"],
        "cpu_py_s": cpu1["py"] - cpu0["py"],
        "triples": n_triples,
        "diags": {f"{r.severity}/{r.code}": r.n for r in rows},
        "error_docs": sum(r.docs for r in rows if r.severity == "error"),
        "sink_files": len(files),
        "sink_bytes": sum(os.path.getsize(f) for f in files),
        "sink": f"{out}/triples",
    }


def prefiltered(spark, lake: str):
    """Scan + prefilter: the rows the pipeline hands to the UDF."""
    from pyspark.sql import functions as F

    from pyrdfa3_spark.plans.extract import RDFA_PREFILTER

    return (spark.read.parquet(lake).select("conv_id", "turn_idx", "text")
            .filter(F.col("text").rlike(RDFA_PREFILTER)))


def triples_digest(cols: dict) -> list[int]:
    return multiset_digest(zip(*(cols[c] for c in TRIPLE_COLS)))


def replay(kept: pa.Table) -> dict:
    """The UDF body over the kept rows, in this process."""
    from pyrdfa3_spark.plans.extract import _extract_batches

    out = pa.Table.from_batches(
        list(_extract_batches(iter(kept.to_batches()))))
    d = out.to_pydict()
    is_t = [k == "t" for k in d["kind"]]
    triples = {c: [v for v, t in zip(d[c], is_t) if t] for c in TRIPLE_COLS}
    diags = collections.Counter(
        f"{s}/{c}" for k, s, c in zip(d["kind"], d["subj"], d["pred"])
        if k == "d")
    yielded = len({(c, t) for c, t, k in zip(d["conv_id"], d["turn_idx"],
                                             d["kind"]) if k == "t"})
    return {"digest": triples_digest(triples), "diags": dict(diags),
            "triples": len(triples["subj"]), "yielded_docs": yielded}


def _noop_arrow(batches):
    """Hands each Arrow batch across the boundary and returns one row
    with its length."""
    for b in batches:
        yield pa.RecordBatch.from_pydict({"n": [b.num_rows]},
                                         schema=pa.schema([("n", pa.int64())]))


def _count_elements(node) -> int:
    from pyrdfa3_spark.sources.dom import Node

    n, todo = 0, [node]
    while todo:
        cur = todo.pop()
        n += 1
        todo.extend(c for c in cur.children if isinstance(c, Node))
    return n


def layer_replay(kept: pa.Table) -> dict:
    """Times ``hostlang``, ``dom`` and the RDFa engine document by
    document, the way the UDF body calls them, then the whole body over
    the same rows.  Times in nanoseconds."""
    from pyrdfa3_spark.functions.hostlang import (
        Host, adjust_xhtml_and_version, host_for, is_xml_host,
        sniff_media_type,
    )
    from pyrdfa3_spark.operators.rdfa_engine import RDFaProcessor
    from pyrdfa3_spark.plans.extract import _extract_batches
    from pyrdfa3_spark.sources import dom

    pc = time.perf_counter_ns
    acc = collections.Counter()
    cols = kept.to_pydict()
    for conv, turn, text in zip(cols["conv_id"], cols["turn_idx"],
                                cols["text"]):
        start, end = text.find("<"), text.rfind(">")
        if start < 0 or end <= start:
            continue
        frag = text[start:end + 1]
        acc["docs"] += 1
        acc["bytes"] += len(frag)
        t0 = pc()
        host = host_for(sniff_media_type(frag))
        version = "1.1"
        if host == Host.XHTML:
            host, version = adjust_xhtml_and_version(frag, host, version)
        t1 = pc()
        acc["hostlang_ns"] += t1 - t0
        xml = is_xml_host(host)
        pdiags: list = []
        try:
            root = (dom.parse_xml(frag) if xml
                    else dom.parse_html(frag, diagnostics=pdiags))
        except Exception:
            acc["dom_ns"] += pc() - t1
            acc["failed"] += 1
            continue
        acc["dom_ns"] += pc() - t1
        if not xml:
            acc["html_docs"] += 1
            acc["tolerant"] += not _takes_fast_path(dom, frag)
        acc["elements"] += _count_elements(root)
        t2 = pc()
        try:
            proc = RDFaProcessor(base=f"http://transcript.local/{conv}/{turn}",
                                 host=host, rdfa_version=version)
            triples = proc.process(root)
        except Exception:
            acc["engine_ns"] += pc() - t2
            acc["failed"] += 1
            continue
        acc["engine_ns"] += pc() - t2
        acc["engine_docs"] += 1
        acc["raw_triples"] += len(triples)
        acc["diags"] += len(pdiags) + len(proc.diagnostics)
    t0 = pc()
    out = list(_extract_batches(iter(kept.to_batches())))
    acc["udf_ns"] = pc() - t0
    acc["emitted"] = sum(b.column("kind").to_pylist().count("t") for b in out)
    return dict(acc)


def _takes_fast_path(dom, frag: str) -> bool:
    """Whether ``parse_html`` builds this document with its expat fast
    path.  This mirrors the gate at the top of ``dom.parse_html``
    (``_TAG_CTRL_WS``, then a ``_parse_html_fast`` attempt); a change to
    that gate must be made here too.  It parses the document a second
    time, outside the timed ``dom`` window."""
    if dom._TAG_CTRL_WS.search(frag):
        return False
    try:
        dom._parse_html_fast(frag)
    except Exception:
        return False
    return True


# -- the run ------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t-spawn", type=float, required=True,
                    help="time.monotonic() just before this process started")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    with open(os.path.join(args.data, "manifest.json")) as fh:
        manifest = json.load(fh)
    lake = os.path.join(args.data, "lake")
    trace = bool(args.trace)
    tracer = Tracer()

    from pyrdfa3_spark.session import build_session

    t = time.perf_counter()
    spark = build_session(master=f"local[{SLOTS}]", app_name="perfbench")
    build_s = time.perf_counter() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    t = time.perf_counter()
    first = run_pass(spark, lake, f"{args.out}/first", tracer)
    first_job_s = time.perf_counter() - t
    setup_s = time.monotonic() - args.t_spawn
    log(f"setup {setup_s:.2f}s (build {build_s:.2f}s, first job "
        f"{first_job_s:.2f}s, {first['triples']} triples)")

    # timed extraction passes
    passes = []
    pass_window = PASS_SHARE * args.seconds
    t_start = time.perf_counter()
    while len(passes) < MAX_PASSES:
        elapsed = time.perf_counter() - t_start
        if trace:
            if len(passes) >= TRACE_WINDOWS:
                break
        elif (elapsed >= pass_window
              and steal_done(passes, MIN_PASSES, STEAL_EXTRA_PASSES)):
            break
        i = len(passes)
        tracer.enabled = trace and traced_window(i)
        tracer.pass_id = f"pass-{i}"
        if trace:
            sc.setJobGroup(tracer.pass_id, "extraction pass")
        p = run_pass(spark, lake, f"{args.out}/pass-{i}", tracer)
        p["traced"] = tracer.enabled
        passes.append(p)
        if i > 0:
            shutil.rmtree(f"{args.out}/pass-{i - 1}")
        log(f"pass {i}: {p['wall_s']:.2f}s wall {p['cpu_s']:.2f} CPU-s "
            f"(JIT {p['cpu_jit_s']:.2f}) "
            f"{p['triples']} triples, steal {100 * p['steal']:.1f}%")
    pass_secs = time.perf_counter() - t_start
    tracer.enabled = False
    if trace:
        sc.setJobGroup("between", "not measured per job group")
    last = passes[-1]

    # KG load (its CPU counts in op_cpu_ms), op plan, warm-up
    import duckdb

    cpu0 = tree_cpu()
    t = time.perf_counter()
    # the consumer caches the graph as a set, one partition per slot
    kg = (spark.read.parquet(last["sink"]).select(*KG_COLS)
          .dropDuplicates().coalesce(SLOTS).cache())
    base_count = kg.count()
    kg_load_s = time.perf_counter() - t
    kg_load_cpu_s, kg_load_jit_s = cpu_since(cpu0)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute(kg_table_sql(last["sink"]))
    ops = plan_ops(con, args.seed, MAX_OP_CYCLES)
    log(f"KG loaded {base_count} triples in {kg_load_s:.2f}s, "
        f"{kg_load_cpu_s:.1f} CPU-s (JIT {kg_load_jit_s:.1f})")
    warmup = {op.name: op for op in plan_ops(con, args.seed + 1, 1)}
    for op in warmup.values():
        run_op(kg, op, tracer)
    log("ops warmed up")

    # timed ops, in whole cycles of the same mix
    cycles = []
    t_ops = time.perf_counter()
    t_end = t_ops + max(0.0, args.seconds - pass_secs)
    while len(cycles) < MAX_OP_CYCLES:
        now = time.perf_counter()
        if trace:
            if len(cycles) >= TRACE_WINDOWS:
                break
        elif now >= t_end and steal_done(cycles, 1, STEAL_EXTRA_CYCLES):
            break
        c = len(cycles)
        tracer.enabled = trace and traced_window(c)
        ticks0, cpu0 = host_ticks(), tree_cpu()
        samples = []
        for i in range(c * CYCLE_LEN, (c + 1) * CYCLE_LEN):
            op = ops[i]
            tracer.pass_id = f"op-{i}"
            if trace:
                sc.setJobGroup(f"op-{op.kind}-{int(tracer.enabled)}", op.name)
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    answer = run_op(kg, op, tracer)
            except Exception as exc:  # a failed op is a measured outcome
                answer = ["raised", type(exc).__name__, str(exc)[:300]]
            samples.append({"op": i, "latency_s": time.perf_counter() - t0,
                            "answer": answer})
        cpu_s, jit_s = cpu_since(cpu0)
        cycles.append({
            "traced": tracer.enabled, "samples": samples,
            "steal": steal_share(ticks0, host_ticks()),
            "cpu_s": cpu_s, "cpu_jit_s": jit_s})
        log(f"op cycle {c}: {time.perf_counter() - now:.1f}s, "
            f"{cpu_s:.1f} CPU-s (JIT {jit_s:.1f}), "
            f"steal {100 * cycles[-1]['steal']:.1f}%")
    tracer.enabled = False
    if trace:
        sc.setJobGroup("between", "not measured per job group")
    samples = [s for c in cycles for s in c["samples"]]

    # output gate, outside the timed windows
    filtered = prefiltered(spark, lake)
    kept = filtered.toArrow()
    log("kept documents collected")
    rep = replay(kept)
    log("replayed")
    sink_digest = triples_digest(
        pq.read_table(last["sink"], columns=list(TRIPLE_COLS)).to_pydict())
    problems, failed = [], 0
    if kept.num_rows != manifest["expected_kept"]:
        problems.append(f"prefilter kept {kept.num_rows} documents, the "
                        f"generator made {manifest['expected_kept']}")
    for p in passes:
        if p["triples"] != rep["triples"] or p["diags"] != rep["diags"]:
            failed += 1
            problems.append(f"pass wrote {p['triples']} triples "
                            f"{p['diags']}; replay gives {rep['triples']} "
                            f"{rep['diags']}")
    if sink_digest != rep["digest"]:
        failed += 1
        problems.append(f"sink digest {sink_digest} != replay "
                        f"{rep['digest']}")
    base = table_digest(con)
    for s in samples:
        want = oracle(con, ops[s["op"]], base)
        if s["answer"] != want:
            failed += 1
            problems.append(f"op {ops[s['op']].text!r} answered "
                            f"{str(s['answer'])[:300]}, DuckDB "
                            f"{str(want)[:300]}")
    con.close()
    log("ops checked")

    kept_n = kept.num_rows
    timed_passes = least_stolen([p for p in passes if not p["traced"]],
                                MIN_PASSES)
    timed_cycles = least_stolen([c for c in cycles if not c["traced"]], 1)
    lat_ms = [s["latency_s"] * 1e3 for c in timed_cycles
              for s in c["samples"]]
    turns = manifest["turns"]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "turns_per_s": (median([turns / p["wall_s"] for p in timed_passes]),
                        "turns/s"),
        "turns_per_cpu_s": (median([turns / p["cpu_s"]
                                    for p in timed_passes]), "turns/CPU-s"),
        "graph_bytes_per_triple": (last["sink_bytes"] / last["triples"], "B"),
        "error_share": (last["error_docs"] / kept_n, "ratio"),
        "op_p50_ms": (median(lat_ms), "ms"),
        # one KG load plus one cycle of the mix, per op
        "op_cpu_ms": ((kg_load_cpu_s
                       + median([c["cpu_s"] for c in timed_cycles]))
                      * 1e3 / CYCLE_LEN, "CPU-ms"),
    }
    layers = {
        "session.build_s": (build_s, "s"),
        "extract.first_job_s": (first_job_s, "s"),
        "kg.load_s": (kg_load_s, "s"),
        "op.samples": (len(lat_ms), "count"),
        "cpu.jvm_s": (median([p["cpu_jvm_s"] for p in passes]), "s"),
        "cpu.py_s": (median([p["cpu_py_s"] for p in passes]), "s"),
        "cpu.jit_s": (median([p["cpu_jit_s"] for p in passes]), "s"),
        "sink.files": (last["sink_files"], "count"),
        "sink.mb": (last["sink_bytes"] / 2**20, "MB"),
        "prefilter.keep_ratio": (kept_n / turns, "ratio"),
        "prefilter.yield_ratio": (rep["yielded_docs"] / kept_n, "ratio"),
    }
    if trace:
        layers.update(traced_layers(spark, filtered, kept, passes, cycles,
                                    ops, tracer))
    result = {
        "correct": not problems,
        "problems": problems[:20],
        "attempted": len(passes) + len(samples),
        "failed": min(failed, len(passes) + len(samples)),
        "end_to_end": end_to_end,
        "layers": layers,
        "manifest": manifest,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    if trace:
        traces = os.path.join(os.path.dirname(args.out), "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(
            traces, f"trace-{manifest['workload']}-{args.seed}.json"))
    stop_spark(spark)
    log("stopped")
    return 0


def traced_layers(spark, filtered, kept, passes, cycles, ops,
                  tracer) -> dict:
    """Per-layer metrics that need extra probes or the traced halves."""
    out = {}
    kept_n = kept.num_rows

    # JVM-only scan + prefilter, and a no-op Arrow round trip, over the
    # same kept rows
    jvm_s, noop_s, batches = [], [], 0
    for _ in range(3):
        t = time.perf_counter()
        filtered.count()
        jvm_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        batches = len(filtered.mapInArrow(_noop_arrow, "n long").collect())
        noop_s.append(time.perf_counter() - t)
    out["prefilter.jvm_s"] = (median(jvm_s), "s")
    out["arrow.roundtrip_s"] = (median(noop_s) - median(jvm_s), "s")
    out["arrow.batches"] = (batches, "count")

    reps = [layer_replay(kept) for _ in range(REPLAY_PASSES)]
    r = {k: median([x.get(k, 0) for x in reps]) for k in reps[0]}
    docs = r["docs"]
    us = 1e-3
    out["hostlang.us_per_doc"] = (r["hostlang_ns"] * us / docs, "us")
    out["dom.us_per_doc"] = (r["dom_ns"] * us / docs, "us")
    out["dom.us_per_kb"] = (r["dom_ns"] * us / (r["bytes"] / 1024), "us")
    out["dom.tolerant_share"] = (r.get("tolerant", 0)
                                 / max(r.get("html_docs", 0), 1), "ratio")
    edocs = max(r.get("engine_docs", 0), 1)
    out["rdfa_engine.us_per_doc"] = (r["engine_ns"] * us / edocs, "us")
    out["rdfa_engine.us_per_element"] = (r["engine_ns"] * us
                                         / r["elements"], "us")
    out["rdfa_engine.triples_per_doc"] = (r.get("raw_triples", 0) / edocs,
                                          "count")
    out["rdfa_engine.diags_per_doc"] = (r.get("diags", 0) / edocs, "count")
    out["extract.udf_us_per_doc"] = (r["udf_ns"] * us / docs, "us")
    emit_ns = r["udf_ns"] - r["hostlang_ns"] - r["dom_ns"] - r["engine_ns"]
    out["extract.emit_us_per_triple"] = (emit_ns * us / max(r["emitted"], 1),
                                         "us")
    out["extract.dedup_drop_ratio"] = (
        1 - r["emitted"] / max(r.get("raw_triples", 0), 1), "ratio")
    cpu_per_doc_us = median([p["cpu_s"] for p in passes]) / kept_n * 1e6
    out["extract.spark_cpu_ratio"] = (cpu_per_doc_us
                                      / out["extract.udf_us_per_doc"][0],
                                      "ratio")

    spans = tracer.spans
    sink_w = [s["end"] - s["start"] for s in spans
              if s["name"] == "sink.write"]
    out["sink.write_s"] = (median(sink_w), "s")
    stats = [job_group_metrics(spark, f"pass-{i}")
             for i in range(len(passes))]
    for key, unit in (("jobs", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("gc_s", "s"),
                      ("shuffle_mb", "MB"), ("task_skew", "ratio")):
        out[f"spark.{key}"] = (median([s[key] for s in stats]), unit)

    # SPARQL front end, from the traced ops' spans
    by_op = collections.defaultdict(dict)
    for s in spans:
        if s["pass"] and s["pass"].startswith("op-"):
            by_op[int(s["pass"][3:])][s["name"]] = s["end"] - s["start"]
    for kind in KINDS:
        rows = [d for i, d in by_op.items()
                if ops[i].kind == kind and "sparql.exec" in d]
        out[f"sparql.parse_ms.{kind}"] = (
            median([d["sparql.parse"] for d in rows]) * 1e3, "ms")
        out[f"sparql.plan_ms.{kind}"] = (
            median([d["sparql.call"] - d["sparql.parse"] for d in rows]) * 1e3,
            "ms")
        out[f"sparql.exec_ms.{kind}"] = (
            median([d["sparql.exec"] for d in rows]) * 1e3, "ms")
    n_traced_ops = sum(len(c["samples"]) for c in cycles if c["traced"])
    op_jobs = sum(job_group_metrics(spark, f"op-{k}-1")["jobs"]
                  for k in KINDS)
    out["sparql.jobs_per_op"] = (op_jobs / max(n_traced_ops, 1), "count")

    # tracing overhead: traced against untraced windows; the ABBA order
    # puts both halves at the same mean position in the warm-up
    def overhead(traced: list[float], untraced: list[float]) -> float:
        return (sum(traced) / len(traced) / (sum(untraced) / len(untraced))
                - 1) * 100

    out["trace.pass_overhead_pct"] = (overhead(
        [p["wall_s"] for p in passes if p["traced"]],
        [p["wall_s"] for p in passes if not p["traced"]]), "%")
    lat = {b: [median([s["latency_s"] for s in c["samples"]])
               for c in cycles if c["traced"] == b] for b in (True, False)}
    out["trace.op_overhead_pct"] = (overhead(lat[True], lat[False]), "%")
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
