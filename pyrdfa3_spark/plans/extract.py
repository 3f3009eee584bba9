"""The extraction pipeline: transcripts -> triples (+ diagnostics).

Spark-first layout (SURVEY.md §3.3):

    scan -> prefilter on the scan side: a byte test for ``<`` (a turn
            without one holds no markup, so plain prose never reaches
            the regex or its UTF-16 decode), then ``rlike`` with
            :data:`RDFA_PREFILTER`, whose cost is linear in the text
         -> ONE Arrow-batched ``mapInArrow`` UDF
            (parse + RDFa processing + per-document dedup + deterministic
            skolemization; document graphs never cross the JVM boundary)
         -> tagged union of triple rows and diagnostic rows.

``mapInArrow`` rather than ``mapInPandas``: the pandas Block/Series
construction on both sides of the worker pipe is a fixed per-batch cost
that grows with worker count in local mode (measured ~30% of wall time
at 32 workers) and buys nothing — the engine consumes plain Python
strings and emits plain lists, so we hand Arrow arrays straight through.

Per-document RDF set semantics (reference: rdflib Graph dedup,
SURVEY.md §2 E16) is applied *inside* the UDF with a Python set —
a shuffle-free dedup, because a document is always processed by exactly
one UDF call.  Cross-document global dedup, when wanted, is the separate
:func:`pyrdfa3_spark.operators.graphops.dedup_triples`.
"""

from __future__ import annotations

import functools
import hashlib
import os
import sys
from collections.abc import Iterator
from typing import Optional

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, IntegerType, StringType, StructField, StructType,
)

# cheap document-level fast path (reference: pyRdfa/parse.py:133-137 per
# node; here lifted to a scan predicate so Catalyst pushes it down —
# non-carrier turns never reach Python).  The second alternation keeps
# embedded-RDF-island-only documents (E14: <script type="text/turtle">,
# rdf:RDF in SVG) in the pipeline — they carry triples without any RDFa
# attribute.
#
# The spans after ``<`` are ``[^<>]``, not ``[^>]``, so the regex cost is
# linear in the text: with ``[^>]`` every bare ``<`` (``i < n`` in code)
# rescans up to 1,000 chars per alternative, and the spans of successive
# ``<`` overlap.  The keep set is the same: if a ``[^>]`` span from some
# ``<`` reaches the attribute, the last ``<`` before the attribute starts
# a shorter span that holds neither ``<`` nor ``>``, so the ``[^<>]``
# form matches there; the converse is immediate.
RDFA_PREFILTER = (
    "(?i)<[^<>]{0,1000}(property|typeof|about|resource|vocab|prefix|rel|rev"
    "|role|datatype)\\s*="
    "|(?i)text/turtle|<[^<>]{0,200}:RDF[\\s>]"
)

TRIPLE_SCHEMA = StructType([
    StructField("kind", StringType()),        # 't' triple | 'd' diagnostic
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("subj", StringType()),
    StructField("pred", StringType()),
    StructField("obj", StringType()),
    StructField("obj_is_iri", BooleanType()),
    StructField("obj_lang", StringType()),
    StructField("obj_datatype", StringType()),
])

_OUT_COLS = [f.name for f in TRIPLE_SCHEMA.fields]

ARROW_SCHEMA = pa.schema([
    ("kind", pa.string()),
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("subj", pa.string()),
    ("pred", pa.string()),
    ("obj", pa.string()),
    ("obj_is_iri", pa.bool_()),
    ("obj_lang", pa.string()),
    ("obj_datatype", pa.string()),
])


def _extract_batches(batches: Iterator[pa.RecordBatch],
                     hturtle_only: bool = False,
                     microdata: bool = False,
                     max_doc_bytes: Optional[int] = None
                     ) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker: one call per Arrow batch (bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch).  With ``microdata``
    the itemscope/itemprop walker runs on the same parsed DOM and its
    triples join the RDFa output — the one-pass combination the
    reference's StructuredDataParser performs (rdflibparsers.py:213-269)."""
    # imports stay inside so the function ships cleanly to executors
    from pyrdfa3_spark.functions.hostlang import (
        Host, adjust_xhtml_and_version, host_for, is_xml_host,
        sniff_media_type,
    )
    from pyrdfa3_spark.operators.microdata import extract_microdata
    from pyrdfa3_spark.operators.rdfa_engine import Literal, RDFaProcessor, is_bnode
    from pyrdfa3_spark.sources.dom import parse_html, parse_xml

    sys.setrecursionlimit(20000)  # engine recursion is depth-guarded at parse

    for batch in batches:
        rows = {c: [] for c in _OUT_COLS}

        def emit(kind, conv, turn, s, p, o, is_iri, lang, dt):
            rows["kind"].append(kind)
            rows["conv_id"].append(conv)
            rows["turn_idx"].append(turn)
            rows["subj"].append(s)
            rows["pred"].append(p)
            rows["obj"].append(o)
            rows["obj_is_iri"].append(is_iri)
            rows["obj_lang"].append(lang)
            rows["obj_datatype"].append(dt)

        for conv, turn, text in zip(batch.column("conv_id").to_pylist(),
                                    batch.column("turn_idx").to_pylist(),
                                    batch.column("text").to_pylist()):
            turn = int(turn)
            start = text.find("<")
            end = text.rfind(">")
            if start < 0 or end <= start:
                continue
            fragment = text[start:end + 1]
            if max_doc_bytes is not None and len(fragment) > max_doc_bytes:
                # web corpora carry multi-100MB spam pages; parsing one
                # is a ~linear but minutes-long straggler task, so the
                # opt-in guard skips it VISIBLY (diagnostics row, the
                # repo's no-silent-caps rule) instead of stalling a wave
                emit("d", conv, turn, "warning", "doc-too-large",
                     f"fragment {len(fragment)} bytes > "
                     f"max_doc_bytes={max_doc_bytes}; skipped",
                     None, None, None)
                continue
            base = f"http://transcript.local/{conv}/{turn}"
            media = sniff_media_type(fragment)
            host = host_for(media)
            rdfa_version = "1.1"
            if host == Host.XHTML:
                # DTD sniff may pin XHTML5 vs XHTML and RDFa 1.0 vs 1.1
                # (S5; reference host/__init__.py:174-203)
                host, rdfa_version = adjust_xhtml_and_version(
                    fragment, host, rdfa_version)
            proc = RDFaProcessor(base=base, host=host,
                                 rdfa_version=rdfa_version,
                                 hturtle_only=hturtle_only)
            pdiags: list = []
            try:
                root = (parse_xml(fragment) if is_xml_host(host)
                        else parse_html(fragment, diagnostics=pdiags))
                triples = proc.process(root)
                if microdata:
                    triples = triples + extract_microdata(root, base)
            except Exception as exc:  # per-document fault isolation
                emit("d", conv, turn, "error", type(exc).__name__,
                     str(exc)[:500], None, None, None)
                continue

            skolem_cache: dict[str, str] = {}

            def skolemize(term: str) -> str:
                # deterministic, parallelism-invariant bnode names keyed
                # on (conv_id, turn_idx, local label) — replaces the
                # reference's process-global registry
                # (pyRdfa/termorcurie.py:84-85)
                if term in skolem_cache:
                    return skolem_cache[term]
                h = hashlib.sha256(
                    f"{conv}\x1f{turn}\x1f{term}".encode()).hexdigest()[:24]
                sk = "_:sk" + h
                skolem_cache[term] = sk
                return sk

            seen = set()  # per-document RDF set semantics (E16)
            for s, p, o in triples:
                s_out = skolemize(s) if is_bnode(s) else s
                if isinstance(o, Literal):
                    key = (s_out, p, False, o.value, o.lang, o.datatype)
                    if key in seen:
                        continue
                    seen.add(key)
                    emit("t", conv, turn, s_out, p, o.value, False,
                         o.lang, o.datatype)
                else:
                    o_out = skolemize(o) if is_bnode(o) else o
                    key = (s_out, p, True, o_out, None, None)
                    if key in seen:
                        continue
                    seen.add(key)
                    emit("t", conv, turn, s_out, p, o_out, True, None, None)
            for severity, code, message in pdiags + proc.diagnostics:
                emit("d", conv, turn, severity, code, message[:500],
                     None, None, None)
        yield pa.RecordBatch.from_pydict(rows, schema=ARROW_SCHEMA)


def _relevant_turns(transcripts: DataFrame, hturtle_only: bool,
                    microdata: bool) -> DataFrame:
    """The turns that can carry triples in the given mode: the scan-side
    prefilter of :func:`extract_tagged`."""
    # in HTurtle mode only embedded-RDF islands carry triples, so the
    # relevance predicate is the island marker, not RDFa attrs;
    # microdata carriers are matched by their itemscope attribute.  The
    # ``<`` test goes first and is exact in every mode: the UDF skips a
    # text without ``<`` before any mode-specific work.  Both tests drop
    # NULL texts.
    pattern = ("(?i)text/turtle|<[^<>]*:RDF" if hturtle_only
               else RDFA_PREFILTER)
    if microdata:
        pattern += "|(?i)<[^<>]{0,1000}itemscope"
    text = F.col("text")
    return (transcripts.select("conv_id", "turn_idx", "text")
            .filter(text.contains("<") & text.rlike(pattern)))


def extract_tagged(transcripts: DataFrame,
                   hturtle_only: bool = False,
                   microdata: bool = False,
                   max_doc_bytes: Optional[int] = None) -> DataFrame:
    """transcripts -> tagged union of triples ('t') and diagnostics ('d').

    ``max_doc_bytes``: opt-in straggler guard — fragments larger than
    this are skipped with a ``doc-too-large`` diagnostics row instead of
    parsed (parse cost is ~linear at ~1 MB/s/core, so one 300 MB spam
    page otherwise pins a task for minutes).

    Extraction is embarrassingly parallel per *turn* and runs on the
    source's own splits, which are size-balanced for Iceberg/parquet
    file splits.  A caller whose input is pathologically skewed (one
    file per conversation with a 100x conversation) repartitions the
    frame on (conv_id, turn_idx) before calling.
    """
    return _relevant_turns(transcripts, hturtle_only, microdata).mapInArrow(
        functools.partial(_extract_batches, hturtle_only=hturtle_only,
                          microdata=microdata, max_doc_bytes=max_doc_bytes),
        schema=TRIPLE_SCHEMA)


def split_outputs(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the tagged union; callers that need both should persist the
    tagged frame first to avoid re-running extraction."""
    triples = tagged.filter(F.col("kind") == "t").select(
        "conv_id", "turn_idx", "subj", "pred", "obj",
        "obj_is_iri", "obj_lang", "obj_datatype")
    diags = tagged.filter(F.col("kind") == "d").select(
        "conv_id", "turn_idx",
        F.col("subj").alias("severity"),
        F.col("pred").alias("code"),
        F.col("obj").alias("message"))
    return triples, diags


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """transcripts -> triples DataFrame (diagnostics dropped)."""
    triples, _ = split_outputs(extract_tagged(transcripts))
    return triples


def conv_bucket(buckets: int) -> Column:
    """The one ``bucket(conv_id)`` transform of every bucketed layout:
    ``pmod(hash(conv_id), buckets)``.  The batch sink, the streaming
    sink and the resumable bucket runner all call it, so a row lands in
    the same bucket whichever of them wrote it."""
    return F.pmod(F.hash("conv_id"), F.lit(buckets))


def distribute_by_bucket(df: DataFrame, buckets: int) -> DataFrame:
    """``df`` plus its ``conv_bucket`` column, hash-distributed by that
    column through one AQE rebalance — Iceberg's
    ``write.distribution-mode=hash``.  A bucket goes to one writer
    task, so a partitioned write lands one file per bucket, unless it
    is larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes``:
    AQE splits such a bucket across several tasks, and coalesces small
    buckets into shared ones."""
    return (df.withColumn("conv_bucket", conv_bucket(buckets))
            .hint("rebalance", "conv_bucket"))


def write_triples(triples: DataFrame, path: str, buckets: int = 16) -> None:
    """Partitioned sink (S6).  Iceberg is the production target
    (``writeTo(...).partitionedBy(bucket(conv_id))``); this sandbox has no
    catalog, so we land parquet partitioned by an explicit conv bucket
    column — the same physical layout an Iceberg bucket transform yields.

    Rows are hash-distributed by bucket before the write
    (:func:`distribute_by_bucket`), so each write lands one file per
    ``conv_bucket=B`` directory, unless a bucket exceeds AQE's advisory
    partition size, which splits it into several files of about that
    size.  The files are in :func:`write_triple_files`' format."""
    write_triple_files(distribute_by_bucket(triples, buckets), path,
                       "conv_bucket")


def write_triple_files(df: DataFrame, path: str,
                       partition_col: str | None = None) -> None:
    """The one writer of a bucketed triple table's file format, for
    :func:`write_triples`, ``run_bucketed`` and
    :func:`compact_triples_planned`: zstd parquet sorted by (subj,
    pred) within each file.  Subject-sorted row groups give min/max
    statistics that prune subject lookups, and run-length/dictionary
    encoding compresses the repeated IRIs far better than unsorted
    rows.  ``partition_col`` leads the sort and partitions the write."""
    lead = [partition_col] if partition_col else []
    w = (df.sortWithinPartitions(*lead, "subj", "pred")
         .write.mode("overwrite").option("compression", "zstd"))
    (w.partitionBy(partition_col) if partition_col else w).parquet(path)


def _finish_compaction_swap(staging: str) -> bool:
    """Complete (or discard) a staged group rewrite.  With a journal
    present the rewrite is VERIFIED — deleting the inputs and moving
    the outputs is idempotent, so a crash anywhere in the swap is
    repaired by re-running this; without one the staged copy is
    unverified and is discarded.  Returns True if a swap was
    completed."""
    import json
    import shutil

    journal = os.path.join(staging, "_compact_journal.json")
    if not os.path.isfile(journal):
        shutil.rmtree(staging)
        return False
    with open(journal) as fh:
        j = json.load(fh)
    for p in j["inputs"]:
        if os.path.isfile(p):
            os.remove(p)
    for src, dst in j["outputs"].items():
        if os.path.isfile(src):
            os.replace(src, dst)
    shutil.rmtree(staging)
    return True


def compact_triples_planned(spark, path: str,
                            target_bytes: int = 128 * 1024 * 1024,
                            min_group_files: int = 2) -> dict:
    """Small-file compaction for a :func:`write_triples` /
    ``run_bucketed`` table: incremental per-bucket appends accumulate
    many small parquet files, and the scan's task count (and the
    manifest pressure) grows with FILE count, not data size.

    The grouping decision runs through the DISTRIBUTED binpack planner
    (:func:`pyrdfa3_spark.plans.maintenance.compaction_plan` — the
    two-phase prefix sum, no global window), and each resulting bin
    rewrites as one group.  A lake-scale listing is tens of millions
    of files, so the who-joins-which-rewrite decision must not be a
    driver-side loop over directories — only the final rewrite
    WORKLIST (one row per bin, manifest-scale) is collected.

    Files stay inside their partition: path order groups a
    partition's files contiguously, and a bin straddling a partition
    boundary splits into one rewrite group per partition, so no
    rewrite ever mixes partitions.  Each group reads exactly its
    member files, re-sorts by ``(subj, pred)`` (keeps the min/max
    stats pruning), and lands as ONE ~``target_bytes`` file.

    Crash safety (Iceberg ``rewrite_data_files`` emulated without a
    catalog): outputs stage into a sibling directory; after the row
    count verifies, a single journal file records inputs-to-delete
    and outputs-to-move, and only then does the swap run —
    delete-inputs / move-outputs are both idempotent, and any
    leftover staging directory found on the next run is completed
    (journal present = verified) or discarded (no journal =
    unverified) by :func:`_finish_compaction_swap`.  Lineage
    manifests (``_lineage/``) describe bucket INPUT fingerprints and
    are untouched.

    Returns {"groups": {(partition, bin): {files_before, rows}},
    "repaired": n} — ``repaired`` counts crashed prior swaps this
    run completed.
    """
    import json
    import shutil
    import uuid

    from pyrdfa3_spark.plans.maintenance import compaction_plan

    # repair FIRST, list SECOND — a journaled crashed swap still has
    # its inputs on disk, and a partition dir ("conv_bucket=3") sorts
    # before its own staging dir ("conv_bucket=3.bin….compacting"),
    # so an interleaved single pass would list input files the repair
    # is about to delete and the binpack plan would group dead paths
    repaired = 0
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if d.endswith(".compacting") and os.path.isdir(full):
            repaired += int(_finish_compaction_swap(full))
    listing = []
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if not (d.startswith("conv_bucket=") and os.path.isdir(full)):
            continue
        for f in sorted(os.listdir(full)):
            if f.endswith(".parquet") and not f.startswith("."):
                fp = os.path.join(full, f)
                listing.append((fp, os.path.getsize(fp), d))
    report: dict = {"groups": {}, "repaired": repaired}
    if not listing:
        return report
    files_df = spark.createDataFrame(
        listing, "path string, bytes bigint, part string")
    plan = compaction_plan(files_df.select("path", "bytes"),
                           target_bytes=target_bytes)
    groups = (plan.join(files_df.select("path", "part"), "path")
              .groupBy("part", "bin")
              .agg(F.sort_array(F.collect_list("path")).alias("paths"),
                   F.count(F.lit(1)).alias("n_files"))
              .filter(F.col("n_files") >= min_group_files)
              .orderBy("part", "bin")
              .collect())
    for row in groups:
        part, bin_, paths = row["part"], row["bin"], row["paths"]
        df = spark.read.parquet(*paths)
        n_before = df.count()
        staging = os.path.join(
            path, f"{part}.bin{bin_}.{uuid.uuid4().hex[:8]}.compacting")
        write_triple_files(df.coalesce(1), staging)
        staged = [f for f in os.listdir(staging)
                  if f.endswith(".parquet") and not f.startswith(".")]
        n_after = spark.read.parquet(staging).count()
        if n_after != n_before:
            shutil.rmtree(staging)
            raise RuntimeError(
                f"compaction group {part}/bin{bin_} would change row "
                f"count ({n_before} -> {n_after}); inputs untouched")
        outputs = {
            os.path.join(staging, f):
            os.path.join(path, part,
                         f"compact-bin{bin_:06d}-"
                         f"{uuid.uuid4().hex[:8]}.parquet")
            for f in staged}
        journal = {"inputs": list(paths), "outputs": outputs}
        with open(os.path.join(staging, "_compact_journal.json"),
                  "w") as fh:
            json.dump(journal, fh)
        _finish_compaction_swap(staging)
        report["groups"][(part, int(bin_))] = {
            "files_before": len(paths), "rows": n_before}
    return report
